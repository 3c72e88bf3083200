package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Money sums stay exact past 10^16, where a DECIMAL(18,2) sum buffer
  * overflows: NULL with ANSI off, an error with ANSI on. Runs
  * q_global_agg and q_rolling_7d over synthetic tables whose sums reach
  * 1.5×10^16. */
class DecimalHeadroomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val n = 30000
  private val v = BigDecimal("500000000000.25")
  private val expected = (v * n).toDouble // 15000000000007500, exact

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_headroom").toString
    spark.range(n).selectExpr("id as o_orderkey", "id % 7 as o_custkey",
        "'F' as o_orderstatus", "'1-URGENT' as o_orderpriority",
        s"cast($v as double) as o_totalprice")
      .write.parquet(s"$d/orders.parquet")
    // one user, one instant: every row's trailing week holds all n values
    spark.range(n).selectExpr("id as event_id", "1L as user_id",
        "'click' as event_type", s"cast($v as double) as value",
        "timestamp'2024-01-01 00:00:00' as ts")
      .write.parquet(s"$d/events.parquet")
    d
  }

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  for (ansi <- Seq(true, false)) {
    test(s"q_global_agg sums past 10^16 exactly (ansi=$ansi)") {
      val r = withAnsi(ansi)(SparkEntry.queries("q_global_agg")(spark, dir)
        .select("total").head())
      assert(!r.isNullAt(0) && r.getDouble(0) == expected, s"total = $r")
    }

    test(s"q_rolling_7d window sums past 10^16 exactly (ansi=$ansi)") {
      val vals = withAnsi(ansi)(SparkEntry.queries("q_rolling_7d")(spark, dir)
        .select("val_7d").distinct().collect())
      assert(vals.length == 1 && !vals.head.isNullAt(0) &&
        vals.head.getDouble(0) == expected, vals.mkString(", "))
    }
  }
}
