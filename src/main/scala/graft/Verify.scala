package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // optional query-name filter (dev use)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Driver hash-contract guard: the driver's value hasher rejects any
    // numeric value outside int64 even when both engines agree on it —
    // that is exactly how r5's ta_chunks/ta_scrub/ta_prepare went red at
    // the driver while every LOCAL sweep was green (HUGEINT-range
    // DECIMAL(38,0) checksums, tools/check_oracle.py:55-62 had recorded
    // the class since round 1). Enforce the contract HERE so a local
    // Verify can never green-light what the driver will reject: any
    // decimal column wide enough to escape int64 must prove its values
    // fit, or the query's output is deleted (→ a loud red row locally).
    def assertInt64(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{abs, col, max}
      import org.apache.spark.sql.types.DecimalType
      val wide = df.schema.fields.collect {
        case f if (f.dataType match {
              case d: DecimalType => d.precision - d.scale > 18
              case _ => false
            }) => f.name
      }
      if (wide.nonEmpty) {
        val lim = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63))
        val maxes = df.select(wide.map(c => max(abs(col(c))).as(c)).toSeq: _*).head()
        val bad = wide.zipWithIndex.collect {
          case (c, i) if maxes.getDecimal(i) != null &&
            maxes.getDecimal(i).compareTo(lim) >= 0 =>
            s"$c=${maxes.getDecimal(i)}"
        }
        if (bad.nonEmpty) throw new IllegalStateException(
          s"driver hash contract violated — numeric output exceeds int64: " +
            bad.mkString(", "))
      }
    }

    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = s"$outDir/$name"
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
        try assertInt64(name, graft.sources.Tables.readParquet(spark, out))
        catch { case e: IllegalStateException =>
          // delete the output so the local DuckDB sweep shows a missing
          // (red) row instead of a value-equal comparison that the
          // driver's hasher would still fail
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
          throw e
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist() shared subplans (gram/paragraph/bigram
      // tables); drop them after each query (as Bench does) or
      // corpus-sized caches pinned at MEMORY_AND_DISK accumulate across
      // the remaining ~120 queries of the sweep
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
