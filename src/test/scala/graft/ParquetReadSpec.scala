package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{FooterSchema, ListenerBusProbe}
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Executor
import graft.sources.Tables

/** [[Tables.readParquet]] answers what `spark.read.parquet` answers — the
  * same schema, or the same exception class — while reading the footer
  * on the driver where it can, and starts no Spark job to do so. */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def tmp(): Path = Files.createTempDirectory("graft_pread")

  private def write(df: DataFrame, dir: Path): String = {
    df.write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  /** The reader and Spark agree on `paths`; `footer` says whether the
    * reader read the footer itself (false: it left the read to Spark). */
  private def same(paths: Seq[String], footer: Boolean,
      options: Map[String, String] = Map.empty): Unit = {
    def attempt(read: => DataFrame): Either[Class[_], String] =
      try Right(read.schema.json)
      catch { case e: Exception => Left(e.getClass) }
    val ours = attempt(Tables.readParquet(spark, paths, options))
    val theirs = attempt(spark.read.options(options).parquet(paths: _*))
    assert(ours == theirs)
    assert(FooterSchema.infer(spark, paths, options).isDefined == footer)
  }

  /** `f`'s result and the jobs it started, counted by a listener after
    * the bus drains. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusProbe.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { val r = f; ListenerBusProbe.drain(spark); (r, jobs.get()) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a single file") {
    same(Seq(s"$sf/lineitem.parquet"), footer = true)
  }

  test("a directory of part files next to _SUCCESS, .crc and stats files") {
    val d = tmp()
    write(spark.range(100).selectExpr("id", "cast(id as string) s")
      .repartition(4), d)
    Files.writeString(d.resolve("_graft_stats.json"), "{}")
    assert(Files.exists(d.resolve("_SUCCESS")))
    assert(Files.list(d).toArray.exists(_.toString.endsWith(".crc")))
    same(Seq(d.toString), footer = true)
  }

  test("hive-partitioned directories, one and two levels deep") {
    val d = tmp()
    spark.range(40).selectExpr("id", "id % 2 as a", "id % 3 as b")
      .write.partitionBy("a").parquet(d.resolve("one").toString)
    spark.range(40).selectExpr("id", "id % 2 as a", "cast(id % 3 as string) b")
      .write.partitionBy("a", "b").parquet(d.resolve("two").toString)
    same(Seq(d.resolve("one").toString), footer = true)
    same(Seq(d.resolve("two").toString), footer = true)
    val leaves = Files.walk(d.resolve("two")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    same(leaves, footer = true,
      Map("basePath" -> d.resolve("two").toString))
  }

  test("two directories with different schemas: the path-sorted first " +
      "file wins, and mergeSchema is left to Spark") {
    val d = tmp()
    val a = write(spark.range(5).selectExpr("id", "'x' as s"), d.resolve("a"))
    val b = write(spark.range(5).selectExpr("cast(id as int) n", "1.5 as v"),
      d.resolve("b"))
    same(Seq(b, a), footer = true)
    same(Seq(a, b), footer = true)
    assert(Tables.readParquet(spark, Seq(b, a), Map.empty).columns.toSeq ==
      Seq("id", "s"))
    same(Seq(a, b), footer = false, Map("mergeSchema" -> "true"))
  }

  test("a data column named like a partition directory is left to Spark") {
    val d = tmp()
    write(spark.range(6).selectExpr("cast(id as int) p", "id"),
      d.resolve("p=1"))
    same(Seq(d.toString), footer = false)
  }

  test("an empty directory and a non-parquet first file fail as in Spark") {
    val empty = tmp()
    same(Seq(empty.toString), footer = false)
    val d = tmp()
    write(spark.range(3).toDF("id"), d.resolve("t"))
    Files.writeString(d.resolve("t").resolve("a.txt"), "not parquet")
    same(Seq(d.resolve("t").toString), footer = false)
  }

  test("events with spark.sql.legacy.parquet.nanosAsLong on") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try same(Seq(s"$sf/events.parquet"), footer = true)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("COPY ... FROM a parquet directory starts no job") {
    val d = tmp()
    write(spark.range(50).selectExpr("id", "id * 2 as v").repartition(4),
      d.resolve("src"))
    val exec = new Executor(spark)
    val (_, jobs) = jobsDuring(exec.execute(
      s"COPY t FROM '${d.resolve("src")}' WITH (format 'parquet')"))
    assert(jobs == 0)
    assert(exec.query("select sum(v) as s from t").head().getLong(0) == 2450L)
  }

  test("building the scope of a fresh star schema starts no job") {
    val d = tmp()
    Files.list(Paths.get(sf))
      .forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    val (scope, jobs) = jobsDuring(Tables.scope(spark, d.toString))
    assert(jobs == 0)
    assert(scope.keySet == Tables.all.toSet)
    assert(scope("events").columns.contains("ts_nanos"))
  }
}
