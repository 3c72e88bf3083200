package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the harness-provided parquet star schema (TESTDATA.md).
  *
  * All reads go through [[readParquet]], a plain parquet scan, so
  * Catalyst pushes filters and prunes columns down to the scan — at
  * 100 TB the scan cost is the dominant term and these two properties
  * are what keep it linear in the columns/rows actually needed, not in
  * table size.
  */
object Tables {
  /** `spark.read.options(options).parquet(paths: _*)`, with the schema
    * read from one footer on the driver instead of by Spark's inference
    * job ([[FooterSchema]]: the same footer, the same answer). Where
    * that answer might differ, the read is Spark's own, inference job
    * and error included. */
  def readParquet(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): DataFrame = {
    val reader = spark.read.options(options)
    FooterSchema.infer(spark, paths, options) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, Seq(path), Map.empty)

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    // served from the memoized scope: one driver-side footer read per
    // (session, dir, table) for the whole process, not one per query. A
    // dir that is not a full star schema (scope build fails) degrades to
    // a direct read.
    try scope(spark, dir).getOrElse(name, loadUncached(spark, dir, name))
    catch { case _: Exception => loadUncached(spark, dir, name) }

  private def loadUncached(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    // The events.ts parquet physical type has changed across generator
    // versions — TIMESTAMP(NANOS) (readable only as a raw Long under
    // spark.sql.legacy.parquet.nanosAsLong) vs plain timestamp[us]. The
    // surface contract here is constant regardless: a µs TimestampType
    // `ts` plus an exact epoch-nanos Long `ts_nanos` that event-time
    // operators (as-of/range joins, sessionize) key on. Integer `div` /
    // `* 1000` — a double roundtrip would lose precision at 1e18 ns.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") withTsNanos(df, df.schema("ts").dataType)
    else df
  }

  /** Normalize an events frame to the (ts: timestamp, ts_nanos: long)
    * pair from whatever physical type the file footer declares. Failing
    * loudly on an unknown type is deliberate: a schema drift that slips
    * past this match would otherwise surface as silently wrong answers
    * (the round-8 streaming failure mode). */
  private[graft] def withTsNanos(df: DataFrame, tsType: DataType): DataFrame =
    tsType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as raw nanos
        df.withColumnRenamed("ts", "ts_nanos")
          .withColumn("ts", expr("timestamp_micros(ts_nanos div 1000)"))
      case TimestampType => // timestamp[us], UTC-adjusted
        df.withColumn("ts_nanos", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        // timestamp[us] with isAdjustedToUTC=false — Spark 4 infers NTZ.
        // Every session here pins spark.sql.session.timeZone=UTC, so the
        // NTZ→LTZ cast reinterprets the wall clock as UTC exactly like
        // the DuckDB oracle reading the same naive timestamps.
        df.withColumn("ts", expr("cast(ts as timestamp)"))
          .withColumn("ts_nanos", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other; expected " +
            "TIMESTAMP(NANOS)-as-long or timestamp[us]")
    }

  /** Load every table of the star schema as a scope Map (framequery's
    * name→DataFrame dict, reference src/framequery/executor/_executor.py:37-96).
    *
    * Memoized per (session, dir): a DataFrame is an immutable plan, and
    * building this scope costs ten listings and ten footer reads, all on
    * the driver ([[readParquet]]; no Spark job) — the dialect queries
    * (`fq_*`) each construct a scope, so without the memo a bench/verify
    * sweep pays that footer IO hundreds of times.
    * Values re-read the files at every execution as usual; only the
    * schema is pinned, matching the read-only testdata contract. */
  private val scopeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      Map[String, DataFrame]]()

  def scope(spark: SparkSession, dir: String): Map[String, DataFrame] =
    scopeCache.computeIfAbsent((spark, dir),
      _ => all.map(n => n -> loadUncached(spark, dir, n)).toMap)

  /** Register all tables as temp views for spark.sql use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
