package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.BooleanType

/** Build/probe sub-timings for the lifecycle-heavy driver gates.
  *
  * The ix_ and fq_optimize gates rewrite a full table (CTAS, Z-order,
  * manifest build) before probing it — so their end-to-end bench number
  * is dominated by the REWRITE, and a pruning regression on the probe
  * side would hide inside it (VERDICT r13 #7). Each gate records its
  * build phase (table + manifest construction) and probe phase (pruned
  * read + aggregate, executed inside the gate) here; [[graft.Bench]]
  * publishes per-phase p50/min alongside the end-to-end timings, and
  * the probe p50s ride the compact driver line. The registry is
  * additive across a bench's repeated runs — consumers take
  * medians/minima over the recorded samples.
  */
object GateTimings {
  private val samples = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Vector[Double]]()

  def record(gate: String, phase: String, sec: Double): Unit =
    samples.merge((gate, phase), Vector(sec), (a, b) => a ++ b)

  /** Time `f`, record it under (gate, phase), return its result. */
  def timed[T](gate: String, phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    record(gate, phase, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Execute the (small, already-aggregated) frame NOW and re-wrap the
    * rows so the caller's later materialization is free — the probe
    * phase must run inside the gate for its timing to mean anything. */
  def materialize(df: DataFrame): DataFrame = withFlags(df, df.collect())

  /** `rows`, already collected from `df`, re-wrapped with one constant
    * non-null boolean column appended per flag: a gate that collected
    * its probe to measure it (e.g. the files it opened) answers from
    * those rows instead of running the probe a second time. */
  def withFlags(df: DataFrame, rows: Array[Row],
      flags: (String, Boolean)*): DataFrame = {
    val schema = flags.foldLeft(df.schema) { case (s, (name, _)) =>
      s.add(name, BooleanType, nullable = false)
    }
    val flagged = rows.map(r => Row.fromSeq(r.toSeq ++ flags.map(_._2)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(flagged: _*), schema)
  }

  /** (gate, phase) -> recorded seconds, oldest first. */
  def snapshot: Map[(String, String), Vector[Double]] = {
    import scala.jdk.CollectionConverters._
    samples.asScala.toMap
  }

  def clear(): Unit = samples.clear()
}
