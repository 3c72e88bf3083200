package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.ListenerBusProbe
import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Time, plan or show `SparkEntry.queries`, one layer at a time:
  *
  *   runMain graft.tools.Profile <names> [runs] [--plan DIR] [--rows N]
  *
  * `names` is a comma-separated list of `SparkEntry.queries` names or
  * name prefixes (`fq_` selects the family, `all` every query); the
  * queries run in order in one [[GraftSession]] on `SPARK_GRAFT_SF_DIR`.
  * Each run (default 3) prints one JSON line of [[Run]]. `--plan` writes
  * the formatted EXPLAIN to `DIR/<query>.txt`; `--rows` prints the first
  * N rows to stderr, outside the measured runs. */
object Profile {

  /** One measured run. The build is the call of the query function:
    * fixture writes, model training, recursive-CTE iterations and stream
    * runs happen there, as `preplanJobs`. `optimizeMs` and `planMs` force
    * the DataFrame's optimized and physical plans; `executeMs` is a
    * `noop` write, as [[graft.Bench]] times a query, and `execJobs`
    * counts every job started after the build. */
  final case class Run(query: String, run: Int, buildMs: Double,
      preplanJobs: Int, optimizeMs: Double, planMs: Double,
      executeMs: Double, execJobs: Int) {
    def json: String =
      f"""{"query":"$query","run":$run,"build_ms":$buildMs%.1f,""" +
        f""""preplan_jobs":$preplanJobs,"optimize_ms":$optimizeMs%.1f,""" +
        f""""plan_ms":$planMs%.1f,"execute_ms":$executeMs%.1f,""" +
        f""""exec_jobs":$execJobs}"""
  }

  /** The queries `names` selects, in argument order: `all`, an exact
    * name, else every query with that prefix. */
  def select(names: String): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    names.split(",").toSeq.filter(_.nonEmpty).flatMap { n =>
      if (n == "all") all
      else if (all.contains(n)) Seq(n)
      else all.filter(_.startsWith(n)) match {
        case Seq() => sys.error(s"no query named or prefixed '$n'")
        case hits => hits
      }
    }.distinct
  }

  /** Measure one run of `name`. `inspect` sees the DataFrame after the
    * run, before the session's cache is cleared. */
  def measure(spark: SparkSession, sfDir: String, name: String, run: Int = 1,
      inspect: DataFrame => Unit = _ => ()): Run = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def jobsSoFar(): Int = { ListenerBusProbe.drain(spark); jobs.getAndSet(0) }
    // earlier jobs' events still queued would reach the new listener
    ListenerBusProbe.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      var t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val buildMs = ms(t0)
      val preplanJobs = jobsSoFar()
      t0 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val optimizeMs = ms(t0)
      t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val planMs = ms(t0)
      t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val executeMs = ms(t0)
      val measured = Run(name, run, buildMs, preplanJobs, optimizeMs,
        planMs, executeMs, jobsSoFar())
      inspect(df)
      measured
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      // operators persist() shared subplans: drop them between runs, as
      // Bench does, so every run pays the full plan
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val isFlag = (i: Int) => i >= 0 && args(i).startsWith("--")
    def flag(f: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`f`, v) => v }
    val positional = args.indices.filterNot(i => isFlag(i) || isFlag(i - 1))
      .map(args(_))
    val names = select(positional.head)
    val runs = positional.lift(1).map(_.toInt).getOrElse(3)
    val planDir = flag("--plan")
    val rows = flag("--rows").map(_.toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    // build the memoized scope once here, as Bench's warm-up does, so
    // its listings and footer reads are not in the first query's build
    Tables.scope(spark, sfDir)
    // a query's plan and rows, taken once, after its first run
    def inspect(name: String)(df: DataFrame): Unit = {
      planDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)))
      rows.foreach { n =>
        System.err.println(s"=== $name ===")
        Console.withOut(System.err)(df.show(n, truncate = false))
      }
    }
    names.foreach { name =>
      try (1 to runs).foreach { i =>
        println(measure(spark, sfDir, name, i,
          if (i == 1) inspect(name) else _ => ()).json)
      } catch { case e: Exception =>
        val msg = JsonStringEncoder.getInstance
          .quoteAsString(String.valueOf(e.getMessage)).mkString
        println(s"""{"query":"$name","error":"$msg"}""")
      }
    }
    spark.stop()
  }
}
