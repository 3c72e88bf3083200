package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.exec.Executor
import graft.parser.Parser
import graft.server.PgWireServer
import graft.sources.Tables

/** One unit of work the benchmark times.
  *  - `wire`: dialect SQL sent over the Postgres wire;
  *  - `query`: a `SparkEntry.queries` registry entry, materialised to rows;
  *  - `script`: a dialect session script run in-process, statement by
  *    statement; the last statement is a SELECT whose rows are checked,
  *    `target` is the table the script rewrites. */
final case class Stmt(id: String, kind: String, sql: String, name: String,
    script: Seq[String], target: String)

object Stmt {
  def from(m: Map[String, Any]): Stmt = Stmt(
    m("id").toString, m("kind").toString,
    m.get("sql").map(_.toString).orNull, m.get("name").map(_.toString).orNull,
    m.get("script").map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Nil),
    m.get("target").map(_.toString).orNull)
}

/** What one statement did: wall-clock start (epoch ms), latency, answer
  * fingerprint, error. Wire statements also carry the client's message
  * timings and the bytes received. */
final case class Rec(id: String, startMs: Double, latMs: Double, rows: Long,
    hash: String, error: String, firstRowMs: Double = -1, bytes: Long = 0) {
  def toMap: Map[String, Any] = Map("id" -> id, "start_ms" -> startMs,
    "lat_ms" -> latMs, "rows" -> rows, "hash" -> hash, "error" -> error,
    "first_row_ms" -> firstRowMs, "bytes" -> bytes)
}

object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Json.readFile(args(0)).asInstanceOf[Map[String, Any]]
    val code =
      try { new Bench(cfg).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

/** The in-JVM half of the benchmark: set up the session, run the timed
  * phase, and with tracing on run the same statements again with spans
  * and listeners. Writes one JSON
  * result file; the Python runner checks answers and derives metrics. */
final class Bench(cfg: Map[String, Any]) {
  private def str(k: String) = cfg(k).toString
  private def num(k: String) = cfg(k).asInstanceOf[Number].doubleValue
  private def stmts(k: String) =
    cfg(k).asInstanceOf[Seq[Any]].map(m => Stmt.from(m.asInstanceOf[Map[String, Any]]))

  val workload: String = str("workload")
  val trace: Boolean = cfg("trace") == true
  val cpus: Int = num("cpus").toInt
  val dataDir: String = str("data_dir")
  val workDir: String = str("work_dir")
  val wire: Boolean = workload == "wire_short"
  val warmup: Seq[Stmt] = stmts("warmup")
  val passes: Seq[Seq[Stmt]] = cfg("passes").asInstanceOf[Seq[Any]].map(p =>
    p.asInstanceOf[Seq[Any]].map(m => Stmt.from(m.asInstanceOf[Map[String, Any]])))
  private val byId: Map[String, Stmt] = (passes.flatten ++ warmup).map(s => s.id -> s).toMap

  private val registry = graft.SparkEntry.queries
  var spark: SparkSession = _
  var scope: Map[String, DataFrame] = _
  var server: PgWireServer = _
  var clients: Seq[PgClient] = Nil
  private var tracer: Option[Tracer] = None
  private val planNodes = mutable.ArrayBuffer.empty[Int]
  private var outputRows = 0L

  def session(): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()

  /** The set-up, in seconds from the launch of the JVM (epoch ms
    * `launchMs`) to the first timed statement: session with
    * GraftExtensions, the scope, for the wire the server bind and client
    * connects, then the untimed warm-up. */
  def setUp(launchMs: Double): Double = {
    val marks = mutable.ArrayBuffer("start" -> System.currentTimeMillis())
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    marks += "session" -> System.currentTimeMillis()
    scope = Tables.scope(spark, dataDir)
    marks += "scope" -> System.currentTimeMillis()
    if (wire) {
      server = new PgWireServer(spark, scope)
      clients = (1 to num("connections").toInt).map(_ => new PgClient(server.boundPort))
      marks += "connect" -> System.currentTimeMillis()
    }
    if (wire) warmup.zipWithIndex.foreach { case (s, i) => clients(i % clients.size).query(s.sql) }
    else warmup.foreach(timeInProcess)
    // each timed phase starts from a collected heap
    System.gc()
    marks += "warmup" -> System.currentTimeMillis()
    System.err.println(s"[perfbench] set-up: from launch ${marks.head._2 - launchMs.toLong} ms, " +
      marks.zip(marks.drop(1)).map { case ((_, a), (n, b)) => s"$n ${b - a} ms" }.mkString(", "))
    (System.currentTimeMillis() - launchMs) / 1000.0
  }

  def tearDown(): Unit = {
    clients.foreach(_.close())
    if (server != null) server.close()
    spark.stop()
  }

  // ---------------------------------------------------------- statements

  private def layer[A](name: String, layerName: String, id: String)(body: => A): A =
    tracer match {
      case Some(t) => t.layer(name, layerName, id)(body)
      case None => body
    }

  /** Materialise a final DataFrame. Traced, the optimiser, the planner
    * and execution are forced one after the other so each gets a span;
    * `collect` reuses the planned QueryExecution. */
  private def materialise(df: DataFrame, id: String, jobLayer: Option[String] = None): Array[Row] =
    tracer match {
      case None => df.collect()
      case Some(t) =>
        def l(n: String) = jobLayer.getOrElse(n)
        t.layer("optimizer", l("optimizer"), id)(df.queryExecution.optimizedPlan)
        t.layer("planner", l("planner"), id)(df.queryExecution.executedPlan)
        val rows = t.layer("execution", l("execution"), id)(df.collect())
        outputRows += rows.length
        rows
    }

  private def compileSql(ex: Executor, sql: String, id: String,
      jobLayer: Option[String] = None): DataFrame = {
    tracer.foreach(t => t.layer("parser", jobLayer.getOrElse("parser"), id)(Parser.parse(sql)))
    layer("compiler", jobLayer.getOrElse("compiler"), id)(ex.compileQuery(sql))
      .getOrElse(throw new IllegalArgumentException(s"not a query: $sql"))
  }

  /** Run one in-process query; returns column names and rows. */
  private def runInProcess(s: Stmt): (Seq[String], Array[Row]) = s.kind match {
    case "query" =>
      val fn = registry(s.name)
      val df =
        if (s.name.startsWith("fq_")) layer("compiler.build", "compiler", s.id)(fn(spark, dataDir))
        else layer("operators.build", "operators", s.id)(fn(spark, dataDir))
      (df.columns.toSeq, materialise(df, s.id))
    case "wire" =>
      // in-process replay of a wire statement, on its own session Executor
      val df = compileSql(replayExecutor, s.sql, s.id, Some("replay"))
      (df.columns.toSeq, materialise(df, s.id, Some("replay")))
  }

  private lazy val replayExecutor = new Executor(spark, scope)

  private def timed(id: String)(body: => (Seq[String], Array[Row])): Rec = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val (cols, rows) = layer("stmt", "stmt", id)(body)
      val lat = (System.nanoTime() - t0) / 1e6
      val (n, hash) = Canon.ofRows(cols, rows)
      Rec(id, startMs, lat, n, hash, null)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Rec(id, startMs, (System.nanoTime() - t0) / 1e6, 0, "", String.valueOf(e.getMessage).take(300))
    }
  }

  /** A DML session script, one timed statement per SQL statement, on a
    * fresh Executor whose COPY base directory is private to the run. The
    * last statement is the read-back SELECT. Statement `k` of script
    * `d3` has id `d3.k`. */
  private def timeScript(s: Stmt): Seq[Rec] = {
    val ex = new Executor(spark, scope)
    val base = new java.io.File(s"$workDir/dml/${s.id}")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    ex.setBasepath(base.getPath)
    val recs = s.script.zipWithIndex.map { case (sql, k) =>
      val id = s"${s.id}.$k"
      if (k < s.script.size - 1) timed(id) {
        tracer.foreach(t => t.layer("parser", "parser", id)(Parser.parse(sql)))
        layer("exec.dml", "exec", id)(ex.execute(sql))
        (Nil, Array.empty[Row])
      } else timed(id) {
        val df = compileSql(ex, sql, id)
        (df.columns.toSeq, materialise(df, id))
      }
    }
    if (tracer.isDefined)
      planNodes += ex.table(s.target).map(_.queryExecution.logical.collect { case n => n }.size).getOrElse(0)
    recs
  }

  private def timeInProcess(s: Stmt): Seq[Rec] =
    if (s.kind == "script") timeScript(s)
    else try Seq(timed(s.id)(runInProcess(s)))
    finally {
      // operators persist shared sub-plans; release them between items
      if (s.kind == "query") spark.catalog.clearCache()
    }

  // -------------------------------------------------------------- phases

  /** In-process closed loop, one caller: every pass in order. */
  private def inProcessPhase(): (Seq[Rec], Double) = {
    val t0 = System.nanoTime()
    val recs = passes.flatten.flatMap(timeInProcess)
    (recs, (System.nanoTime() - t0) / 1e9)
  }

  /** Wire closed loop: each connection sends the next statement of the
    * list when its previous reply is complete. */
  private def wirePhase(): (Seq[Rec], Double) = {
    val list = passes.flatten
    val next = new AtomicInteger(0)
    val recs = java.util.Collections.synchronizedList(new java.util.ArrayList[Rec]())
    val t0 = System.nanoTime()
    val threads = clients.map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < list.size) {
          val s = list(i)
          val startMs = System.currentTimeMillis().toDouble
          val r = c.query(s.sql)
          tracer.foreach { t =>
            t.spans.add("wire", s.id, r.sentNs, r.completeNs)
            if (r.firstRowNs > 0) t.spans.add("server.first_row", s.id, r.sentNs, r.firstRowNs)
          }
          recs.add(Rec(s.id, startMs, (r.completeNs - r.sentNs) / 1e6, r.rows, r.hash,
            r.error.orNull, if (r.firstRowNs > 0) (r.firstRowNs - r.sentNs) / 1e6 else -1,
            r.bytes))
          i = next.getAndIncrement()
        }
      }, "perfbench-client")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (recs.asScala.toSeq.sortBy(_.startMs), (System.nanoTime() - t0) / 1e9)
  }

  private def timedPhase() = if (wire) wirePhase() else inProcessPhase()

  // ----------------------------------------------------------------- run

  def run(): Unit = {
    val setupS = setUp(num("launch_epoch_ms"))
    val (recs, wallS) = timedPhase()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "setup_s" -> setupS, "timed_s" -> wallS,
      "statements" -> recs.map(_.toMap))

    if (trace) {
      // the same statements once more without tracing, so that the
      // untraced baseline of the tracing overhead is as warm as the
      // traced phase that follows it
      val (baseline, _) = timedPhase()
      val t = new Tracer(spark, workload)
      tracer = Some(t)
      t.start()
      // the traced phase runs the same statements again
      val (tRecs, tWallS) = timedPhase()
      if (wire) t.closePlans()
      val replay =
        if (!wire) Nil
        else tRecs.take(num("replay_limit").toInt).flatMap(r => timeInProcess(byId(r.id)))
      val connects = if (wire) (1 to 5).map { _ =>
        val c = new PgClient(server.boundPort); c.close(); c.connectNs / 1e6
      } else Nil
      t.stop()
      tracer = None
      t.spans.write(str("spans_out"))
      out("traced") = Map("statements" -> tRecs.map(_.toMap), "timed_s" -> tWallS,
        "replay" -> replay.map(_.toMap))
      out("layers") = Layers(t, tRecs, replay, baseline, connects, planNodes.toSeq,
        outputRows, wire) + ("jvm.rss_peak_mb" -> peakRssMb())
    }
    out("peak_rss_mb") = peakRssMb()
    out("oracle_sql") = {
      val names = byId.values.filter(_.kind == "query").map(_.name).toSet
      graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    }
    tearDown()
    val w = new java.io.PrintWriter(str("out"), "UTF-8")
    try w.print(Json.write(out)) finally w.close()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
