package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are
  * `System.nanoTime`; `stmt` ties every span of one statement together. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, workload: String, stmt: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until [[write]] at the end of the run. */
final class Spans(workload: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private var nextId = 0

  def record[A](name: String, stmt: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { done += Span(id, parent, name, t0, t1, workload, stmt) }
    }
  }

  /** A span whose interval was measured elsewhere (the wire client). */
  def add(name: String, stmt: String, startNs: Long, endNs: Long): Unit = synchronized {
    nextId += 1
    done += Span(nextId, 0, name, startNs, endNs, workload, stmt)
  }

  def all: Seq[Span] = synchronized(done.toList)

  /** Self time of every span, by id: the span minus the part of it its
    * child spans cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      var covered = 0L
      var upTo = s.startNs
      kids.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { k =>
        val lo = math.max(k.startNs, upTo)
        if (k.endNs > lo) { covered += k.endNs - lo; upTo = k.endNs }
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.write(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "workload" -> s.workload,
        "stmt" -> s.stmt)))
    } finally w.close()
  }
}

/** Per-phase counters of the Spark work the traced run observes. The
  * phase of a job is the `perfbench.phase` local property of the thread
  * that submitted it, `<layer>|<statement id>`; jobs submitted by the
  * wire server's connection threads carry none and count as execution. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var schedWaitMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputRows = 0L; var bytesWritten = 0L; var jobWallMs = 0L
}

object Phase {
  /** Local property naming the layer and statement a job belongs to. */
  val Key = "perfbench.phase"
}

final class LayerListener extends SparkListener {
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val byPhase = mutable.Map.empty[String, Counters]
  /** (phase, launch ms, finish ms) of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile var openJobs = 0

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Phase.Key))).getOrElse("execution|")

  def counters(layer: String): Counters = synchronized {
    val c = new Counters
    byPhase.foreach { case (k, v) if k.takeWhile(_ != '|') == layer =>
        c.jobs += v.jobs; c.stages += v.stages; c.tasks += v.tasks
        c.failedTasks += v.failedTasks; c.taskMs += v.taskMs; c.cpuNs += v.cpuNs
        c.schedWaitMs += v.schedWaitMs; c.gcMs += v.gcMs
        c.shuffleRead += v.shuffleRead; c.shuffleWrite += v.shuffleWrite
        c.spill += v.spill; c.inputRows += v.inputRows
        c.bytesWritten += v.bytesWritten; c.jobWallMs += v.jobWallMs
      case _ =>
    }
    c
  }

  def allBytesWritten(except: String): Long = synchronized {
    byPhase.collect { case (k, v) if k.takeWhile(_ != '|') != except => v.bytesWritten }.sum
  }

  private def at(phase: String): Counters = byPhase.getOrElseUpdate(phase, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = phaseOf(e.properties)
    jobPhase.put(e.jobId, p)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stagePhase.putIfAbsent(s, p))
    at(p).jobs += 1
    openJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // jobs that started before the listener was registered are not counted
    Option(jobPhase.get(e.jobId)).foreach { p =>
      at(p).jobWallMs += e.time - jobStart.get(e.jobId)
      openJobs -= 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    at(stagePhase.getOrDefault(id, "execution|")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val p = stagePhase.getOrDefault(e.stageId, "execution|")
    val c = at(p)
    val info = e.taskInfo
    c.tasks += 1
    if (info.failed) c.failedTasks += 1
    c.schedWaitMs += math.max(0L, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
    taskIntervals += ((p, info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}

/** File counts from the physical plans of finished actions: scans (files
  * listed vs files read) and writes (files written). Spark delivers the
  * callbacks asynchronously, in order, on the listener bus thread, so an
  * action is counted if it finished before [[close]] ran its marker
  * action, and not after. */
final class PlanListener extends QueryExecutionListener {
  var filesTotal = 0L; var filesRead = 0L; var filesWritten = 0L
  @volatile private var marker: QueryExecution = _
  private val closed = new java.util.concurrent.CountDownLatch(1)

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  private def walk(p: SparkPlan): Unit = {
    val u = unwrap(p)
    u match {
      case s: FileSourceScanExec =>
        synchronized {
          filesTotal += s.relation.location.inputFiles.length
          filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      case w: DataWritingCommandExec =>
        synchronized {
          filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      case _ =>
    }
    u.children.foreach(walk)
    u.subqueries.foreach(walk)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (closed.getCount > 0) {
      if (qe eq marker) closed.countDown()
      // a plan shape the walk does not expect must not fail the action
      else try walk(qe.executedPlan)
      catch { case scala.util.control.NonFatal(_) => }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Stop counting: run a marker action (its jobs in phase `marker`) and
    * wait until its callback arrives, after every earlier action's. */
  def close(spark: SparkSession): Unit = if (closed.getCount > 0) {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(Phase.Key)
    sc.setLocalProperty(Phase.Key, "marker|")
    try {
      val df = spark.range(1).toDF()
      marker = df.queryExecution
      df.collect()
    } finally sc.setLocalProperty(Phase.Key, old)
    closed.await(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

final class StreamListener extends StreamingQueryListener {
  @volatile var batches = 0L
  @volatile var batchMs = 0L
  @volatile var rows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += e.progress.batchDuration
    rows += e.progress.numInputRows
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The listeners of a traced phase, registered on entry and removed on
  * exit, so untraced phases run without them. */
final class Tracer(spark: SparkSession, val workload: String) {
  val spans = new Spans(workload)
  val jobs = new LayerListener
  val plans = new PlanListener
  val streams = new StreamListener
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gcAtStart = 0L
  private var gcAtEnd = 0L
  var heapPeakBytes = 0L
  /** Offset from `System.nanoTime` to epoch milliseconds, for matching
    * task times (epoch ms) to spans. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  private def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
  }

  /** Stop counting files; the wire workload calls it before its
    * in-process replay, whose scans are not the workload's. */
  def closePlans(): Unit = {
    plans.close(spark)
    spark.listenerManager.unregister(plans)
  }

  def stop(): Unit = {
    closePlans()
    // listener events are delivered asynchronously: wait for the bus to
    // report every started job as ended before reading the counters
    val deadline = System.nanoTime() + 5_000_000_000L
    while (jobs.openJobs > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    gcAtEnd = gcMs
    heapPeakBytes = heapPools.map(_.getPeakUsage.getUsed).sum
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  def jvmGcMs: Long = gcAtEnd - gcAtStart

  /** Run `body` as layer `layer` of statement `stmt`: a span, plus the
    * phase property that tags the Spark jobs it submits. */
  def layer[A](name: String, layer: String, stmt: String)(body: => A): A = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(Phase.Key)
    sc.setLocalProperty(Phase.Key, s"$layer|$stmt")
    try spans.record(name, stmt)(body)
    finally sc.setLocalProperty(Phase.Key, old)
  }
}
