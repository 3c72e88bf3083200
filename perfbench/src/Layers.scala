package perfbench

/** Per-layer metrics of a traced phase, from its spans and listener
  * counters. Times and counts are sums over the traced statements
  * unless the name says otherwise (`p50`, `ratio`, `share`). */
object Layers {
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of closed intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var upTo = Double.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { total += b - lo; upTo = b }
    }
    total
  }

  def apply(t: Tracer, traced: Seq[Rec], replay: Seq[Rec], untraced: Seq[Rec],
      connectsMs: Seq[Double], planNodes: Seq[Int], outputRows: Long,
      wire: Boolean): Map[String, Double] = {
    val spans = t.spans.all
    val self = t.spans.selfMs(spans)
    def named(n: String) = spans.filter(_.name == n)
    def sum(n: String) = named(n).map(s => self(s.id)).sum

    // compile time is compileQuery minus the parse it starts with: each
    // "compiler" span is paired with the "parser" span just before it
    val bySibling = spans.groupBy(s => (s.stmt, s.parent)).values.map(_.sortBy(_.startNs))
    val sqlCompileMs = bySibling.flatMap { sib =>
      sib.zip(sib.drop(1)).collect {
        case (p, c) if p.name == "parser" && c.name == "compiler" => c.ms - p.ms
      }
    }.sum

    val comp = t.jobs.counters("compiler")
    val ops = t.jobs.counters("operators")
    val ex = t.jobs.counters("execution")

    // statement latency the traced shares are taken of: in-process
    // statements for the in-process workloads, the replay for the wire
    val inProcLatMs = (if (wire) replay else traced).map(_.latMs).sum
    val stmtSpans = named("stmt")
    val tasksByStmt = t.jobs.taskIntervals.groupBy(_._1.dropWhile(_ != '|').drop(1))
    val taskWallMs = stmtSpans.map { s =>
      val lo = s.startNs / 1e6 + t.epochOffsetMs
      val hi = s.endNs / 1e6 + t.epochOffsetMs
      union(tasksByStmt.get(s.stmt).toSeq.flatten.map { case (_, a, b) =>
        (math.max(a.toDouble, lo), math.min(b.toDouble, hi))
      }.filter(iv => iv._2 > iv._1))
    }.sum

    val buildMs = sum("operators.build")
    val preplanMs = comp.jobWallMs.toDouble
    val dmlMs = sum("exec.dml")
    val tracedP50 = p50(traced.map(_.latMs))
    val untracedP50 = p50(untraced.map(_.latMs))
    val overheads = if (!wire) Nil else {
      val wireLat = traced.groupBy(_.id).map { case (k, v) => k -> v.head.latMs }
      replay.filter(r => r.error == null).flatMap(r => wireLat.get(r.id).map(_ - r.latMs))
    }
    val wireRows = traced.map(_.rows).sum
    def share(x: Double) = if (inProcLatMs > 0) x / inProcLatMs else 0.0

    Map(
      "parser.parse_ms" -> sum("parser"),
      "parser.statements" -> named("parser").size.toDouble,
      "compiler.compile_ms" -> (sqlCompileMs + sum("compiler.build") - preplanMs),
      "compiler.preplan_jobs" -> comp.jobs.toDouble,
      "compiler.preplan_ms" -> preplanMs,
      "operators.build_ms" -> buildMs,
      "operators.preplan_jobs" -> ops.jobs.toDouble,
      "operators.preplan_task_ms" -> ops.taskMs.toDouble,
      "exec.dml_ms" -> dmlMs,
      "exec.scope_plan_nodes" -> (if (planNodes.isEmpty) 0.0 else planNodes.sum.toDouble / planNodes.size),
      "optimizer.optimize_ms" -> sum("optimizer"),
      "planner.plan_ms" -> sum("planner"),
      "execution.run_ms" -> sum("execution"),
      "execution.jobs" -> ex.jobs.toDouble,
      "execution.stages" -> ex.stages.toDouble,
      "execution.tasks" -> ex.tasks.toDouble,
      "execution.task_ms" -> ex.taskMs.toDouble,
      "execution.task_cpu_ms" -> ex.cpuNs / 1e6,
      "execution.sched_wait_ms" -> ex.schedWaitMs.toDouble,
      "execution.gc_ms" -> ex.gcMs.toDouble,
      "execution.shuffle_read_bytes" -> ex.shuffleRead.toDouble,
      "execution.shuffle_write_bytes" -> ex.shuffleWrite.toDouble,
      "execution.spill_bytes" -> ex.spill.toDouble,
      "execution.input_rows" -> ex.inputRows.toDouble,
      "execution.output_rows" -> (if (wire) wireRows.toDouble else outputRows.toDouble),
      "execution.failed_tasks" -> ex.failedTasks.toDouble,
      "sources.files_total" -> t.plans.filesTotal.toDouble,
      "sources.files_read" -> t.plans.filesRead.toDouble,
      "sources.files_read_ratio" ->
        (if (t.plans.filesTotal > 0) t.plans.filesRead.toDouble / t.plans.filesTotal else 0.0),
      "sources.bytes_written" -> t.jobs.allBytesWritten(except = "replay").toDouble,
      "sources.files_written" -> t.plans.filesWritten.toDouble,
      "streaming.batches" -> t.streams.batches.toDouble,
      "streaming.batch_ms" -> t.streams.batchMs.toDouble,
      "streaming.rows" -> t.streams.rows.toDouble,
      "server.connect_ms" -> p50(connectsMs),
      "server.first_row_ms" -> p50(traced.filter(_.firstRowMs >= 0).map(_.firstRowMs)),
      "server.overhead_ms" -> p50(overheads),
      "server.bytes_per_row" -> (if (wireRows > 0) traced.map(_.bytes).sum.toDouble / wireRows else 0.0),
      "jvm.gc_ms" -> t.jvmGcMs.toDouble,
      "jvm.heap_peak_mb" -> t.heapPeakBytes / 1048576.0,
      "split.preplan_share" -> share(buildMs + preplanMs + dmlMs),
      "split.run_share" -> share(sum("execution")),
      "split.outside_tasks_share" -> (if (inProcLatMs > 0) 1.0 - taskWallMs / inProcLatMs else 0.0),
      "trace.p50_untraced_ms" -> untracedP50,
      "trace.p50_traced_ms" -> tracedP50,
      "trace.overhead_ms" -> (tracedP50 - untracedP50),
      "trace.spans" -> spans.size.toDouble)
  }
}
