package graft

/** Driver-contract benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query materializes through the `noop` sink — a count() would let
  * Catalyst prune the whole projection; noop forces every output column
  * to be computed, which is what a real consumer pays for.
  *
  * Output discipline: the driver captures only the LAST ~2000 characters
  * of stdout, and sbt appends a "[success] Total time…" line after main
  * returns. A single JSON line carrying all ~90 per-query timings is
  * ~2.4 KB and gets its head clipped out of the capture window (this is
  * exactly what produced `parsed: null` in BENCH_r01/r02). So the line
  * printed here is kept under ~1750 chars: `value` is the total over
  * every SUCCEEDING query (failures are excluded and surfaced via
  * `n_failed`/`failed` — an erroring query must not be recorded as a
  * fast success), and `queries` carries as many per-query entries as
  * fit (prioritized by family). The complete per-query map is written to
  * BENCH_full.json in the working directory for offline reading.
  *
  * All reported per-query numbers are medians of the ≤3 FASTEST WARM
  * runs out of SPARK_GRAFT_BENCH_RUNS executions (default 3, first run
  * discarded as warm-up; see [[timeQuery]] for the full statistic
  * discipline) and `value` is the sum of those medians — single-shot
  * timings on this VM swing 2-4x with outside load, and r10 proved even
  * 3-run medians can lie when interference spans the whole window.
  */
object Bench {

  /** One query's bench outcome. `err` set ⇒ at least one run threw: the
    * timings then measure a failure path, so the query is excluded from
    * every total and counted in `n_failed` instead of being recorded as
    * a (typically suspiciously fast) success — r8's totals lied exactly
    * this way. `p50`/`minWarm` are computed over WARM runs only (see
    * [[timeQuery]]); `drift` marks a query whose reported p50 still sits
    * >3x above its own warm minimum after every rerun — the reader must
    * use `mins` for it. `isolated` ⇒ the end-of-bench isolation pass
    * ([[isolate]]) re-timed this query; if it converged, suspect/drift
    * are cleared and p50 is the converged (truthful) figure. */
  final case class QueryTiming(name: String, p50: Double, minWarm: Double,
      times: Vector[Double], suspect: Boolean, drift: Boolean,
      err: Option[String], isolated: Boolean = false)

  /** Spark's per-job fixed cost on this class of host (a bare
    * `range(1).count()` medians ~0.15 s warm): timings at or
    * under it are all scheduling noise, so relative-spread heuristics
    * must not fire on them. */
  val schedulingFloor = 0.15

  /** Median of the ≤3 fastest values — the bench's central statistic:
    * ambient load only ever inflates, so the distribution's lower mode
    * is the true cost. */
  def medianFastest(xs: Vector[Double]): Double = {
    val w = xs.sorted.take(math.min(3, xs.size))
    if (w.size % 2 == 1) w(w.size / 2)
    else (w(w.size / 2 - 1) + w(w.size / 2)) / 2
  }

  /** Time `run` `runs`×, catching per-run failures into `err`.
    *
    * Statistic discipline (r10 post-mortem: the driver bench recorded
    * 3–9× phantom medians that dissolved under isolated re-timing, and
    * its own suspect detection missed them because all three interleaved
    * runs were slow TOGETHER):
    *  - the FIRST run is a discarded warm-up when ≥3 runs exist — it
    *    pays plan compile + codegen JIT, an inherent one-time cost that
    *    previously flagged 24 first-run-only "suspects" on a quiet host;
    *  - `p50` is the median of the ≤3 FASTEST warm runs: ambient load
    *    only ever inflates, so the distribution's lower mode is the true
    *    cost, and a rerun that lands fast pulls the median back to it;
    *  - warm spread >2x buys up to `extraRuns` reruns (ambient
    *    interference shows up as warm runs disagreeing);
    *  - `priorMin` (last round's recorded min for this query) buys the
    *    same reruns when EVERY warm run is >3x it — the
    *    all-runs-slow-together shape that within-run spread cannot see;
    *  - if the final p50 still exceeds 3x the warm min, the query is
    *    flagged `drift` so a reader knows to trust `mins` for it. */
  def timeQuery(name: String, run: () => Unit, runs: Int, extraRuns: Int,
      afterRun: () => Unit = () => (),
      priorMin: Option[Double] = None): QueryTiming = {
    var err: Option[String] = None
    def timeOne(): Double = {
      val t0 = System.nanoTime()
      try run()
      catch {
        case e: Throwable =>
          if (err.isEmpty)
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      afterRun()
      dt
    }
    var times = Vector.fill(runs)(timeOne())
    def warm = if (times.size >= 3) times.tail else times
    def spread = warm.max / math.max(warm.min, 1e-9)
    var added = 0
    while (runs > 1 && added < extraRuns && spread > 2.0 && err.isEmpty) {
      times :+= timeOne()
      added += 1
    }
    def median(xs: Vector[Double]): Double = medianFastest(xs)
    // drift reruns (separate budget): keep buying runs while EITHER
    //  - every warm run sits ≥3x above the previous round's min
    //    (interference spanning the whole window — within-run spread
    //    cannot see this shape), OR
    //  - the fastest-3 median still sits ≥3x above the warm min (a fast
    //    mode has appeared but not yet enough runs to dominate the
    //    median) — each recovered run pulls the window down further.
    var driftAdded = 0
    def stillDrifting: Boolean =
      priorMin.exists(pm => warm.min > 3.0 * math.max(pm, 0.05)) ||
        median(warm) > 3.0 * math.max(warm.min, 0.05)
    while (err.isEmpty && runs > 1 && driftAdded < extraRuns && stillDrifting) {
      times :+= timeOne()
      driftAdded += 1
    }
    // suspect reflects the FINAL warm spread — drift reruns that expose
    // a fast mode (e.g. all-slow initial window + recovered reruns) must
    // surface as spread, not vanish because the flag was frozen earlier.
    // Times at or under Spark's per-job scheduling floor (~0.15 s for a
    // bare range(1).count()) spread freely from pure scheduling noise —
    // a query that cheap is never load-suspect, whatever its ratio.
    val suspect = runs > 1 && spread > 2.0 && warm.max > schedulingFloor
    val p50 = median(warm)
    val minWarm = warm.min
    val drift = runs > 1 && p50 > 3.0 * math.max(minWarm, 0.05)
    QueryTiming(name, p50, minWarm, times, suspect, drift, err)
  }

  /** Isolation pass for a flagged (suspect/drift) timing — the r11
    * post-mortem's residual hole: the quick pass's reruns share the
    * noisy window that CREATED the suspicion, so flagged queries still
    * published interference-inflated p50s (dd_contamination recorded
    * 4.37 s vs 1.93 s under isolated re-timing). This re-times the
    * query under the caller's quietest conditions (Bench runs it at the
    * END of the whole bench, after every other query's GC debt has
    * settled), buying up to `budget` extra runs until the timing
    * CONVERGES: the isolation window is self-consistent (spread ≤ 1.5×)
    * and the fastest-3-warm median lands within 30% of the warm
    * minimum — i.e. the recorded p50 now matches what the query measures
    * timed alone. A converged query is HEALED (suspect/drift
    * cleared); one that never converges stays flagged so the reader
    * falls back to `mins`. Either way `isolated = true` records that
    * the pass ran. Unflagged or failed timings pass through untouched. */
  def isolate(qt: QueryTiming, run: () => Unit, budget: Int,
      afterRun: () => Unit = () => (), force: Boolean = false): QueryTiming = {
    if (qt.err.isDefined || !(qt.suspect || qt.drift || force) ||
        budget <= 0) return qt
    var aborted = false
    var iso = Vector.empty[Double]
    def converged: Boolean = {
      val warm = (qt.times ++ iso).tail
      // sub-floor isolation runs are consistent BY DEFINITION — their
      // relative spread is scheduling noise, not load
      iso.size >= 2 &&
        (iso.max <= schedulingFloor ||
          iso.max / math.max(iso.min, 1e-9) <= 1.5) &&
        medianFastest(warm) <= 1.3 * math.max(warm.min, 0.05)
    }
    while (!aborted && !converged && iso.size < budget) {
      val t0 = System.nanoTime()
      try {
        run()
        iso :+= (System.nanoTime() - t0) / 1e9
      } catch {
        // a transient failure HERE must not retroactively reclassify a
        // query the quick pass measured successfully 3-5 times: abort
        // the isolation attempt (its partial timings stand), keep the
        // flag, and leave err empty so the quick-pass stats publish
        case e: Throwable =>
          aborted = true
          System.err.println(
            s"[bench] isolation run for ${qt.name} failed " +
              s"(${Option(e.getMessage).getOrElse(e.getClass.getName)}); " +
              "keeping quick-pass measurements")
      }
      afterRun()
    }
    val times = qt.times ++ iso
    val warm = times.tail
    val p50 = medianFastest(warm)
    val minW = warm.min
    val healed = !aborted && converged
    QueryTiming(qt.name, p50, minW, times,
      suspect = !healed,
      drift = !healed && p50 > 3.0 * math.max(minW, 0.05),
      err = None, isolated = true)
  }

  /** Cross-round sustained-load gate (the r12 flag-evasion hole):
    * SUSTAINED ambient load inflates every run of a query TOGETHER, so
    * its warm spread stays ≤2× (no suspect) and its p50 sits under 3×
    * its own — equally inflated — min (no drift); the r12 driver
    * capture published dd_substring at 3.5× baseline this way with
    * zero flags. The shape IS visible across rounds: a query whose p50
    * exceeds ~2× its committed cross-round min (or its reference-bench
    * entry) is slow against history even when self-consistent, and
    * must join the end-of-bench isolation pass. `prior` is floored at
    * the scheduling floor so floor-priced queries (dd_exact at 0.10 s)
    * can't trip the ratio on pure scheduling noise. A query that
    * isolates to a genuinely ≥2× figure converges there and publishes
    * it truthfully — that is a real regression, not interference. */
  def crossRoundSlow(qt: QueryTiming, prior: Option[Double]): Boolean =
    qt.err.isEmpty &&
      prior.exists(p => qt.p50 > 2.0 * math.max(p, schedulingFloor))

  /** (p50 total, min-of-warm-runs total) over the queries that succeeded —
    * a failed query contributes nothing rather than a fast lie. */
  def totals(results: Seq[QueryTiming]): (Double, Double) = {
    val ok = results.filter(_.err.isEmpty)
    (ok.map(_.p50).sum, ok.map(_.minWarm).sum)
  }

  /** Parse a committed bench capture, answering None unless it exists,
    * parses, and ran at the SAME scale factor — the one shared gate
    * every cross-round prior loads through (a silent format drift here
    * would disable every history tripwire at once, so it lives in one
    * place). */
  private def loadCapture(path: String, sfBase: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val f = new java.io.File(path)
      if (!f.exists()) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(f)
        val sfTok = root.path("sf").asText()
        if (sfBase != s"sf$sfTok" && sfBase != sfTok) None else Some(root)
      }
    } catch { case _: Throwable => None }

  /** Per-query map from a committed bench capture's JSON `field`. Only
    * used when that capture ran at the SAME scale factor;
    * absent/foreign files are an empty map, never an error. */
  def loadQueryMap(path: String, field: String,
      sfBase: String): Map[String, Double] =
    loadCapture(path, sfBase).map { root =>
      val mins = root.path(field)
      val it = mins.fieldNames()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val k = it.next(); b += k -> mins.path(k).asDouble() }
      b.result()
    }.getOrElse(Map.empty)

  /** Last round's per-query minima from the committed BENCH_full.json —
    * the cross-round drift reference for [[timeQuery]] and half of the
    * [[crossRoundSlow]] prior. */
  def loadPriorMins(path: String, sfBase: String): Map[String, Double] =
    loadQueryMap(path, "mins", sfBase)

  /** Last round's per-gate PROBE p50s from the committed capture's
    * nested `phases` field — the cross-round reference for the
    * probe-side regression tripwire (VERDICT r14 #7: the pruning/
    * metadata paths get the same r-over-r gate the totals have, so a
    * probe regression can't hide inside a 3s table rewrite). */
  def loadPriorProbes(path: String, sfBase: String): Map[String, Double] =
    loadCapture(path, sfBase).map { root =>
      val phases = root.path("phases")
      val it = phases.fieldNames()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val g = it.next()
        val p = phases.path(g).path("probe")
        if (p.isNumber) b += g -> p.asDouble()
      }
      b.result()
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warm-up outside the timed region
    SparkEntry.queries.get("q1_pricing_summary")
      .foreach(fn => fn(spark, sfDir).write.mode("overwrite").format("noop").save())

    // Ambient-load metadata: this VM's timings swing 2-4x with outside
    // load (NOTES.md; three rounds in a row mis-flagged "regressions"),
    // so the artifact records /proc/loadavg around the run — a reader
    // can tell a loaded capture from a quiet one without re-running.
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split(" ").take(3).mkString("/")
      catch { case _: Throwable => "unknown" }
    val loadBefore = loadavg()

    // Per-query MEDIAN of `runs` timed executions (default 3): single-shot
    // numbers drowned a real regression in r3. The cache is cleared
    // between runs so each one re-executes the full plan. A query whose
    // runs disagree by >2x is load-suspect: it gets up to
    // SPARK_GRAFT_BENCH_EXTRA (default 2) rerun attempts, and if the
    // spread persists it is flagged in the output — the min-of-runs is
    // then the trustworthy number (load only ever inflates).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val extraRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt
    // last round's committed capture → per-query drift reference; the
    // reference engine's capture → the other half of the cross-round
    // prior (see crossRoundSlow — sustained load evades the
    // within-window flags, history does not)
    val sfBase = new java.io.File(sfDir).getName
    val priorMins = loadPriorMins("BENCH_full.json", sfBase)
    val refP50s = loadQueryMap("BENCH_reference.json", "queries", sfBase)
    def crossPrior(name: String): Option[Double] = {
      val ps = Seq(priorMins.get(name), refP50s.get(name)).flatten
      if (ps.isEmpty) None else Some(ps.min)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qt = timeQuery(name,
        () => fn(spark, sfDir).write.mode("overwrite").format("noop").save(),
        runs, extraRuns,
        // operators persist() shared subplans; drop them between runs so
        // cached partitions don't accumulate (or mask re-execution cost)
        afterRun = () => spark.catalog.clearCache(),
        priorMin = priorMins.get(name))
      val flag = (if (qt.suspect) "  LOAD-SUSPECT" else "") +
        (if (qt.drift) "  DRIFT" else "") +
        (if (qt.err.isDefined) "  FAILED" else "")
      System.err.println(f"[bench] $name%-28s ${qt.p50}%7.2f s  (${qt.times.map(t => f"$t%.2f").mkString("/")})$flag")
      // inter-query cooldown: settle GC debt from the previous query so
      // it cannot inflate the next one's runs (the cross-query
      // interference shape behind r10's phantom medians)
      System.gc()
      Thread.sleep(200)
      qt
    }
    // ---- end-of-bench isolation pass: self-heal flagged suspects ----
    // Everything above ran interleaved with 170 other queries; a flagged
    // suspect's reruns shared the very window that created the
    // suspicion. Now the bench is otherwise done — the quietest moment
    // this process has — re-time each flagged query until its median
    // converges onto its warm minimum (see [[isolate]]) or the budget
    // is spent. Healed queries publish their converged p50; residual
    // suspects stay flagged AND are listed in `isolated` so a reader
    // knows the re-measurement was attempted, not skipped.
    val isoBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISO", "4").toInt
    val results2 = results.map { qt =>
      // the cross-round gate joins the within-window flags here: a
      // query >2x its committed/reference prior gets isolated even
      // when its spread and drift stats are clean (sustained-load
      // inflation is self-consistent — see crossRoundSlow)
      val crossSlow = crossRoundSlow(qt, crossPrior(qt.name))
      if (runs > 1 && qt.err.isEmpty &&
          (qt.suspect || qt.drift || crossSlow)) {
        System.gc(); Thread.sleep(500)
        val fn = SparkEntry.queries(qt.name)
        val h = isolate(qt,
          () => fn(spark, sfDir).write.mode("overwrite").format("noop").save(),
          isoBudget, afterRun = () => spark.catalog.clearCache(),
          force = crossSlow)
        val isoTimes = h.times.drop(qt.times.size)
        System.err.println(f"[bench] ${qt.name}%-28s isolated ${h.p50}%7.2f s" +
          s"  (${isoTimes.map(t => f"$t%.2f").mkString("/")})" +
          (if (crossSlow) "  CROSS-SLOW" else "") +
          (if (h.suspect) "  STILL-SUSPECT" else "  healed"))
        h
      } else qt
    }
    // queries whose FINAL p50 still exceeds 2x their cross-round prior
    // after isolation: real regressions (or still-contested timings) a
    // reader must look at — surfaced by name, never silently absorbed
    val slowQs = results2
      .filter(qt => crossRoundSlow(qt, crossPrior(qt.name))).map(_.name)
    val loadAfter = loadavg()

    val (total, minTotal) = totals(results2)
    val failed = results2.filter(_.err.isDefined)
    val suspects = results2.filter(r => r.suspect && r.err.isEmpty).map(_.name)
    val sfLabel = {
      val base = new java.io.File(sfDir).getName // e.g. "sf0.1"
      val suffix = base.drop(2)
      // only emit an unquoted token when it is a valid JSON number —
      // "sf_test" must become "_test" (quoted), not bare garbage
      if (base.startsWith("sf") &&
          scala.util.Try(suffix.toDouble).isSuccess) suffix
      else "\"" + base + "\""
    }

    // Full per-query dump (offline artifact, not size-constrained):
    // `queries` carries the medians (p50), `mins` the per-query minima
    // (the trustworthy number under ambient load), `runs` every raw
    // timing, `suspect` the queries whose spread stayed >2x after
    // reruns, and `loadavg` the host load around the run.
    val ok = results2.filter(_.err.isEmpty)
    val drifts = results2.filter(r => r.drift && r.err.isEmpty).map(_.name)
    val isolatedQs = results2.filter(_.isolated).map(_.name)
    val fullQs = ok.map(r => "\"" + r.name + f"""\":${r.p50}%.3f""")
      .mkString("{", ",", "}")
    val fullMins = ok.map(r => "\"" + r.name + f"""\":${r.minWarm}%.3f""")
      .mkString("{", ",", "}")
    val fullRuns = ok.map(r =>
      "\"" + r.name + "\":[" + r.times.map(t => f"$t%.3f").mkString(",") + "]")
      .mkString("{", ",", "}")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errJson = failed.map(r =>
      jstr(r.name) + ":" + jstr(r.err.get.take(200))).mkString("{", ",", "}")
    val driftJson = drifts.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isolatedJson = isolatedQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val slowJson = slowQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // build/probe sub-timings the lifecycle gates recorded (GateTimings):
    // the probe side is where a pruning regression shows — the end-to-end
    // number is dominated by the table rewrite the gate performs first.
    // Same stat as the headline (p50 of the 3 fastest): the cold first
    // sample's JIT/classload cost must not read as a probe regression.
    def p50Of(v: Seq[Double]): Double = {
      val s = v.sorted.take(3); s(s.length / 2)
    }
    val phaseGates = graft.sources.GateTimings.snapshot
      .groupBy(_._1._1).toSeq.sortBy(_._1)
    val phasesJson = phaseGates.map { case (g, m) =>
      val inner = m.toSeq.sortBy(_._1._2).map { case ((_, ph), ts) =>
        f""""$ph":${p50Of(ts)}%.3f,"${ph}_min":${ts.min}%.3f"""
      }.mkString(",")
      "\"" + g + "\":{" + inner + "}"
    }.mkString("{", ",", "}")
    // probe-side r-over-r tripwire (VERDICT r14 #7): a gate whose probe
    // p50 sits >1.5x the committed capture's is flagged by name — the
    // same history gate crossRoundSlow applies to totals, floored so a
    // sub-scheduling-floor probe can't trip on noise
    val priorProbes = loadPriorProbes("BENCH_full.json", sfBase)
    val probeSlow = phaseGates.flatMap { case (g, m) =>
      for {
        ts <- m.get((g, "probe"))
        prior <- priorProbes.get(g)
        if p50Of(ts) > 1.5 * math.max(prior, schedulingFloor)
      } yield g
    }
    val probeSlowJson = probeSlow.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","stat":"p50-of-3-fastest-warm","n_runs":$runs,"min_total":$minTotal%.3f,"n_failed":${failed.length},"errors":$errJson,"loadavg":["$loadBefore","$loadAfter"],"suspect":$suspectJson,"drift":$driftJson,"isolated":$isolatedJson,"slow":$slowJson,"probe_slow":$probeSlowJson,"queries":$fullQs,"mins":$fullMins,"runs":$fullRuns,"phases":$phasesJson,"sf":$sfLabel}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_full.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }

    // Compact driver line: per-query entries in family-priority order until
    // the budget is reached. value/total always covers every query.
    val priority = (n: String) => n.split("_", 2)(0) match {
      case "dd"  => 0 // dedup pipeline
      case "sim" => 1 // similarity/ANN
      case "km"  => 1 // k-means clustering (same family tier as ANN)
      case "ta"  => 2 // text analysis
      case "mm"  => 3 // multimodal
      case "st"  => 4 // streaming
      case "aj"  => 5 // as-of join
      case s if s.startsWith("q") => 6 // relational headline queries
      case _ => 7 // fq_* dialect-conformance suite
    }
    val header = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{"""
    // load metadata + variance flags ride in the compact driver line too:
    // a BENCH_r{N} whose loadavg is high or whose suspect list is
    // non-empty must be read via `mins`/min_total, not p50
    // suspect list capped at 8 names here (full list in BENCH_full.json)
    // so a heavily-loaded run can't blow the line past the capture window
    val suspectCompact =
      (if (suspects.length > 8) suspects.take(8) :+ "+more" else suspects)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedCompact =
      (if (failed.length > 8) failed.take(8).map(_.name) :+ "+more"
       else failed.map(_.name)).map("\"" + _ + "\"").mkString("[", ",", "]")
    val driftCompact =
      (if (drifts.length > 8) drifts.take(8) :+ "+more" else drifts)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    val slowCompact =
      (if (slowQs.length > 8) slowQs.take(8) :+ "+more" else slowQs)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    // probe-side p50 per lifecycle gate rides the compact driver line:
    // these are the numbers to diff round-over-round for the skipping
    // layer (the end-to-end gate entries are rewrite-dominated)
    val probesCompact = phaseGates.flatMap { case (g, m) =>
      m.get((g, "probe")).map(ts => "\"" + g + f"""\":${p50Of(ts)}%.2f""")
    }.mkString("{", ",", "}")
    val footer =
      f"""},"min_total":$minTotal%.3f,"n_failed":${failed.length},"failed":$failedCompact,"n_suspect":${suspects.length},"suspect":$suspectCompact,"n_drift":${drifts.length},"drift":$driftCompact,"n_isolated":${isolatedQs.length},"n_slow":${slowQs.length},"slow":$slowCompact,"probes":$probesCompact,"probe_slow":$probeSlowJson,"load":["$loadBefore","$loadAfter"],"sf":$sfLabel}"""
    val budget = 1750 - header.length - footer.length
    val ordered = ok.sortBy(r => (priority(r.name), r.name))
    val sb = new StringBuilder
    var used = 0
    ordered.foreach { r =>
      val (k, v) = (r.name, r.p50)
      val entry = "\"" + k + f"""\":$v%.2f"""
      val cost = entry.length + (if (used == 0) 0 else 1)
      if (used + cost <= budget) {
        if (used > 0) sb.append(',')
        sb.append(entry)
        used += cost
      }
    }
    // stop() BEFORE the println: any shutdown warning it logs must not land
    // between the JSON line and the end of the captured output window
    spark.stop()
    println(header + sb.toString + footer)
  }
}
