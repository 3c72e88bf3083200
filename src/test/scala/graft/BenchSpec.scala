package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench statistic discipline: failures must not pollute totals, warm-run
  * medians must discard the cold run, and cross-round drift (all runs
  * slow together — the r10 phantom-median shape) must buy reruns and pull
  * the median back to the distribution's lower mode. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is marked failed and excluded from totals") {
    val bad = Bench.timeQuery("boom",
      () => throw new IllegalStateException("deliberately broken"),
      runs = 3, extraRuns = 2)
    assert(bad.err.contains("deliberately broken"))
    assert(bad.times.length == 3) // no rerun escalation on failures

    val good = Bench.timeQuery("fine", () => Thread.sleep(5),
      runs = 3, extraRuns = 2)
    assert(good.err.isEmpty)

    val (total, minTotal) = Bench.totals(Seq(bad, good))
    assert(total == good.p50 && minTotal == good.minWarm,
      "failed query leaked into the totals")
  }

  test("p50 is the median of the fastest warm runs; the cold run is discarded") {
    // cold run deliberately huge: it must not appear in p50 or minWarm
    var i = 0
    val delays = Vector(120L, 10L, 12L, 11L)
    val qt = Bench.timeQuery("warm", () => { Thread.sleep(delays(i.min(3))); i += 1 },
      runs = 4, extraRuns = 0)
    assert(qt.err.isEmpty)
    val warm = qt.times.tail.sorted
    assert(qt.minWarm == warm.head)
    assert(math.abs(qt.p50 - warm(1)) < 1e-12, // median of 3 warm runs
      s"p50=${qt.p50} times=${qt.times}")
    assert(qt.p50 < qt.times.head, "cold run leaked into the median")
  }

  test("all-runs-slow vs prior min buys drift reruns and recovers the fast mode") {
    // first 3 runs ~250ms (simulated interference), prior round's min was
    // 60ms → the cross-round guard must rerun, and the fastest-3 window
    // must let the recovered fast runs dominate the median
    var i = 0
    val delays = Vector(250L, 250L, 250L, 20L, 20L)
    val qt = Bench.timeQuery("drifty",
      () => { Thread.sleep(delays(i.min(delays.size - 1))); i += 1 },
      runs = 3, extraRuns = 2, priorMin = Some(0.06))
    assert(qt.err.isEmpty)
    assert(qt.times.length > 3, "prior-min drift guard did not buy reruns")
    // fastest-3 warm window = [20ms, 20ms, 250ms] → median ~20ms, not ~250ms
    assert(qt.p50 < 0.1, s"median stayed at the interference mode: ${qt.times}")
  }

  test("a query still >3x its own min after reruns is flagged drift") {
    // one fast run among slow ones, no prior min: suspect reruns fire
    // (warm spread > 2x) but the median stays high → drift flag tells the
    // reader to trust mins for this query
    var i = 0
    val delays = Vector(200L, 200L, 20L, 200L, 200L)
    val qt = Bench.timeQuery("stuck",
      () => { Thread.sleep(delays(i.min(delays.size - 1))); i += 1 },
      runs = 3, extraRuns = 2)
    assert(qt.err.isEmpty)
    assert(qt.drift, s"expected drift flag: p50=${qt.p50} times=${qt.times}")
  }

  test("isolation pass heals a suspect whose quiet re-timing converges") {
    // quick-pass shape: every run inflated by interference except the
    // spread that flagged it; isolation runs land fast and consistent →
    // the flag clears and the published p50 is the converged figure
    val flagged = Bench.QueryTiming("noisy", p50 = 0.25, minWarm = 0.24,
      times = Vector(0.3, 0.25, 0.24, 0.26), suspect = true, drift = false,
      err = None)
    val h = Bench.isolate(flagged, () => Thread.sleep(20), budget = 4)
    assert(h.isolated)
    assert(!h.suspect && !h.drift,
      s"converged isolation must heal the flags: $h")
    assert(h.p50 < 0.1, s"published p50 must be the converged figure: $h")
    assert(h.minWarm <= h.p50 + 1e-9)
  }

  test("isolation pass keeps the flag when re-timing never converges") {
    // isolation runs disagree with each other (still-loaded host):
    // budget is spent, the suspect flag survives, isolated records the
    // attempt so the reader knows it was re-measured, not skipped
    var i = 0
    val delays = Vector(20L, 200L, 20L, 200L)
    val flagged = Bench.QueryTiming("wild", p50 = 0.2, minWarm = 0.02,
      times = Vector(0.2, 0.02, 0.2, 0.2), suspect = true, drift = true,
      err = None)
    val h = Bench.isolate(flagged,
      () => { Thread.sleep(delays(i.min(delays.size - 1))); i += 1 },
      budget = 4)
    assert(h.isolated && h.suspect,
      s"non-converging isolation must stay flagged: $h")
    assert(i == 4, "isolation must spend its whole budget before giving up")
  }

  test("a failing isolation run keeps the quick-pass measurements") {
    // a query the quick pass measured successfully 3-5 times must not
    // be retroactively reclassified as failed by one transient error
    // during the end-of-bench isolation attempt
    var i = 0
    val flagged = Bench.QueryTiming("fragile", p50 = 0.2, minWarm = 0.02,
      times = Vector(0.2, 0.02, 0.2, 0.2), suspect = true, drift = true,
      err = None)
    val h = Bench.isolate(flagged, () => {
      i += 1
      if (i == 2) throw new RuntimeException("transient hiccup")
      Thread.sleep(20)
    }, budget = 4)
    assert(h.err.isEmpty, s"transient isolation failure failed the query: $h")
    assert(h.isolated && h.suspect, s"aborted isolation must stay flagged: $h")
    // only the one successful run before the failure merged its timing
    assert(h.times.length == flagged.times.length + 1, h.times.toString)
  }

  test("isolation pass leaves unflagged and failed timings untouched") {
    val clean = Bench.QueryTiming("ok", 0.1, 0.1, Vector(0.1, 0.1, 0.1),
      suspect = false, drift = false, err = None)
    assert(Bench.isolate(clean, () => fail("must not run"), 4) eq clean)
    val broken = Bench.QueryTiming("bad", 0.1, 0.1, Vector(0.1),
      suspect = true, drift = false, err = Some("boom"))
    assert(Bench.isolate(broken, () => fail("must not run"), 4) eq broken)
  }

  test("sub-scheduling-floor queries are never flagged suspect") {
    // a 20 ms query can show 2-3x relative spread from pure scheduling
    // noise (a bare range(1).count() job floors at ~150 ms) — that is not
    // ambient load and must not flag, rerun, or fail isolation
    var i = 0
    val delays = Vector(50L, 10L, 30L, 12L, 35L)
    val qt = Bench.timeQuery("tiny",
      () => { Thread.sleep(delays(i.min(delays.size - 1))); i += 1 },
      runs = 3, extraRuns = 2)
    assert(qt.err.isEmpty)
    assert(!qt.suspect,
      s"sub-floor spread flagged as load: ${qt.times}")
  }

  test("sustained-load shape (tight spread, 3x prior) joins the isolation pass") {
    // the r12 flag-evasion hole: consistent 3x inflation with tight
    // spread evades suspect (spread ≤ 2x) and drift (p50 ≤ 3x own min)
    // — dd_substring published 3.81 s vs a 1.09 s baseline with zero
    // flags. The cross-round gate must catch it from history alone,
    // and a forced isolation at a quieter moment must heal it.
    var i = 0
    val delays = Vector(300L, 300L, 310L, 305L) // the loaded window
    val qt = Bench.timeQuery("sustained",
      () => { Thread.sleep(delays(i.min(delays.size - 1))); i += 1 },
      runs = 4, extraRuns = 0)
    assert(qt.err.isEmpty)
    assert(!qt.suspect && !qt.drift,
      s"precondition: the shape must evade the within-window flags: $qt")
    // committed prior min (or reference entry) was ~100 ms → 3x slow
    assert(Bench.crossRoundSlow(qt, prior = Some(0.1)),
      s"cross-round gate missed the sustained-load shape: $qt")
    // floor guard: a floor-priced query can't trip the ratio on noise
    val tiny = qt.copy(p50 = 0.18)
    assert(!Bench.crossRoundSlow(tiny, prior = Some(0.05)),
      "floor-priced query tripped the cross-round gate")
    assert(!Bench.crossRoundSlow(qt, prior = None),
      "gate must stay quiet without a prior")
    // the forced isolation pass re-times at the quiet moment: fast,
    // consistent runs converge, the truthful figure publishes
    val h = Bench.isolate(qt, () => Thread.sleep(20), budget = 4,
      force = true)
    assert(h.isolated && !h.suspect && !h.drift, s"forced isolation: $h")
    assert(h.p50 < 0.1, s"published p50 must be the converged figure: $h")
    // and a query that is GENUINELY slower converges at its real cost:
    // truthfully published, left for the slow-list, never masked
    val real = Bench.isolate(qt, () => Thread.sleep(300), budget = 4,
      force = true)
    assert(real.isolated && !real.suspect,
      s"consistent slow isolation must converge (real regression): $real")
    assert(real.p50 > 0.25, s"real regression must publish truthfully: $real")
  }

  test("prior mins load from a committed capture only at the matching SF") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench")
    val f = dir.resolve("BENCH_full.json")
    java.nio.file.Files.write(f,
      """{"metric":"total","sf":0.1,"mins":{"q1":1.25,"q2":0.5}}"""
        .getBytes("UTF-8"))
    assert(Bench.loadPriorMins(f.toString, "sf0.1") ==
      Map("q1" -> 1.25, "q2" -> 0.5))
    assert(Bench.loadPriorMins(f.toString, "sf0.01").isEmpty,
      "foreign-SF mins must not drive drift reruns")
    assert(Bench.loadPriorMins(dir.resolve("absent.json").toString, "sf0.1").isEmpty)
  }
}
