package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.sources.Tables

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private var lastStamp = 0L

  /** Run `write`, an append of parquet files into the stream source
    * `dir`, and give the files it added an mtime one whole second past
    * both the clock and every earlier stamp. The file source orders
    * files by mtime, so each stamped write becomes its own, ordered
    * batch under maxFilesPerTrigger=1 without waiting for the clock. */
  private def stamped(dir: String)(write: => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = if (!fs.exists(p)) Set.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSet
    val before = files
    write
    lastStamp = math.max(lastStamp,
      System.currentTimeMillis() / 1000 * 1000) + 1000
    (files -- before).foreach(fs.setTimes(_, lastStamp, -1))
  }

  test("streaming windowed aggregation equals batch aggregation") {
    val streamed = Streams.runToCompletion(spark,
      Streams.windowedCounts(Streams.readEvents(spark, dir)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val batch = Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch)
  }

  test("streaming sliding windows equal batch and cover each event 4x") {
    val streamed = Streams.runToCompletion(spark,
      Streams.slidingCounts(Streams.readEvents(spark, dir)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val batch = Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)

    // size/slide = 4: every event is counted in exactly 4 windows
    val totalWindowed = streamed.toSeq.map(_._3).sum
    val nEvents = Tables.load(spark, dir, "events").count()
    assert(totalWindowed == 4 * nEvents)
  }

  test("streaming dedup of a doubled stream equals batch over distinct events") {
    val doubled = Streams.readEvents(spark, dir)
      .unionAll(Streams.readEvents(spark, dir))
    val deduped = doubled.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val streamed = Streams.runToCompletion(spark, deduped, mode = "complete")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("stream-stream interval join equals the batch join") {
    val streamed = Streams.runToCompletion(spark,
      Streams.clickPurchaseJoin(spark, dir), mode = "append")
      .select(col("c_user"), col("c_ns"), col("p_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val ev = Tables.load(spark, dir, "events")
    val batch = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts_nanos").as("c_ns"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts_nanos").as("p_ns")),
        col("u") === col("pu") && col("p_ns") >= col("c_ns") &&
          col("p_ns") - col("c_ns") <= lit(30L * 60 * 1000000000L))
      .select(col("u"), col("c_ns"), col("p_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed == batch && streamed.nonEmpty)
  }

  test("session_window boundary: an event at exactly ts+gap still merges") {
    // session_window's boundary is INCLUSIVE: events at 0, +30m (exact
    // gap), +61m form TWO sessions — {0, +30m} merged, +61m alone
    // (31m > gap from +30m). The oracle's `diff > gap` flag encodes it
    val base = 1700000000000000L // µs
    val ev = Seq(
      (1L, base, 1.0),
      (1L, base + 30L * 60 * 1000000, 1.0),
      (1L, base + 61L * 60 * 1000000, 1.0))
      .toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val sessions = ev.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(sessions.length == 2, sessions.mkString(", "))
    assert(sessions.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming session_window equals batch and typed-state sessionization") {
    val streamed = Streams.runToCompletion(spark,
      Streams.sessionAgg(Streams.readEvents(spark, dir)))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(streamed.nonEmpty)

    // batch oracle shape: lag boundary flag + running-sum session ids
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val batch = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("__new", when(lag(col("ts_us"), 1).over(w).isNull ||
        col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1)
        .otherwise(0))
      .withColumn("__sid", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts_us")).as("start_us"), count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(streamed == batch)

    // typed flatMapGroupsWithState path: same sessions
    val stateSessions = Streams.runToCompletion(spark,
      Streams.sessionizeState(spark, Streams.readEvents(spark, dir),
        gapUs = 1800000000L), mode = "append")
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(stateSessions == batch)
  }

  test("streaming drift monitor equals the batch ta_drift result") {
    val dir = "/root/testdata/sf0.001"
    val st = SparkEntry.queries("st_drift")(spark, dir).collect().map(_.toSeq)
    val ba = SparkEntry.queries("ta_drift")(spark, dir).collect().map(_.toSeq)
    assert(st.sameElements(ba), "incremental drift != batch drift")
  }

  test("streaming LSH near-dup equals the batch index probe") {
    // same corpus/batch split → the streaming per-row signature path
    // must be bit-identical to the batch groupBy-min signature path,
    // all the way through band keys and the lane-agreement confirm
    val st = SparkEntry.queries("st_lsh_dedup")(spark, dir)
      .collect().map(_.toSeq)
    val ba = SparkEntry.queries("dd_lsh_incremental")(spark, dir)
      .collect().map(_.toSeq)
    assert(st.nonEmpty, "planted near-dups produced no streaming matches")
    assert(st.sameElements(ba), "streaming LSH dedup != batch index probe")
  }

  test("streaming HLL distinct monitor stays within the batch tolerance") {
    val rows = SparkEntry.queries("st_distinct_hll")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) == 1L),
      s"streamed HLL estimate outside 5% of exact: ${rows.mkString(", ")}")
  }

  test("monitors emit bounded state per trigger, never per input volume") {
    // complete-mode emission re-pays the full state each trigger; the
    // contract that makes this acceptable is that the state is CELL-
    // bounded. A monitor whose per-trigger emission tracked input volume
    // (rows read so far) instead of its cell space would blow these
    // bounds immediately — sf0.001 streams 500 docs / 1000+ events.
    val dir0 = "/root/testdata/sf0.001"
    val bounds = Seq(
      "st_quality" -> 64L, // one row per source (20 sources)
      "st_distinct_hll" -> 32L, // one row per event_type
      "st_em_drift" -> 128L, // one row per embedding dimension (64)
      "st_drift" -> 256L) // one row per (source, lang) cell
    for ((name, bound) <- bounds) {
      graft.streaming.Streams.emissionLog.synchronized {
        graft.streaming.Streams.emissionLog.clear()
      }
      SparkEntry.queries(name)(spark, dir0).collect()
      val perTrigger = graft.streaming.Streams.emissionLog.synchronized {
        graft.streaming.Streams.emissionLog.flatMap(_._2).toSeq
      }
      assert(perTrigger.exists(_ >= 0), s"$name: no emission progress recorded")
      assert(perTrigger.max <= bound,
        s"$name: a trigger emitted ${perTrigger.max} rows (cell bound $bound)")
    }
  }

  test("update-mode monitors: per-trigger emission ≤ touched cells, final state == batch") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_upd").toString
    val inDir = s"$base/in"
    // three files with distinct mtimes → three deterministic triggers.
    // Slices are DISJOINT BY SOURCE, so a later batch touches cells no
    // earlier batch did — complete mode would re-emit the accumulated
    // cell space every trigger and fail the per-trigger bound sharply
    // (batch 2 may emit only ITS sources, not batch 0's + 1's)
    val srcNum = regexp_extract(col("source"), "([0-9]+)", 1).cast("int")
    val slices = Seq(
      docs.filter(srcNum % 3 === 0),
      docs.filter(srcNum % 3 === 1),
      docs.filter(srcNum % 3 === 2))
    slices.foreach(d =>
      stamped(inDir)(d.coalesce(1).write.mode("append").parquet(inDir)))
    // the monitors under test: quality (key source), drift cells
    // (source, lang — the st_drift stream side), and the HLL distinct
    // monitor's mechanics (approx_count_distinct per key)
    val monitors = Seq(
      ("quality", Seq("source"),
        (d: org.apache.spark.sql.DataFrame) =>
          graft.streaming.Streams.qualityMonitor(d)),
      ("drift_cells", Seq("source", "lang"),
        (d: org.apache.spark.sql.DataFrame) =>
          d.groupBy(col("source"), col("lang"))
            .agg(count(lit(1)).as("n_b"))),
      ("distinct_hll", Seq("source"),
        (d: org.apache.spark.sql.DataFrame) =>
          d.groupBy(col("source"))
            .agg(approx_count_distinct(col("doc_id"), 0.02).as("d"))))
    for ((name, keys, agg) <- monitors) {
      val logDir = s"$base/log_$name"
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      graft.streaming.Streams.runUpdateMonitor(spark, agg(stream), logDir)
      val log = spark.read.parquet(logDir)
      // per-trigger emission ≤ the batch's touched cells (and a fresh
      // key in batch N must NOT re-emit untouched cells from batch N-1)
      val emitted = log.groupBy(col("__epoch"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(emitted.keySet == Set(0L, 1L, 2L), s"$name epochs: $emitted")
      slices.zipWithIndex.foreach { case (d, i) =>
        val touched = d.select(keys.map(col): _*).distinct().count()
        assert(emitted(i.toLong) <= touched,
          s"$name epoch $i emitted ${emitted(i.toLong)} > touched $touched")
      }
      // latest-wins view == batch aggregation over everything ingested
      val got = graft.streaming.Streams.latestCells(spark, logDir, keys)
      val want = agg(docs)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        s"$name: update-mode final state diverged from batch")
    }
  }

  test("windowed update monitor: watermark retires state, latest-wins equals batch") {
    import org.apache.spark.sql.functions._
    // two TIME-ORDERED batches split at the median event time: by the
    // time batch 1 processes, the watermark (1 h behind batch 0's max
    // event time) has retired every window more than an hour before the
    // split — their state is gone, but their final emitted rows live in
    // the epoch log, so the latest-wins view still reconstructs the
    // full history and must equal the batch expansion. This is the
    // bounded-state-over-unbounded-time shape: state ~ live windows,
    // log ~ all windows, reads ~ latest-wins (+ cadence compaction).
    val ev = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("event_type"), col("value"))
    val cutSec = ev.select(percentile_approx(
      unix_timestamp(col("ts")), lit(0.5), lit(1000)).cast("long"))
      .head().getLong(0)
    val base = java.nio.file.Files.createTempDirectory("graft_wupd").toString
    val inDir = s"$base/in"; val logDir = s"$base/log"
    ev.filter(unix_timestamp(col("ts")) < cutSec)
      .coalesce(1).write.mode("append").parquet(inDir)
    stamped(inDir)(ev.filter(unix_timestamp(col("ts")) >= cutSec)
      .coalesce(1).write.mode("append").parquet(inDir))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.Streams.runUpdateMonitor(spark,
      graft.streaming.Streams.windowedCounts(stream), logDir,
      compactEvery = 2, keys = Seq("window_start", "event_type"))
    // per-trigger emission: batch 1 re-emits only ITS touched windows
    // (new + the straddler), never batch 0's settled history
    val emitted = spark.read.parquet(logDir).groupBy(col("__epoch"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lateCells = graft.streaming.Streams.windowedCounts(
      ev.filter(unix_timestamp(col("ts")) >= cutSec - 3600)).count()
    assert(emitted(1L) <= lateCells,
      s"batch 1 re-emitted settled windows: ${emitted(1L)} > $lateCells")
    val got = graft.streaming.Streams.latestCells(
      spark, logDir, Seq("window_start", "event_type"))
    val want = graft.streaming.Streams.windowedCounts(ev)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "watermarked update monitor diverged from the batch expansion")
  }

  test("update-log cadence compaction: bounded files, latest-wins state identical") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft_updcad").toString
    val inDir = s"$base/in"
    // six files with distinct mtimes → six epochs; compactEvery = 2
    // means folds at epochs 2 and 4 (3N-trigger coverage of the knob).
    // Slices are by doc_id, so the SAME source cells are touched in
    // MULTIPLE epochs — each epoch re-emits a higher cumulative count
    // for its touched sources and the latest-wins fold must keep
    // exactly the newest row per cell, not merely concatenate.
    for (i <- 0 until 6)
      stamped(inDir)(docs.filter(col("doc_id") % 6 === i).coalesce(1)
        .write.mode("append").parquet(inDir))
    def run(tag: String, every: Int): String = {
      val logDir = s"$base/log_$tag"
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      graft.streaming.Streams.runUpdateMonitor(spark,
        graft.streaming.Streams.qualityMonitor(stream), logDir,
        compactEvery = every, keys = Seq("source"))
      logDir
    }
    val logC = run("c", every = 2)
    val logU = run("u", every = 0)
    def files(d: String) = new java.io.File(d).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))
    // uncompacted: one+ epoch-tagged file per trigger, forever
    assert(files(logU).count(_.startsWith("epoch-")) >= 6,
      s"uncompacted log: ${files(logU)}")
    // compacted: everything before the last fold point (epoch 4) is
    // folded into plain part files — epoch tags survive only for
    // epochs appended SINCE that fold
    val tagged = files(logC).filter(_.startsWith("epoch-"))
    assert(tagged.nonEmpty &&
      tagged.forall(n => n.stripPrefix("epoch-").takeWhile(_.isDigit).toInt >= 4),
      s"compacted log kept pre-fold epoch files: $tagged")
    assert(files(logC).size < files(logU).size,
      s"compaction did not shrink the log: ${files(logC).size} vs ${files(logU).size}")
    // __epoch preserved through the fold: latest-wins ordering intact,
    // and both logs' current state equals the batch aggregation
    val want = graft.streaming.Streams.qualityMonitor(docs)
    for (log <- Seq(logC, logU)) {
      val got = graft.streaming.Streams.latestCells(spark, log, Seq("source"))
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        s"$log: compacted latest-wins state diverged from batch")
    }
    // the fold kept one row per cell for everything below the fold
    // point: per-source row count in the compacted log is (1 folded)
    // + (epochs ≥ 4 that touched it), strictly fewer than uncompacted
    assert(spark.read.parquet(logC).count() <
      spark.read.parquet(logU).count())
  }

  test("self-building LSH index: each batch dedups against all prior batches") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_selfidx").toString
    val inDir = s"$base/in"; val idxDir = s"$base/idx"
    import spark.implicits._
    val d1 = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six")).toDF("doc_id", "text")
    val d2 = Seq((100L, "alpha beta gamma delta epsilon zeta"), // copy of 0
      (101L, "completely different words entirely here now")).toDF("doc_id", "text")
    d1.coalesce(1).write.parquet(inDir)
    // distinct mtimes → deterministic batch split
    stamped(inDir)(d2.coalesce(1).write.mode("append").parquet(inDir))
    val stream = spark.readStream
      .schema(d1.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val matchDir = s"$base/matches"
    val q = graft.streaming.Streams.lshDedupSelfIndexing(
      spark, stream, idxDir, matchDir)
    try q.processAllAvailable() finally q.stop()
    // every signed doc from both batches landed in the index
    assert(spark.read.parquet(idxDir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 100L, 101L))
    // per-batch appends left multiple files; compaction repairs the
    // small-files growth without changing the signature content
    val sigBefore = spark.read.parquet(idxDir).collect().map(_.toSeq).toSet
    assert(new java.io.File(idxDir).listFiles()
      .count(_.getName.endsWith(".parquet")) > 1)
    graft.sources.Sinks.compactParquet(spark, idxDir)
    assert(new java.io.File(idxDir).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(idxDir).collect().map(_.toSeq).toSet == sigBefore)
    // matches come back from the parquet SINK, not a driver buffer:
    // exactly one cross-batch match — the copy pair, at full agreement
    // (direction depends on which file streamed first)
    val got = spark.read.parquet(matchDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((100L, 0L, 1.0)) || got == Set((0L, 100L, 1.0)),
      s"unexpected matches: $got")
  }

  test("self-indexing stream survives first-epoch crash debris (r11 advice)") {
    import org.apache.spark.sql.functions.col
    // crash window: appendEpoch staged its write but died before any
    // rename — the index dir EXISTS but holds only the hidden .epoch-0
    // staging dir. A bare fs.exists() check would read it, fail schema
    // inference, and wedge the stream on every replay; the visible-data
    // check must classify it as "no index yet" instead.
    val base = java.nio.file.Files.createTempDirectory("graft_selfidx_crash")
      .toString
    val inDir = s"$base/in"; val idxDir = s"$base/idx"
    val matchDir = s"$base/matches"
    import spark.implicits._
    val d1 = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six")).toDF("doc_id", "text")
    d1.coalesce(1).write.parquet(inDir)
    Seq((7L, 8L)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$idxDir/.epoch-0") // the crashed attempt's staging
    assert(!graft.sources.Sinks.hasVisibleData(spark, idxDir),
      "hidden-only directory must read as absent")
    assert(!graft.sources.Sinks.hasVisibleData(spark, s"$base/never_made"))
    val stream = spark.readStream.schema(d1.schema).parquet(inDir)
    val q = graft.streaming.Streams.lshDedupSelfIndexing(
      spark, stream, idxDir, matchDir)
    try q.processAllAvailable() finally q.stop()
    // the replayed first epoch recovered: debris treated as no-index,
    // signatures appended, directory now visibly populated
    assert(spark.read.parquet(idxDir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(graft.sources.Sinks.hasVisibleData(spark, idxDir))
  }

  test("compactParquet swap is crash-recoverable and clears stale debris") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString
    val p = s"$base/t"
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    df.repartition(3).write.parquet(p)
    // debris from a prior compaction that crashed after moving the
    // original aside must not block the next attempt
    new java.io.File(p + "__old").mkdirs()
    graft.sources.Sinks.compactParquet(spark, p)
    assert(new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(p).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    // rename-aside protocol leaves no siblings behind on success
    assert(!new java.io.File(p + "__old").exists())
    assert(!new java.io.File(p + "__compact").exists())
  }

  test("compactParquet survives a crash AFTER the staged write (stale __compact)") {
    // crash window the __old recovery does NOT cover: the staged write
    // completed, then the process died before the swap. The staging dir
    // sits fully populated; the replayed compaction must be able to
    // rewrite it even when the caller's writeStaged closure uses the
    // ErrorIfExists default (tableIngest's re-clustering closure did
    // until r14) — compactParquet pre-clears the staging dir.
    val base = java.nio.file.Files.createTempDirectory("graft_compact_staged")
      .toString
    val p = s"$base/t"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(3).write.parquet(p)
    // the crashed attempt's fully-written staging copy, with DIFFERENT
    // rows so a swap-in of the stale copy would be caught below
    Seq((99L, "stale")).toDF("id", "v").write.parquet(p + "__compact")
    graft.sources.Sinks.compactParquet(spark, p,
      writeStaged = Some((df, staged) => df.coalesce(1).write.parquet(staged)))
    assert(spark.read.parquet(p).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L), "stale staged copy leaked into the table")
    assert(!new java.io.File(p + "__compact").exists())
  }

  test("streaming IVF-PQ ingest: multi-batch appends equal the batch rebuild") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val day0 = emb.filter(col("vec_id") % 3 === 0)
    val b1 = emb.filter(col("vec_id") % 3 === 1)
    val b2 = emb.filter(col("vec_id") % 3 === 2)
    val q = emb.filter(col("vec_id") < 5)
    val base = java.nio.file.Files.createTempDirectory("graft_st_ivfpq").toString
    val srcDir = s"$base/in"; val idxDir = s"$base/idx"; val refDir = s"$base/ref"
    // two source files with distinct mtimes → two deterministic batches
    b1.coalesce(1).write.parquet(srcDir)
    stamped(srcDir)(b2.coalesce(1).write.mode("append").parquet(srcDir))
    Similarity.buildIvfPqIndex(day0, idxDir, dim = 64, nCells = 16,
      m = 16, codebookSize = 16)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val ingest = graft.streaming.Streams.ivfPqIngest(spark, stream, idxDir)
    try ingest.processAllAvailable() finally ingest.stop()
    // every vector from every batch landed, exactly once
    val coded = spark.read.parquet(s"$idxDir/codes")
    assert(coded.count() == emb.count())
    // exactly-once: a REPLAYED epoch (same id, same batch — the
    // foreachBatch retry shape) must converge, not double-append
    val model = Similarity.loadIvfPqModel(spark, idxDir)
    val nAfterIngest = coded.count()
    Similarity.appendEpochToIvfPqIndex(b2, idxDir, model, 1L)
    Similarity.appendEpochToIvfPqIndex(b2, idxDir, model, 1L)
    assert(spark.read.parquet(s"$idxDir/codes").count() == nAfterIngest,
      "replaying an epoch changed the index row count")
    // probe equals a batch rebuild of the full corpus under day-0's model
    Similarity.buildIvfPqIndex(emb, refDir, dim = 64, nCells = 16,
      m = 16, codebookSize = 16, trainOn = Some(day0))
    val inc = Similarity.knnIvfPqIndexed(spark, idxDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq).toSet
    val ref = Similarity.knnIvfPqIndexed(spark, refDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq).toSet
    assert(inc == ref, "streamed ingest diverged from the batch rebuild")
  }

  test("ingest-cadence compaction: bounded files, content identical (LSH stream)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_cadence")
      .toString
    // six files with distinct mtimes → six epochs; compactEvery = 2
    // means three compaction points (3N-epoch coverage of the knob)
    for (i <- 0 until 6)
      stamped(s"$base/in")(docs.filter(col("doc_id") % 6 === i)
        .coalesce(1).write.mode("append").parquet(s"$base/in"))
    def ingest(tag: String, every: Int): (String, String) = {
      val idx = s"$base/idx_$tag"; val m = s"$base/m_$tag"
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val q = graft.streaming.Streams.lshDedupSelfIndexing(
        spark, stream, idx, m, compactEvery = every)
      try q.processAllAvailable() finally q.stop()
      (idx, m)
    }
    val (idxC, mC) = ingest("c", every = 2)
    val (idxU, mU) = ingest("u", every = 0)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    // compacted: one folded file per compaction point survivor + at
    // most compactEvery epoch files since the last fold; uncompacted
    // grows one file per epoch
    assert(parquetFiles(idxU) >= 6, s"uncompacted=${parquetFiles(idxU)}")
    assert(parquetFiles(idxC) <= 3,
      s"compacted index holds ${parquetFiles(idxC)} files (cap 3)")
    // content identical: same signatures, same matches
    def rows(d: String) = spark.read.parquet(d).collect()
      .map(_.toSeq).toSet
    assert(rows(idxC) == rows(idxU), "compaction changed the index content")
    assert(rows(mC) == rows(mU), "compaction changed the match results")
  }

  test("crashed compaction swap: self-indexing stream restores the __old survivor") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_swapcrash")
      .toString
    val inDir = s"$base/in"; val idxDir = s"$base/idx"
    val matchDir = s"$base/m"
    import spark.implicits._
    val ck = s"$base/ck"
    val d1 = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six")).toDF("doc_id", "text")
    d1.coalesce(1).write.parquet(inDir)
    def start() = graft.streaming.Streams.lshDedupSelfIndexing(spark,
      spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      idxDir, matchDir, checkpointDir = Some(ck))
    // run once to accumulate a real index (durable checkpoint: epoch
    // ids stay monotone across the restart below)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // simulate compactParquet dying between its two renames: the index
    // has been moved aside, the live dir is gone
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idxDir),
      new org.apache.hadoop.fs.Path(idxDir + "__old")))
    // the RESTARTED stream (same checkpoint, new docs incl. a copy of
    // doc 0) must RECOVER the survivor, not rebuild from scratch
    stamped(inDir)(Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(idxDir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 100L),
      "recovered index must hold the pre-crash signatures plus the new batch")
    // and the copy matched against the RECOVERED history
    val got = spark.read.parquet(matchDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 0L)),
      s"dedup against the recovered index failed: $got")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idxDir + "__old")))
  }

  test("incremental streams refuse a fresh checkpoint over an epoch-tagged index") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_epochguard")
      .toString
    val inDir = s"$base/in"; val idxDir = s"$base/idx"
    val d1 = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    d1.coalesce(1).write.parquet(inDir)
    val q1 = graft.streaming.Streams.lshDedupSelfIndexing(spark,
      spark.readStream.schema(d1.schema).parquet(inDir),
      idxDir, s"$base/m")
    try q1.processAllAvailable() finally q1.stop()
    // a SECOND stream without the first's checkpoint would restart
    // epoch ids at 0 and clobber the first lineage — refused loudly
    val e = intercept[IllegalStateException] {
      graft.streaming.Streams.lshDedupSelfIndexing(spark,
        spark.readStream.schema(d1.schema).parquet(inDir),
        idxDir, s"$base/m")
    }
    assert(e.getMessage.contains("checkpointDir"))
    // compaction neutralizes the epoch tags → a fresh lineage is fine
    graft.sources.Sinks.compactParquet(spark, idxDir)
    val q2 = graft.streaming.Streams.lshDedupSelfIndexing(spark,
      spark.readStream.schema(d1.schema).parquet(inDir),
      idxDir, s"$base/m")
    try q2.processAllAvailable() finally q2.stop()
  }

  test("hasVisibleData treats hive partition dirs (name contains '=') as data") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_vis").toString
    Seq((1L, 3)).toDF("id", "__cell").write
      .partitionBy("__cell").parquet(s"$base/t")
    assert(graft.sources.Sinks.hasVisibleData(spark, s"$base/t"),
      "a __cell=N partitioned dir must read as visible data")
  }

  test("runUpdateMonitor: refuses epoch reuse without a checkpoint, resumes with one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_updck").toString
    val inDir = s"$base/in"; val logDir = s"$base/log"
    val ck = s"$base/ck"
    val d1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    d1.coalesce(1).write.parquet(inDir)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(sum(col("v")).as("s"),
        count(lit(1)).as("n"))
    def stream() = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.Streams.runUpdateMonitor(spark, agg(stream()), logDir,
      checkpointDir = Some(ck))
    // reusing a populated log WITHOUT the checkpoint is the epoch-reset
    // corruption shape — must refuse loudly
    val e = intercept[IllegalStateException] {
      graft.streaming.Streams.runUpdateMonitor(spark, agg(stream()), logDir)
    }
    assert(e.getMessage.contains("checkpointDir"))
    // with the original checkpoint, new data resumes at the next epoch
    // and the latest-wins view equals the full batch aggregate
    stamped(inDir)(Seq(("b", 10L), ("c", 5L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(inDir))
    graft.streaming.Streams.runUpdateMonitor(spark, agg(stream()), logDir,
      checkpointDir = Some(ck))
    val epochs = spark.read.parquet(logDir).select(col("__epoch"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(epochs.size >= 2 && epochs.max > epochs.min,
      s"epoch ids did not stay monotone across the resume: $epochs")
    val got = graft.streaming.Streams.latestCells(spark, logDir, Seq("k"))
    val want = agg(spark.read.parquet(inDir))
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "resumed update monitor diverged from the batch aggregate")
  }

  test("stale compaction survivor counts as existing state for a fresh lineage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a PREVIOUS lineage's compaction swap crashed between its renames:
    // the live log is gone but the whole accumulated log survives in
    // __old. A fresh checkpoint lineage starting over that spot would
    // see "no data", start at epoch 0, and then have the first batch's
    // recoverCompactSwap restore the OLD lineage's rows (higher
    // __epoch) underneath it — stale cells would win the latest-wins
    // view forever. The refusal must count the survivor as the log.
    val base = java.nio.file.Files.createTempDirectory("graft_updold").toString
    val inDir = s"$base/in"; val logDir = s"$base/log"
    val d1 = Seq(("a", 1L)).toDF("k", "v")
    d1.coalesce(1).write.parquet(inDir)
    Seq(("a", 99L)).toDF("k", "s").withColumn("__epoch", lit(9L))
      .write.parquet(logDir + "__old")
    def stream() = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val e = intercept[IllegalStateException] {
      graft.streaming.Streams.runUpdateMonitor(spark,
        stream().groupBy(col("k")).agg(sum(col("v")).as("s")), logDir)
    }
    assert(e.getMessage.contains("checkpointDir"), e.getMessage)
    // the index streams refuse the same shape: epoch-tagged files
    // orphaned in the survivor block a fresh self-indexing lineage
    val idxDir = s"$base/idx"
    new java.io.File(s"$base/idx__old").mkdirs()
    Seq((1L, 2L)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$base/idx__old/staged")
    val f = new java.io.File(s"$base/idx__old/staged")
      .listFiles().find(_.getName.endsWith(".parquet")).get
    f.renameTo(new java.io.File(s"$base/idx__old/epoch-3-0.parquet"))
    val e2 = intercept[IllegalStateException] {
      graft.streaming.Streams.lshDedupSelfIndexing(spark,
        stream().select(col("k").cast("long").as("doc_id"),
          col("v").cast("string").as("text")),
        idxDir, s"$base/m")
    }
    assert(e2.getMessage.contains("checkpoint"), e2.getMessage)
  }

  test("ingest-cadence compaction: bounded files, probe identical (IVF-PQ stream)") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val day0 = emb.filter(col("vec_id") % 5 === 0)
    val q = emb.filter(col("vec_id") < 5)
    val base = java.nio.file.Files.createTempDirectory("graft_cadence_pq")
      .toString
    for (i <- 1 to 4)
      stamped(s"$base/in")(emb.filter(col("vec_id") % 5 === i)
        .coalesce(1).write.mode("append").parquet(s"$base/in"))
    val idxDir = s"$base/idx"; val refDir = s"$base/ref"
    Similarity.buildIvfPqIndex(day0, idxDir, dim = 64, nCells = 16,
      m = 16, codebookSize = 16)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val ingest = graft.streaming.Streams.ivfPqIngest(
      spark, stream, idxDir, compactEvery = 2)
    try ingest.processAllAvailable() finally ingest.stop()
    // every vector landed exactly once despite two mid-stream compactions
    assert(spark.read.parquet(s"$idxDir/codes").count() == emb.count())
    // file growth bounded: ≤ (1 fold + compactEvery epochs) per cell
    val nFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$idxDir/codes"))
    }
    assert(nFiles <= 3 * 16,
      s"codes dir holds $nFiles files (cap ${3 * 16})")
    // probe equality vs a batch rebuild under the same frozen model
    Similarity.buildIvfPqIndex(emb, refDir, dim = 64, nCells = 16,
      m = 16, codebookSize = 16, trainOn = Some(day0))
    val inc = Similarity.knnIvfPqIndexed(spark, idxDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq).toSet
    val ref = Similarity.knnIvfPqIndexed(spark, refDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq).toSet
    assert(inc == ref, "cadence-compacted ingest diverged from the rebuild")
  }

  test("restart from checkpoint: no source reprocessing, state survives") {
    // the operational property behind every long-running ingestion
    // pipeline: kill the query, restart from the checkpoint, and (a) the
    // already-committed source files are NOT read again, (b) the
    // aggregate state picks up where it left off — final result equals
    // the batch aggregate over everything ever ingested
    val base = java.nio.file.Files.createTempDirectory("graft_restart")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = "user_id LONG, v LONG"

    @volatile var captured: Map[Long, (Long, Long)] = Map.empty
    @volatile var inputRows = 0L
    def run(expectRows: Long): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy(col("user_id"))
        .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
        .writeStream
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          captured = df.collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        }
        .start()
      try {
        q.processAllAvailable()
        inputRows = q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
      assert(inputRows == expectRows,
        s"restarted query read $inputRows source rows, expected $expectRows")
    }

    Seq((1L, 10L), (2L, 20L), (1L, 5L)).toDF("user_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    run(expectRows = 3) // phase 1: initial ingest
    assert(captured == Map(1L -> (15L, 2L), 2L -> (20L, 1L)))

    Seq((1L, 1L), (3L, 30L)).toDF("user_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    run(expectRows = 2) // phase 2: ONLY the new file is read
    assert(captured == Map(1L -> (16L, 3L), 2L -> (20L, 1L), 3L -> (30L, 1L)),
      "state after restart must equal the batch aggregate over all files")
  }

  test("stateful running counts via flatMapGroupsWithState over a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)] // (user_id, event_id)
    val counts = ms.toDS().groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[Int]) =>
          val n = state.getOption.getOrElse(0) + it.size
          state.update(n)
          Iterator((uid, n))
      }
    val q = counts.toDF("user_id", "n").writeStream
      .outputMode("update").format("memory").queryName("state_test").start()
    try {
      ms.addData((1L, 10L), (1L, 11L), (2L, 20L))
      q.processAllAvailable()
      ms.addData((1L, 12L), (2L, 21L), (3L, 30L))
      q.processAllAvailable()
      // latest update per user carries the running count
      val last = spark.table("state_test")
        .groupBy(col("user_id")).agg(max(col("n")).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(last == Map(1L -> 3, 2L -> 2, 3L -> 1))
    } finally q.stop()
  }

  test("events time contract: every known physical type yields the same surface") {
    import org.apache.spark.sql.types._
    // legacy TIMESTAMP(NANOS) read as raw long
    val nanos = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    val fromNanos = Tables.withTsNanos(nanos, LongType)
    assert(fromNanos.schema("ts").dataType == TimestampType)
    val rn = fromNanos.select(col("ts_nanos"), unix_micros(col("ts"))).head()
    assert(rn.getLong(0) == 1700000000123456789L)
    assert(rn.getLong(1) == 1700000000123456L) // truncated, not rounded

    // timestamp[us] with isAdjustedToUTC=false (TimestampNTZ)
    val ntz = Seq((1L, 1700000000123456L)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us"))
        .cast(TimestampNTZType).as("ts"))
    val fromNtz = Tables.withTsNanos(ntz, TimestampNTZType)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select(col("ts_nanos")).head().getLong(0) ==
      1700000000123456000L)
  }

  test("events time contract: an unknown physical type fails loudly") {
    // r8 failure mode: a schema drift must never reach query results as
    // plausible-but-wrong values — the normalizer throws instead
    import org.apache.spark.sql.types.StringType
    val drifted = Seq((1L, "2023-11-14 22:13:20")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException] {
      Tables.withTsNanos(drifted, StringType)
    }
    assert(e.getMessage.contains("unsupported parquet type"))
  }

  test("tableIngest: per-batch manifest upkeep, cadence compaction, exact pruned reads") {
    import graft.sources.Skipping
    val base = java.nio.file.Files.createTempDirectory("graft_tbling").toString
    val inDir = s"$base/in"
    val tbl = s"$base/table"
    val src = spark.range(1200).select(col("id"),
      (col("id") % 50).as("key"), (col("id") % 7).cast("double").as("v"))
    // six source files with distinct mtimes → six epochs at
    // maxFilesPerTrigger=1; compactEvery=3 folds once mid-stream
    for (i <- 0 until 6)
      stamped(inDir)(src.filter(col("id") % 6 === i).coalesce(1)
        .write.mode("append").parquet(inDir))
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = Streams.tableIngest(spark, stream, tbl,
      indexCols = Seq("key", "id"), bloomCols = Seq("id"),
      layoutCols = Seq("key"), filesPerEpoch = 4, compactEvery = 3)
    try q.processAllAvailable() finally q.stop()
    // exactly-once content: the ingested table IS the source
    val got = spark.read.parquet(tbl).select("id", "key", "v")
    assert(got.exceptAll(src).count() == 0 && src.exceptAll(got).count() == 0)
    // the manifest tracked every batch: one row per live data file
    val files = Skipping.dataFiles(spark, tbl)
    assert(Skipping.readManifest(spark, tbl).get.count() == files.size)
    // cadence compaction folded epochs < 3 into plain part files
    assert(files.exists(!_.startsWith("epoch-")), s"no folded files: $files")
    assert(files.count(_.startsWith("epoch-")) <= 3 * 4,
      s"unfolded epoch files: $files")
    // range pruning over the layout key: effective AND exact
    val range = Seq(Skipping.RangePred("key", Some(10L), Some(19L)))
    val (kept, total) = Skipping.prunedFiles(spark, tbl, range)
    assert(kept.size * 2 <= total, s"kept ${kept.size} of $total")
    assert(Skipping.readSkipping(spark, tbl, range).count() ==
      src.filter(col("key").between(10, 19)).count())
    // bloom point lookup on the unclustered id
    val point = Seq(Skipping.EqPred("id", 123L))
    val (keptB, totalB) = Skipping.prunedFiles(spark, tbl, point)
    assert(keptB.size * 2 <= totalB, s"bloom kept ${keptB.size} of $totalB")
    assert(Skipping.readSkipping(spark, tbl, point).count() == 1)
    // epoch-reset refusal: live epoch tags + a fresh lineage = corruption
    val e = intercept[IllegalStateException] {
      Streams.tableIngest(spark,
        spark.readStream.schema(src.schema).parquet(inDir), tbl,
        indexCols = Seq("key"))
    }
    assert(e.getMessage.contains("epoch-tagged"))
  }

  test("ingest lease: OPTIMIZE refuses a live stream; force folds a dead one") {
    import graft.sources.{Skipping, Sinks}
    val base = java.nio.file.Files.createTempDirectory("graft_lease").toString
    val inDir = s"$base/in"
    val tbl = s"$base/table"
    val src = spark.range(300).select(col("id"), (col("id") % 20).as("key"))
    src.coalesce(1).write.parquet(inDir)
    val q = Streams.tableIngest(spark,
      spark.readStream.schema(src.schema).parquet(inDir), tbl,
      indexCols = Seq("key"), layoutCols = Seq("key"), filesPerEpoch = 2)
    try q.processAllAvailable() finally q.stop()
    // graceful stop RELEASES the lease within a heartbeat poll (~1s) —
    // "stop the stream and retry" has to actually work, not wait out
    // the 10-minute TTL (ADVICE r15)
    val deadline = System.currentTimeMillis() + 15000L
    while (Sinks.liveIngestLease(spark, tbl).isDefined &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(Sinks.liveIngestLease(spark, tbl).isEmpty,
      "graceful stop did not release the ingest lease")
    // a LIVE writer's lease (here: a foreign stream's heartbeat) makes
    // an external rewrite refuse before any rename
    Sinks.renewIngestLease(spark, tbl, "other-stream")
    assert(Sinks.liveIngestLease(spark, tbl).isDefined)
    val e1 = intercept[IllegalStateException](
      Skipping.optimize(spark, tbl, Nil, nFiles = 1))
    assert(e1.getMessage.contains("live lease"), e1.getMessage)
    // lease expired (stream dead) but epoch tags remain: still refuse —
    // a resume from the old checkpoint would double-append a folded
    // epoch — unless force asserts the stream is gone for good
    System.setProperty("graft.ingest.leaseTtlMs", "1")
    try {
      val e2 = intercept[IllegalStateException](
        Skipping.optimize(spark, tbl, Nil, nFiles = 1))
      assert(e2.getMessage.contains("epoch-tagged"), e2.getMessage)
      val before = spark.read.parquet(tbl).collect().map(_.toString).toSet
      Skipping.optimize(spark, tbl, Nil, nFiles = 1, force = true)
      assert(spark.read.parquet(tbl).collect().map(_.toString).toSet
        == before)
      assert(!Sinks.hasRecoverableEpochFiles(spark, tbl))
    } finally System.clearProperty("graft.ingest.leaseTtlMs")
    // acquire semantics: a foreign LIVE token refuses, the same token
    // re-acquires (crash-restart of the same checkpoint lineage)
    Sinks.acquireIngestLease(spark, tbl, "ck-A")
    val e3 = intercept[IllegalStateException](
      Sinks.acquireIngestLease(spark, tbl, "ck-B"))
    assert(e3.getMessage.contains("another live writer"), e3.getMessage)
    Sinks.acquireIngestLease(spark, tbl, "ck-A")
    // release is fenced by the RUN nonce, not just the token: a
    // restarted stream shares the token (= checkpoint dir), and the old
    // run's dying heartbeat must not delete the successor's live lease
    Sinks.renewIngestLease(spark, tbl, "ck-A", "run-1")
    Sinks.renewIngestLease(spark, tbl, "ck-A", "run-2") // successor
    Sinks.releaseIngestLease(spark, tbl, "ck-A", "run-1") // old run dies
    assert(Sinks.liveIngestLease(spark, tbl).isDefined,
      "old run's release unseated the successor's lease")
    Sinks.releaseIngestLease(spark, tbl, "ck-A", "run-2")
    assert(Sinks.liveIngestLease(spark, tbl).isEmpty,
      "owner's own release should delete the lease")
  }

  test("tableIngest preserves a pre-existing manifest's wider column set") {
    import graft.sources.Skipping
    val base = java.nio.file.Files.createTempDirectory("graft_tbwide").toString
    val inDir = s"$base/in"
    val tbl = s"$base/table"
    val src = spark.range(400).select(col("id"),
      (col("id") % 20).as("key"), (col("id") % 9).cast("double").as("w"))
    // day-0 table indexed on (key, w) by a batch job (plain part files —
    // no epoch tags, so a fresh stream lineage may attach)
    src.filter(col("id") < 200).repartitionByRange(4, col("key"))
      .sortWithinPartitions("key").write.parquet(tbl)
    Skipping.writeManifest(spark, tbl, Seq("key", "w"))
    src.filter(col("id") >= 200).coalesce(1).write.parquet(inDir)
    // the stream is configured NARROWER (key only) — the refresh must
    // not rebuild the manifest without w
    val q = Streams.tableIngest(spark,
      spark.readStream.schema(src.schema).parquet(inDir), tbl,
      indexCols = Seq("key"), layoutCols = Seq("key"), filesPerEpoch = 2)
    try q.processAllAvailable() finally q.stop()
    val cols = Skipping.readManifest(spark, tbl).get.columns
    assert(Seq("key__min", "w__min").forall(cols.contains),
      s"manifest lost columns: ${cols.mkString(",")}")
    assert(Skipping.readManifest(spark, tbl).get.count() ==
      Skipping.dataFiles(spark, tbl).size)
  }

  test("streaming read takes its schema from the file footer") {
    // the streaming surface must be identical to the batch surface for
    // whatever physical type the current testdata generation uses —
    // hand-written schemas are what made r8 silently wrong
    val streamed = Streams.readEvents(spark, dir)
    val batch = Tables.load(spark, dir, "events")
    assert(streamed.schema == batch.schema)
    val sRows = Streams.runToCompletion(spark,
      streamed.withWatermark("ts", "1 hour")
        .groupBy(col("event_id")).agg(max(col("ts_nanos")).as("ns")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bRows = batch.select(col("event_id"), col("ts_nanos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sRows == bRows && sRows.nonEmpty)
  }
}
