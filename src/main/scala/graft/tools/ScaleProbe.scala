package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, KMeans, Retrieval, Similarity, TextAnalysis}
import graft.GraftSession
import graft.sources.Tables
import graft.streaming.Streams

/** Empirical scale-exponent probe: replicates the sf0.1 `documents`
  * corpus 1×/2×/4×/8× (doc_id offset + per-replica text tag, so
  * near-dup structure stays per-replica realistic instead of every
  * document gaining 7 exact copies), times the heavyweight corpus
  * operators at each factor, and fits the log-log slope.
  *
  * The point: "would this plan survive a 100× scale-up" is an empirical
  * question, not a vibe. An operator whose fitted exponent is ≈ 1.0
  * scales linearly in corpus size on fixed parallelism — the shape that
  * survives 1000 executors × 100 TB; an exponent ≳ 1.5 means some pair
  * or rescan cost is compounding and the operator needs a design fix
  * before scale-up (this is exactly how the r5 ta_chunks quadratic
  * would have been caught by measurement: its exponent was ≈ 2 in
  * document length).
  *
  * Usage: `runMain graft.tools.ScaleProbe [runsPerPoint [opName...]]`
  * with SPARK_GRAFT_SF_DIR (default sf0.1); trailing op names restrict
  * the probe to just those operators. Reports the MIN over runs at
  * each point (least noise-sensitive for slope fitting on a shared VM)
  * and prints one JSON line per operator plus a summary line.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val runs = if (args.nonEmpty) args(0).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = Seq(1, 2, 4, 8)
    // production session wiring: the automatic skipping/metadata rules
    // must be active or the skip_* probes measure the wrong engine
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-scaleprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    def corpus(f: Int): DataFrame =
      (0 until f).map { i =>
        base.select((col("doc_id") + i.toLong * 100000000L).as("doc_id"),
          col("source"), concat(lit(s"r$i "), col("text")).as("text"))
      }.reduce(_ unionAll _)

    // embeddings replica for the vector-side ops (identical vectors per
    // replica is fine: assignment cost is linear in rows regardless)
    val embBase = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    def embCorpus(f: Int): DataFrame =
      (0 until f).map { i =>
        embBase.select((col("vec_id") + i.toLong * 100000000L).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionAll _)

    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "exact_dedup" -> (f => Dedup.exact(corpus(f))),
      "minhash_portable_pairs" ->
        (f => Dedup.minhashDupPairsPortable(corpus(f), threshold = 0.5)),
      // r12: the production fast-hash decontamination — both sides sign
      // with xxhash64, cross-side-only band join with a broadcast eval
      // leg. Both sides grow f× (train AND the planted eval overlap);
      // expect ≈ 1: signature computation dominates and banding keeps
      // the join off the train×eval product.
      "contamination_fast" -> (f => {
        val c = corpus(f)
        val train = c.filter(col("source").isin("src0", "src1"))
          .select(col("doc_id"), col("text"))
        val eval = c.filter(col("source") === "src2")
          .select(col("doc_id"), col("text"))
          .unionAll(train.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 500000000L).as("doc_id"), col("text")))
        Dedup.contamination(train, eval, threshold = 0.5)
      }),
      "chunk_docs_64" -> (f =>
        TextAnalysis.chunkDocs(corpus(f), "text", 64, keep = Seq("doc_id"))
          .groupBy().agg(count(lit(1)).as("n_chunks"),
            sum(col("n_toks")).as("toks"))),
      "gopher_ngrams" -> (f =>
        TextAnalysis.gopherNgramStats(corpus(f))
          .groupBy(col("n"))
          .agg(sum(col("num_chars")).as("rep"), sum(col("pass")).as("p"))),
      "winnow_fingerprints" -> (f =>
        TextAnalysis.winnowFingerprints(corpus(f))
          .groupBy().agg(count(lit(1)).as("n"))),
      "tfidf_topk" -> (f => TextAnalysis.tfidfTopK(corpus(f))),
      // k-means: the timed region includes the 2 in-loop re-center
      // actions (fit collects the k×dim model per iteration), which is
      // the honest cost of the operator
      "kmeans_8x3" -> (f => KMeans.fit(embCorpus(f), k = 8, iters = 3)),

      // ---- r6 verdict #3: the heaviest family, previously unprobed ----

      // dd_cluster shape: LSH pair mining + exact-fp pairs + connected
      // components (CC actions run inside the op — counted). The
      // base+80%-prefix-variant harness keeps per-replica true near-dups,
      // so edge count grows linearly with f; expect ≈ 1 (CC iterations
      // add a log-ish chain-contraction term, not a pair blowup).
      "cluster_cc" -> (f => {
        val c = corpus(f).filter(col("source").isin("src0", "src1"))
          .select(col("doc_id"), col("text"))
        val cor = c.unionAll(c.select(
          (col("doc_id") + 1000000000L).as("doc_id"),
          expr("substring(text, 1, (4 * length(text)) div 5)").as("text")))
        val sim = Dedup.minhashDupPairsPortable(cor, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"))
        val fp = cor.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        val ex = fp.select(col("fp"), col("doc_id").as("doc_a"))
          .join(fp.select(col("fp").as("fp_b"), col("doc_id").as("doc_b")),
            col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
        Dedup.connectedComponents(sim.unionAll(ex))
      }),
      // SemDeDup: SRP buckets + broadcast integer centroids + one
      // bucket-keyed semi-join. Identical vectors per replica are the
      // worst case HERE (every bucket's duplicate mass grows f×) —
      // a superlinear fit would expose the per-bucket pair term.
      "semdedup" -> (f => Dedup.semDedup(embCorpus(f), tau = 0.35)),
      // persisted IVF-PQ: train + code + partitionBy-write the index,
      // then the partition-pruned probe read — the full build+query
      // lifecycle at the driver-query parameters
      "ivfpq_index" -> (f => {
        val path = System.getProperty("java.io.tmpdir") +
          s"/graft_probe_ivfpq_$f"
        val e = embCorpus(f)
        Similarity.buildIvfPqIndex(e, path, dim = 64, nCells = 16, m = 16,
          codebookSize = 16)
        Similarity.knnIvfPqIndexed(spark, path,
          embBase.filter(col("vec_id") < 5), k = 10, nProbe = 4,
          refine = 150)
      }))

    // streaming sessionization probes a REPLICATED SOURCE DIR (prepared
    // outside the timed region — data prep is not operator cost): f×
    // events with per-replica user ids, session_window agg run to
    // completion. State grows with live sessions per watermark horizon.
    val evBase = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val evSchema = evBase.schema
    val evDirs: Map[Int, String] = factors.map { f =>
      val d = System.getProperty("java.io.tmpdir") + s"/graft_probe_events_$f"
      (0 until f).map { i =>
        evBase.select(
          (col("event_id") + i.toLong * 1000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + i.toLong * 10000000L).as("user_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionAll _).write.mode("overwrite").parquet(d)
      f -> d
    }.toMap
    val streamOps: Seq[(String, Int => DataFrame)] = Seq(
      "st_sessions" -> (f => Streams.runToCompletion(spark,
        Streams.sessionAgg(
          spark.readStream.schema(evSchema).parquet(evDirs(f))))))

    // ---- round-9 additions: graph + retrieval families ----
    // Click pairs replicated with DISJOINT id spaces per replica (user
    // and item both offset): edge count grows exactly f×, components
    // stay replica-local — the realistic "more of the same graph" shape.
    val pairsBase = Graph.clickPairs(Tables.load(spark, sfDir, "events"))
      .localCheckpoint()
    // Replica offsets derived from the data, not assumed: fixed 10^7/10^4
    // constants would silently overlap replica id spaces if base ids ever
    // exceed them, shrinking the edge-count growth below f and skewing
    // every measured graph exponent.
    val (userOff, itemOff) = {
      val r = pairsBase.agg(max(col("user_id")), max(col("k"))).head()
      (r.getLong(0) + 1L, r.getLong(1) + 1L)
    }
    def pairsRep(f: Int): DataFrame =
      (0 until f).map { i =>
        pairsBase.select(
          (col("user_id") + i.toLong * userOff).as("user_id"),
          (col("k") + i.toLong * itemOff).as("k"))
      }.reduce(_ unionAll _)
    val graphOps: Seq[(String, Int => DataFrame)] = Seq(
      // 5 PageRank iterations; timed region includes the node-count job
      // and the edge-list checkpoint — the honest lifecycle cost
      "pagerank" -> (f => Graph.pagerank(pairsRep(f).select(
        concat(lit("u:"), col("user_id")).as("src"),
        concat(lit("i:"), col("k")).as("dst")))),
      // co-click projection + wedge-join closure; expect ≈ 1 on the
      // disjoint-replica graph (wedge count grows f×, not f²)
      "triangles" -> (f =>
        Graph.triangleCounts(Graph.coClickGraph(pairsRep(f), minShared = 4))),
      // inverted-index build + broadcast query scoring; the "r$i" tag
      // token adds one vocab term per replica, postings grow f×
      "bm25_topk" -> (f => {
        import spark.implicits._
        Retrieval.topK(
          Retrieval.bm25(corpus(f), Retrieval.benchmarkTerms.toDF("qid", "term")),
          k = 10)
      }),
      // bloom build on the f×-grown blocklist + map-side probe + semi
      // confirm; cross-replica shingle hits (the tag doesn't namespace
      // interior 8-grams) keep the match side busy — semi-join cost is
      // linear in both inputs regardless of match multiplicity
      "bloom_contamination" -> (f => {
        val c = corpus(f)
        Dedup.bloomShingleContamination(
          c.filter(col("source") =!= "src0"),
          c.filter(col("source") === "src0"))
      }))

    // ---- round-10 addition: incremental LSH index probe ----
    // The recurring production cost is the PROBE: a fixed day-batch
    // against an index that grows with the archive. Index built per
    // factor OUTSIDE the timed region (build is the linear one-time
    // cost); expect ≈ 1 in index size — the probe is one index scan +
    // band explode + broadcast join, no index shuffle.
    // built once per factor on first use (the first timed run at each
    // point pays it; MIN over runs reports the pure probe)
    val idxCache = scala.collection.mutable.Map[Int, DataFrame]()
    def idxFor(f: Int): DataFrame = idxCache.getOrElseUpdate(f,
      Dedup.buildLshIndex(
        corpus(f).filter(col("source").isin("src0", "src1"))
          .select(col("doc_id"), col("text"))).localCheckpoint())
    lazy val probeBatch = base.filter(col("source") === "src2")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val incOps: Seq[(String, Int => DataFrame)] = Seq(
      "lsh_incremental" -> (f =>
        Dedup.dedupAgainstLshIndex(idxFor(f), probeBatch)))

    // ---- round-11 addition: deep UNION-distinct recursion probe ----
    // Here `f` scales recursion DEPTH (64×f iterations, constant
    // 512-row delta per level), not corpus size. Per-iteration cost
    // flat in the accumulated size ⇒ total time linear in depth ⇒
    // fitted exponent ≈ 1. The old `step.except(acc)` formulation
    // rescanned + re-aggregated the whole accumulation every iteration
    // ⇒ exponent → 2 on this probe. Repeat-free by construction, so it
    // also exercises the Bloom-negative fast path (no acc scan at all).
    val recOps: Seq[(String, Int => DataFrame)] = Seq(
      "recursive_union_depth" -> (f => {
        val depth = 64 * f
        val exec = new graft.exec.Executor(spark, Map.empty)
        exec.query(
          s"""WITH RECURSIVE t(n, k) AS (
             |  SELECT 1, g FROM generate_series(1, 512) AS gs(g)
             |  UNION
             |  SELECT n + 1, k FROM t WHERE n < $depth)
             |SELECT count(*) AS c, sum(n * k) AS s FROM t""".stripMargin)
      }))

    // ---- round-13 addition: update-monitor epoch log probe ----
    // Here `f` scales the monitor HORIZON (64×f triggers, constant cell
    // space), not corpus size: the recurring production cost of an
    // update-mode monitor is the latest-wins read over its epoch log.
    // Logs are prepared OUTSIDE the timed region with the exact
    // appendEpoch / compactParquet(fold=latestWins) calls
    // runUpdateMonitor makes per trigger; the compacted variant folds
    // every 4 epochs (compactEvery=4). Expect ≈ 1 uncompacted — the
    // window re-scans one file per trigger forever, the small-files
    // pathology — and ≈ 0 compacted: 1 folded file + ≤ compactEvery
    // recent epochs regardless of horizon.
    lazy val updCells = Streams.qualityMonitor(base)
      .repartition(1).localCheckpoint()
    val logCache = scala.collection.mutable.Map[(Int, Boolean), String]()
    def logFor(f: Int, compact: Boolean): String =
      logCache.getOrElseUpdate((f, compact), {
        val d = System.getProperty("java.io.tmpdir") +
          s"/graft_probe_updlog_${f}_$compact"
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        for (e <- 0 until 64 * f) {
          if (compact && e > 0 && e % 4 == 0)
            graft.sources.Sinks.compactParquet(spark, d,
              excludeEpoch = Some(e.toLong),
              fold = df => Streams.latestWins(df, Seq("source")))
          graft.sources.Sinks.appendEpoch(
            updCells.withColumn("__epoch", lit(e.toLong)), d, e.toLong)
        }
        d
      })
    val updOps: Seq[(String, Int => DataFrame)] = Seq(
      "update_log_latest_nocompact" -> (f =>
        Streams.latestCells(spark, logFor(f, compact = false), Seq("source"))),
      "update_log_latest_compact" -> (f =>
        Streams.latestCells(spark, logFor(f, compact = true), Seq("source"))))

    // ---- data-skipping fixtures: f scales BOTH rows and file count
    // (f×32 range-clustered files over a global idx), while the probe
    // predicates target a FIXED ABSOLUTE slice / point — so a pruned
    // read should stay ~flat as the table grows (the manifest drops the
    // new files at plan time) while the full-scan control grows with f
    import graft.sources.Skipping
    val evSkipBase = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("value"))
    lazy val nEv: Long = evSkipBase.count()
    val skipDirs = scala.collection.mutable.Map.empty[Int, String]
    var skipAppendSeq = 0L
    def skipFor(f: Int): String = skipDirs.getOrElseUpdate(f, {
      val dir = java.nio.file.Files.createTempDirectory(s"probe_skip_$f")
        .toString + "/t"
      (0 until f).map(i => evSkipBase.select(
          (lit(i.toLong * nEv) + col("event_id")).as("idx"), col("value")))
        .reduce(_ unionAll _)
        .repartitionByRange(f * 32, col("idx")).sortWithinPartitions("idx")
        .write.parquet(dir)
      Skipping.writeManifest(spark, dir, Seq("idx"), Seq("idx"),
        ndvCols = Seq("idx"))
      dir
    })
    // hive layout for the per-partition top-k probe: 8 file-constant
    // groups, idx range-clustered WITHIN each group, every group's file
    // count growing with f
    val wtopkDirs = scala.collection.mutable.Map.empty[Int, String]
    def wtopkFor(f: Int): String = wtopkDirs.getOrElseUpdate(f, {
      val dir = java.nio.file.Files.createTempDirectory(s"probe_wtopk_$f")
        .toString + "/t"
      (0 until f).map(i => evSkipBase.select(
          (lit(i.toLong * nEv) + col("event_id")).as("idx"), col("value")))
        .reduce(_ unionAll _)
        .withColumn("grp", pmod(col("idx"), lit(8L)))
        .repartitionByRange(f * 32, col("grp"), col("idx"))
        .write.partitionBy("grp").parquet(dir)
      Skipping.writeManifest(spark, dir, Seq("grp", "idx"),
        ndvCols = Seq("idx"))
      dir
    })
    // FIXED data size, GROWING file count — the r18 stats-cap fixture:
    // same rows at every factor, split across f*32 range-clustered
    // files, so the probe isolates pruning cost in FILE COUNT
    val capDirs = scala.collection.mutable.Map.empty[Int, String]
    def capFor(f: Int): String = capDirs.getOrElseUpdate(f, {
      val dir = java.nio.file.Files.createTempDirectory(s"probe_cap_$f")
        .toString + "/t"
      evSkipBase.select(col("event_id").as("idx"), col("value"))
        .repartitionByRange(f * 32, col("idx")).sortWithinPartitions("idx")
        .write.parquet(dir)
      Skipping.writeManifest(spark, dir, Seq("idx"))
      dir
    })
    val skipOps: Seq[(String, Int => DataFrame)] = Seq(
      // OVERSIZED-manifest pruning cost in FILE COUNT at fixed data
      // size (r17 VERDICT lead item): statsDriverMaxBytes=1 forces the
      // distributed keep/drop job — no stat row is collected on the
      // driver — and the per-run evictTable clears the TTL'd drop memo
      // so every run times the JOB, not the memo. The action runs
      // inside the op (the prop must cover planning). Expect ~flat:
      // the keep/drop evaluation distributes over the manifest parquet
      // while the driver only receives the dropped triples.
      "skip_stats_cap" -> (f => {
        val dir = capFor(f)
        sys.props("graft.skipping.statsDriverMaxBytes") = "1"
        try {
          Skipping.evictTable(dir)
          val lo = nEv / 2
          val hi = lo + math.max(1L, nEv / 64L)
          val n = Tables.readParquet(spark, dir)
            .filter(col("idx") >= lo && col("idx") < hi)
            .agg(count(lit(1))).head().getLong(0)
          require(n > 0, "cap probe must keep some rows")
          spark.range(n + 1).toDF("n")
        } finally {
          sys.props.remove("graft.skipping.statsDriverMaxBytes")
          Skipping.evictTable(dir)
        }
      }),
      // OVERSIZED-mode metadata aggregate (r19): the distributed
      // completeness walk + fused aggregate over the manifest parquet
      // must stay ~flat in FILE COUNT at fixed data size — a silent
      // decline would surface as a LINEAR full-scan exponent, a silent
      // collect as driver heap. Evict per run so the job is timed,
      // not the digest memo.
      "skip_meta_oversized" -> (f => {
        val dir = capFor(f)
        sys.props("graft.skipping.statsDriverMaxBytes") = "1"
        try {
          Skipping.evictTable(dir)
          val r = Tables.readParquet(spark, dir)
            .agg(count(lit(1)).as("n"), min(col("idx")).as("mn"),
              max(col("idx")).as("mx")).head()
          require(r.getLong(0) > 0L, "oversized meta agg must answer")
          spark.range(1).toDF("n")
        } finally {
          sys.props.remove("graft.skipping.statsDriverMaxBytes")
          Skipping.evictTable(dir)
        }
      }),
      // OVERSIZED-mode top-k: the window prefix walk over the manifest
      // parquet + the pruned tail scan — ~flat in file count
      "skip_topk_oversized" -> (f => {
        val dir = capFor(f)
        sys.props("graft.skipping.statsDriverMaxBytes") = "1"
        try {
          Skipping.evictTable(dir)
          val n = Tables.readParquet(spark, dir)
            .orderBy(col("idx").desc).limit(100).count()
          require(n == 100L, "oversized top-k must keep 100 rows")
          spark.range(1).toDF("n")
        } finally {
          sys.props.remove("graft.skipping.statsDriverMaxBytes")
          Skipping.evictTable(dir)
        }
      }),
      // fixed absolute range over a growing table: manifest pruning
      // should hold the cost ~flat (exponent ≈ 0)
      "skip_scan_pruned_fixed" -> (f =>
        Skipping.readSkipping(spark, skipFor(f),
            Seq(Skipping.RangePred("idx", Some(0L), Some(nEv / 10))))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))),
      // the control: same predicate, automatic rules opted out via the
      // graft.noskip reader option — a genuine full scan, linear in f
      "skip_scan_full_control" -> (f =>
        Tables.readParquet(spark, Seq(skipFor(f)),
          Map("graft.noskip" -> "true"))
          .where(col("idx") <= nEv / 10)
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))),
      // bloom point probe over a growing unpruned-by-intervals... the
      // range layout DOES interval-prune here; the measurement is the
      // end-to-end point lookup staying flat as files multiply
      "skip_bloom_point" -> (f =>
        Skipping.readSkipping(spark, skipFor(f),
            Seq(Skipping.EqPred("idx", nEv / 2)))
          .agg(count(lit(1)).as("n"))),
      // metadata-only aggregate over a GROWING manifest table: count +
      // min answered from the manifest with zero files opened — must be
      // ~flat while rows and file count grow 8x (the scan-based answer
      // would be linear in f)
      "skip_meta_count" -> (f =>
        Tables.readParquet(spark, skipFor(f))
          .agg(count(lit(1)).as("n"), min(col("idx")).as("mn"),
            max(col("idx")).as("mx"))),
      // top-k file pruning over a GROWING clustered table: ORDER BY idx
      // DESC LIMIT 100 — the derived bound filter keeps only the tail
      // file(s), so the cost must stay ~flat while rows and file count
      // grow 8× (an unpruned top-k is a linear full scan + heap)
      "skip_topk" -> (f =>
        Tables.readParquet(spark, skipFor(f))
          .orderBy(col("idx").desc).limit(100)),
      // per-partition top-k over a growing hive layout: one bound per
      // group keeps each group's tail file(s) — flat while every
      // group's file count grows 8×
      "skip_window_topk" -> (f => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("grp").orderBy(col("idx").desc)
        Tables.readParquet(spark, wtopkFor(f))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 100)
      }),
      // chain count(DISTINCT) over a GROWING clustered table: per-file
      // exact ndv stats add along disjoint ranges, zero files opened —
      // the driver-side fold must stay ~flat while distinct values and
      // file count grow 8x (a scan-based distinct is linear + shuffle)
      "skip_meta_ndv" -> (f =>
        Tables.readParquet(spark, skipFor(f))
          .agg(countDistinct(col("idx")).as("nd"),
            count(lit(1)).as("n"))),
      // dense_rank per-partition top-k over the growing hive layout:
      // the distinct-value bound (ndv chain) keeps each group's tail
      // file(s) — flat like the row_number leg
      "skip_topk_dense" -> (f => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("grp").orderBy(col("idx").desc)
        Tables.readParquet(spark, wtopkFor(f))
          .withColumn("dr", dense_rank().over(w))
          .filter(col("dr") <= 100)
      }),
      // join-driven dynamic file pruning: a FIXED 100-key dim over the
      // growing clustered fact — the plan-time key collection plus the
      // pruned join must stay ~flat (the keys live in the base
      // replica's idx range; every added replica's files prune away)
      "skip_dfp" -> (f => {
        val dim = spark.range(100)
          .select((col("id") * (nEv / 200L)).as("dk"))
        Tables.readParquet(spark, skipFor(f))
          .join(dim, col("idx") === col("dk"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      }),
      // per-batch manifest maintenance vs ACCUMULATED table size: append
      // one small epoch's worth of rows, then refreshManifest — must be
      // FLAT (delta cost: only the new files are statted), the property
      // that makes per-trigger upkeep viable in tableIngest. Appended
      // idx values sit far outside the other probes' predicate ranges.
      // (Listed last: it mutates the shared fixtures.)
      "skip_refresh_delta" -> (f => {
        val dir = skipFor(f)
        skipAppendSeq += 1
        evSkipBase.limit(2000).select(
            (col("event_id") + lit(1000000000L) * skipAppendSeq).as("idx"),
            col("value"))
          .coalesce(2).write.mode("append").parquet(dir)
        val (a, r) = Skipping.refreshManifest(spark, dir,
          Seq("idx"), Seq("idx"))
        spark.range(a + r + 1).toDF("n")
      }),
      // OWNER-path per-trigger maintenance (r15): appendEpoch's reported
      // delta fed straight to refreshManifestDelta — no table listing,
      // no segment-log read. Expect ~0 in total file count; the RPC-
      // count proof lives in ManifestDeltaSpec's counting filesystem,
      // this pins the wall-clock side. (Also mutates the fixtures —
      // appended idx values sit outside the other probes' ranges.)
      "skip_refresh_owner" -> (f => {
        val dir = skipFor(f)
        skipAppendSeq += 1
        val batch = evSkipBase.limit(2000).select(
            (col("event_id") + lit(1000000000L) * skipAppendSeq).as("idx"),
            col("value")).coalesce(2)
        val (a, r) = graft.sources.Sinks.appendEpoch(
          batch.localCheckpoint(true), dir, skipAppendSeq)
        val ok = Skipping.refreshManifestDelta(spark, dir,
          Seq("idx"), Seq("idx"), a, r)
        require(ok, "owner state must be seeded by the fixture build")
        spark.range(a.size.toLong + 1L).toDF("n")
      }))

    val opFilter = args.drop(1).toSet
    val allOps =
      (ops ++ streamOps ++ graphOps ++ incOps ++ recOps ++ updOps ++ skipOps)
      .filter { case (n, _) => opFilter.isEmpty || opFilter(n) }

    // build the update-log fixtures for EVERY factor up front (the
    // warm-up below only touches f=1): with lazy construction the first
    // timed run at each higher factor would include hundreds of
    // appendEpoch calls and publish log-construction time as the probe
    // measurement whenever runs-per-point is 1
    if (allOps.exists(_._1.startsWith("update_log")))
      for (f <- factors; c <- Seq(false, true)) logFor(f, c)
    // same reason: manifest+layout construction must not be timed
    if (allOps.exists(_._1.startsWith("skip_"))) factors.foreach(skipFor)
    if (allOps.exists(n => n._1 == "skip_window_topk" ||
        n._1 == "skip_topk_dense")) factors.foreach(wtopkFor)
    if (allOps.exists(n => n._1 == "skip_stats_cap" ||
        n._1 == "skip_meta_oversized" || n._1 == "skip_topk_oversized"))
      factors.foreach(capFor)

    // JIT/codegen warm-up outside the measured region
    allOps.foreach { case (_, op) =>
      op(1).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    }

    val results = allOps.map { case (name, op) =>
      val times = factors.map { f =>
        val ts = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          op(f).write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          dt
        }
        val best = ts.min
        System.err.println(f"[scaleprobe] $name%-24s ${f}x: $best%7.2f s" +
          f"  (${ts.map(t => f"$t%.2f").mkString("/")})")
        best
      }
      // least-squares slope of ln(t) on ln(f): the scale exponent
      val xs = factors.map(f => math.log(f.toDouble))
      val ys = times.map(math.log)
      val xm = xs.sum / xs.size
      val ym = ys.sum / ys.size
      val slope = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
        xs.map(x => (x - xm) * (x - xm)).sum
      println(f"""{"op":"$name","exponent":$slope%.2f,"times":[${
        times.map(t => f"$t%.3f").mkString(",")}],"factors":[${
        factors.mkString(",")}]}""")
      (name, slope)
    }
    val worst = results.maxBy(_._2)
    println(f"""{"metric":"scale_exponent_worst","op":"${worst._1}","value":${worst._2}%.2f}""")
    spark.stop()
  }
}
