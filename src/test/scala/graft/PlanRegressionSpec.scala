package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate (VERDICT r3 #7): the properties that make
  * the headline queries scale — filters pushed to the parquet scan,
  * columns pruned, dimension joins broadcast, no accidental cartesian
  * products, no UDF nodes in hot paths — asserted at `sbt test` time so
  * a perf-regressing plan change fails CI, not the next bench round.
  *
  * Construction only (no job runs): assertions read the pre-execution
  * physical plan string. sf0.001 keeps any constant-evaluation work
  * (table-function literals) trivial.
  */
class PlanRegressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  /** cartesian shapes: CartesianProduct, or BNLJ with a non-trivial
    * build side. Queries listed here must never contain either. */
  private def assertNoCartesian(p: String, name: String): Unit = {
    assert(!p.contains("CartesianProduct"), s"$name plan has CartesianProduct")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plan has BNLJ")
  }

  /** Scala UDFs print as `UDF(...)`/`UDF:` in plan details; the hot
    * relational/dedup/similarity paths must stay native (codegen). */
  private def assertNoUdf(p: String, name: String): Unit =
    assert(!p.contains("UDF"), s"$name plan contains a UDF node")

  test("q1_pricing_summary: shipdate filter pushed, columns pruned, no UDF") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "l_shipdate filter not pushed to scan")
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"),
      "unneeded lineitem columns not pruned")
    assertNoCartesian(p, "q1"); assertNoUdf(p, "q1")
  }

  test("q3_segment_revenue: top-k is TakeOrdered, dims broadcast, filters pushed") {
    val p = plan("q3_segment_revenue")
    assert(p.contains("TakeOrderedAndProject"), "sort+limit not fused to top-k")
    assert(p.contains("BroadcastHashJoin"), "no broadcast join on dimensions")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
    assert(p.contains("EqualTo(c_mktsegment"), "segment filter not pushed")
    assertNoCartesian(p, "q3"); assertNoUdf(p, "q3")
  }

  test("q5_nation_revenue: all five joins broadcast, lineitem pruned to 4 cols") {
    val p = plan("q5_nation_revenue")
    // count numbered node lines — FormattedMode prints every node twice
    // (tree + details), so a raw substring count double-counts
    val bhj = "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 5, s"expected >=5 broadcast joins, saw $bhj")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
    assert(!p.contains("l_comment") && !p.contains("l_quantity"),
      "lineitem columns not pruned")
    assertNoCartesian(p, "q5"); assertNoUdf(p, "q5")
  }

  test("q19_or_pushdown: the OR-of-ANDs predicate reaches the scan") {
    val p = plan("q19_or_pushdown")
    assert(p.contains("PushedFilters: [") && p.contains("Or("),
      "OR predicate not pushed to parquet")
    assertNoUdf(p, "q19")
  }

  test("q_filter_project: filter and projection pushed to the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("GreaterThanOrEqual(p_size,30)"), "size filter not pushed")
    assert(p.contains("EqualTo(p_brand"), "brand filter not pushed")
    assert(!p.contains("p_comment") && !p.contains("p_container"),
      "part columns not pruned")
    assertNoCartesian(p, "q_filter_project"); assertNoUdf(p, "q_filter_project")
  }

  test("fq_join_agg / fq_revenue: dialect-compiled plans broadcast / stay clean") {
    val pj = plan("fq_join_agg")
    assert(pj.contains("BroadcastHashJoin"), "fq_join_agg: no broadcast join")
    assertNoCartesian(pj, "fq_join_agg"); assertNoUdf(pj, "fq_join_agg")
    val pr = plan("fq_revenue") // single-table agg: no join to assert
    assertNoCartesian(pr, "fq_revenue"); assertNoUdf(pr, "fq_revenue")
  }

  test("fq_json_lateral: native from_json generator, no Jackson UDF (r4 fix)") {
    val p = plan("fq_json_lateral")
    assert(p.contains("Generate"), "lateral explode missing")
    assert(p.contains("from_json"), "json_each not on the native from_json path")
    assertNoUdf(p, "fq_json_lateral")
    assert(!p.contains("CartesianProduct"), "fq_json_lateral has CartesianProduct")
    // (one BNLJ against a broadcast 1-row aggregate is expected — the
    // scalar COUNT join — and harmless; CartesianProduct is not.)
  }

  test("sim_knn_lsh: bucket join is equi (broadcast), not all-pairs") {
    val p = plan("sim_knn_lsh")
    assert(p.contains("BroadcastHashJoin"), "bucket join not broadcast-equi")
    assertNoCartesian(p, "sim_knn_lsh"); assertNoUdf(p, "sim_knn_lsh")
  }

  test("sim_knn_brute: declared cross join broadcasts the query side; two-phase top-k") {
    val p = plan("sim_knn_brute")
    // the ONE declared all-pairs baseline: BNLJ is expected, but the
    // small (query) side must be the broadcast side
    assert(p.contains("BroadcastNestedLoopJoin"), "brute force shape changed")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows >= 2, s"two-phase top-k collapsed to $windows window(s)")
    assertNoUdf(p, "sim_knn_brute")
  }

  test("dd_minhash_portable: banded dedup stays equi-join only") {
    val p = plan("dd_minhash_portable")
    assertNoCartesian(p, "dd_minhash_portable")
    assertNoUdf(p, "dd_minhash_portable")
  }

  test("ta_tfidf: keyed shuffles only; the one BNLJ is the broadcast corpus-N") {
    val p = plan("ta_tfidf")
    assert(!p.contains("CartesianProduct"), "ta_tfidf has CartesianProduct")
    // the corpus doc-count N rides a 1-row broadcast BNLJ — expected;
    // more than one BNLJ would mean a real join degraded
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"ta_tfidf has $bnlj BNLJs (expected the 1-row N only)")
    assertNoUdf(p, "ta_tfidf")
  }

  test("ta_sample_stratified: hash-sampling predicate pushed to the scan") {
    val p = plan("ta_sample_stratified")
    assertNoCartesian(p, "ta_sample_stratified")
    assertNoUdf(p, "ta_sample_stratified")
  }

  test("dd_contamination: banded equi joins only, no cartesian, no UDF") {
    val p = plan("dd_contamination")
    assertNoCartesian(p, "dd_contamination")
    assertNoUdf(p, "dd_contamination")
  }

  test("ta_shards / ta_mixture: only 1-row/tiny broadcasts beyond the scan") {
    for (name <- Seq("ta_shards", "ta_mixture")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has CartesianProduct")
      // the global-total (1 row) and fraction table (per-source) ride
      // broadcast nested loop / broadcast hash joins — anything more
      // means the narrow-map shape regressed
      val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= 1, s"$name has $bnlj BNLJs (expected at most the 1-row total)")
      assertNoUdf(p, name)
    }
  }

  test("dd_substring / q_sessionize / ta_importance: keyed shuffles only") {
    // dd_substring: gram census + tag join are equi on the gram hash,
    // interval windows keyed by doc — nothing pairwise anywhere
    val ps = plan("dd_substring")
    assertNoCartesian(ps, "dd_substring"); assertNoUdf(ps, "dd_substring")
    // q_sessionize: pure window + agg pipeline keyed by user_id —
    // join-free end to end
    val pq = plan("q_sessionize")
    assertNoCartesian(pq, "q_sessionize"); assertNoUdf(pq, "q_sessionize")
    assert(!pq.contains("Join"), "q_sessionize must be join-free")
    // ta_importance: weight table + corpus total ride broadcasts; the
    // only BNLJ is the declared 1-row total crossJoin
    val pi = plan("ta_importance")
    assert(!pi.contains("CartesianProduct"), "ta_importance has CartesianProduct")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(pi).size
    assert(bnlj <= 1, s"ta_importance has $bnlj BNLJs (expected the 1-row total)")
    assertNoUdf(pi, "ta_importance")
    // dd_paragraph: the keep-decision must stay an arg-min AGGREGATE
    // (skew-immune partial min), never a row_number window over the
    // paragraph-hash partition — a boilerplate paragraph duplicated 10⁹×
    // would funnel one window partition through one task
    val pp = plan("dd_paragraph")
    assertNoCartesian(pp, "dd_paragraph"); assertNoUdf(pp, "dd_paragraph")
    assert(!pp.contains("RunningWindowFunction") && !pp.contains("Window"),
      "dd_paragraph keep-decision regressed to a window")
    // q_funnel: stage joins stay user-keyed equi; the only BNLJs are
    // the three declared 1-row stage-count broadcasts
    val pf = plan("q_funnel")
    assert(!pf.contains("CartesianProduct"), "q_funnel has CartesianProduct")
    val fBnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(pf).size
    assert(fBnlj <= 3, s"q_funnel has $fBnlj BNLJs (expected the 3 1-row counts)")
    assertNoUdf(pf, "q_funnel")
    // ta_bpe_pairs: corpus→vocab census then pair mining over the vocab;
    // join-free, top-k must fuse to TakeOrderedAndProject (a global sort
    // of the pair census would be the scale regression)
    val pb = plan("ta_bpe_pairs")
    assertNoCartesian(pb, "ta_bpe_pairs"); assertNoUdf(pb, "ta_bpe_pairs")
    assert(!pb.contains("Join"), "ta_bpe_pairs must be join-free")
    assert(pb.contains("TakeOrderedAndProject"),
      "ta_bpe_pairs top-k no longer fuses to TakeOrderedAndProject")
  }

  test("ta_gopher / ta_prepare: no cartesian, no UDF, BNLJ bounded exactly") {
    // ta_gopher is join-free: any BNLJ is a regression. ta_prepare
    // carries EXACTLY one — the 1-row shard-total broadcast cross join
    // from tokenShards; a second would mean a real join degraded.
    val pg = plan("ta_gopher")
    assertNoCartesian(pg, "ta_gopher"); assertNoUdf(pg, "ta_gopher")
    val pp = plan("ta_prepare")
    assert(!pp.contains("CartesianProduct"), "ta_prepare has CartesianProduct")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(pp).size
    assert(bnlj == 1, s"ta_prepare has $bnlj BNLJs (expected the 1-row total only)")
    assertNoUdf(pp, "ta_prepare")
  }

  test("ta_prepare_fuzzy: banded equi-joins only, BNLJ bounded exactly") {
    // the fuzzy dedup stage must mine candidates through the banded
    // LSH equi-join — any CartesianProduct means the all-pairs shape
    // leaked in; the one legal BNLJ is tokenShards' 1-row shard total
    val p = plan("ta_prepare_fuzzy")
    assert(!p.contains("CartesianProduct"), "ta_prepare_fuzzy has CartesianProduct")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"ta_prepare_fuzzy has $bnlj BNLJs (expected the 1-row total only)")
    assertNoUdf(p, "ta_prepare_fuzzy")
  }

  test("ta_chunks / ta_pack: tokenize-once chunking, no cartesian, no UDF") {
    // the r5 quadratic bug inlined split() into the per-chunk lambda;
    // the Generate node must reference only the materialized token
    // attribute (chunkDocs contract, also pinned in OperatorsSpec)
    Seq("ta_chunks", "ta_pack").foreach { q =>
      val p = plan(q)
      val gen = p.linesIterator.filter(_.contains("Generate"))
      assert(gen.nonEmpty && gen.forall(!_.contains("split(")),
        s"$q: split() inlined into the chunk Generate")
      assert(!p.contains("CartesianProduct"), s"$q plan has CartesianProduct")
    }
    // ta_chunks is join-free end to end; ta_pack's only BNLJ is the
    // declared 1-row × 1-row census crossJoin (windows ⨯ census)
    assertNoCartesian(plan("ta_chunks"), "ta_chunks")
    assertNoUdf(plan("ta_chunks"), "ta_chunks")
  }

  test("ta_c4 / ta_c4_spans: line rules stay narrow, span dedup equi-only") {
    val p1 = plan("ta_c4")
    assertNoCartesian(p1, "ta_c4"); assertNoUdf(p1, "ta_c4")
    // line cleanup is a pure map: exactly one exchange (the final
    // per-source aggregate), no join of any kind
    assert(!p1.contains("Join"), "ta_c4 must be join-free")
    val p2 = plan("ta_c4_spans")
    assertNoCartesian(p2, "ta_c4_spans"); assertNoUdf(p2, "ta_c4_spans")
  }

  test("ta_gopher_ngrams: one corpus pass, broadcast threshold grid only") {
    val p = plan("ta_gopher_ngrams")
    assertNoUdf(p, "ta_gopher_ngrams")
    assert(!p.contains("CartesianProduct"), "cartesian in ngram plan")
    // the only nested-loop shape allowed is the 9-row threshold grid
    // broadcast; the corpus-side scans must not multiply: the documents
    // parquet is read at most twice (census pass + n-gram pass — `keep`
    // carries source, so no third join-back scan). Count NUMBERED node
    // lines: FormattedMode prints every node twice (tree + details).
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"documents scanned $scans times (fan-out regression)")
    // the doc_id repartition belongs to the gram leg alone: a second
    // REPARTITION_BY_COL exchange means the census leg shuffles the
    // corpus too (ReuseExchange cannot merge the two differently
    // projected legs)
    val byCol = "REPARTITION_BY_COL".r.findAllIn(p).size
    assert(byCol <= 1, s"$byCol corpus repartition exchanges (expected one)")
  }

  test("km_embed: literal-centroid assignment, pruned scan, broadcast summary join") {
    // the assignment pass must carry the centroids as plan literals (no
    // join, no shuffle before the per-cluster aggregate), the embeddings
    // scan must prune the unused label column, and the k-row centroid-sum
    // join must broadcast
    val p = plan("km_embed")
    assertNoCartesian(p, "km_embed"); assertNoUdf(p, "km_embed")
    assert(p.contains("BroadcastHashJoin"), "centroid-sum join not broadcast")
    assert(!p.contains("SortMergeJoin"), "k-row join degraded to SMJ")
    assert(!p.contains("label"), "unused label column not pruned from scan")
  }

  test("ta_drift: one cell shuffle, 1-row totals broadcast only") {
    val p = plan("ta_drift")
    assert(!p.contains("CartesianProduct"), "ta_drift has CartesianProduct")
    assertNoUdf(p, "ta_drift")
    // the only nested-loop shape allowed is the declared 1-row totals
    // crossJoin riding a broadcast
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"ta_drift has $bnlj BNLJs (expected the 1-row total only)")
    assert(!p.contains("SortMergeJoin"), "ta_drift join degraded to SMJ")
  }

  test("q_profile: one corpus scan feeds every per-column statistic") {
    // ANALYZE-style profiling must not rescan per column: the four
    // columns' stats ride one Expand over one parquet scan
    val p = plan("q_profile")
    assertNoCartesian(p, "q_profile"); assertNoUdf(p, "q_profile")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"lineitem scanned $scans times (expected 1)")
    assert(p.contains("Expand"), "multi-distinct did not plan as Expand")
  }

  test("q_profile_approx production path: HLL NDV, no Expand, one scan") {
    // the scale path for ANALYZE: approx_count_distinct must NOT plan
    // through Expand (exact multi-distinct replicates every input row
    // per distinct column) and must keep the single corpus scan
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
    val p = graft.queries.Relational.profileApprox(
        li, Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Expand"),
      "profileApprox planned through Expand — exact-NDV shape leaked in")
    assert(p.toLowerCase.contains("approx_count_distinct"),
      "HLL aggregate missing from profileApprox plan")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"lineitem scanned $scans times (expected 1)")
    assertNoUdf(p, "profileApprox")
  }

  test("ap_top_k: sketch aggregate present, exact side broadcast-joined") {
    val p = plan("ap_top_k")
    assert(p.toLowerCase.contains("approx_top_k"),
      "native approx_top_k aggregate missing from plan")
    assertNoUdf(p, "ap_top_k")
    assert(!p.contains("CartesianProduct"), "cartesian in ap_top_k")
  }

  test("ta_shuffle: seeded global order fuses to TakeOrderedAndProject") {
    val p = plan("ta_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit not fused — a global sort would bottleneck at scale")
    assertNoUdf(p, "ta_shuffle")
  }

  test("runtime bloom filter injects on a selective dim join (shuffle path)") {
    // At 100 TB a fact⋈filtered-dim join that is too big to broadcast
    // goes shuffle — and Spark's runtime bloom filter (InjectRuntimeFilter)
    // should then prune the fact scan by the dim's join keys BEFORE the
    // exchange. Local datasets sit under the size thresholds, so lower
    // them to observe the 100 TB plan shape; broadcast is disabled to
    // force the shuffle path the optimization exists for.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      val p = spark.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") === "Brand#13")
      val joined = l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter in optimized plan:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("graph / retrieval / rolling-window plans: keyed shuffles only") {
    // gr_pagerank: every iteration is an equi join + hash agg — a
    // cartesian anywhere means the rank×edge join key was lost
    val pp = plan("gr_pagerank")
    assertNoCartesian(pp, "gr_pagerank"); assertNoUdf(pp, "gr_pagerank")
    // gr_triangles: wedge build + closure probe are equi joins; the
    // closure must be a LeftSemi (probe, not materialize)
    val pt = plan("gr_triangles")
    assertNoCartesian(pt, "gr_triangles"); assertNoUdf(pt, "gr_triangles")
    assert(pt.contains("LeftSemi"), "gr_triangles closure probe not a semi join")
    // ret_bm25: postings joins ride broadcasts (query side is tiny by
    // construction); the only BNLJ is the declared 1-row N/avgdl stats
    val pb = plan("ret_bm25")
    assert(!pb.contains("CartesianProduct"), "ret_bm25 has CartesianProduct")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(pb).size
    assert(bnlj <= 1, s"ret_bm25 has $bnlj BNLJs (expected the 1-row stats)")
    assertNoUdf(pb, "ret_bm25")
    // df (document frequency) must aggregate the term-PRUNED postings:
    // the broadcast semi-join to the query terms sits below the df
    // HashAggregate, so the full vocabulary never shuffles for a
    // |q|-row answer. The prune is the plan's only LeftSemi.
    assert(pb.contains("LeftSemi"),
      "ret_bm25 df aggregation input is not term-pruned (no LeftSemi)")
    // q_rolling_7d: join-free — one user-keyed window end to end
    val pr = plan("q_rolling_7d")
    assert(!pr.contains("Join"), "q_rolling_7d must be join-free")
    assertNoUdf(pr, "q_rolling_7d")
    // q_transitions: join-free — user-keyed lag window, then a tiny grid
    val px = plan("q_transitions")
    assert(!px.contains("Join"), "q_transitions must be join-free")
    assertNoUdf(px, "q_transitions")
    // dd_bloom_contamination: the bloom probe is a declared UDF filter
    // (runs map-side pre-shuffle); the confirm join must stay LeftSemi
    // equi and nothing may be cartesian
    val pc = plan("dd_bloom_contamination")
    assertNoCartesian(pc, "dd_bloom_contamination")
    assert(pc.contains("LeftSemi"),
      "dd_bloom_contamination confirm join not a semi join")
  }

  test("q_gapfill: one keyed daily shuffle, broadcast grid, windowed LOCF") {
    val p = plan("q_gapfill")
    assert(!p.contains("CartesianProduct"), "q_gapfill has CartesianProduct")
    // the only nested-loop is the declared broadcast cross of the two
    // tiny grid frames (day span × distinct types)
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"q_gapfill has $bnlj BNLJs (expected the grid cross)")
    assert(p.contains("Window"), "LOCF window missing")
    assertNoUdf(p, "q_gapfill")
  }

  test("dd_bloom_incremental: artifact probe keeps the semi-join confirm") {
    val p = plan("dd_bloom_incremental")
    assertNoCartesian(p, "dd_bloom_incremental")
    assert(p.contains("LeftSemi"),
      "dd_bloom_incremental confirm join not a semi join")
  }

  test("dd_lsh_incremental: index streams map-side, one broadcast band join") {
    // the probe's contract: the persisted index is scanned once and
    // never shuffled — the batch bands ride the single broadcast hash
    // join, the confirm is inline lane comparison, and the only
    // exchange is the final best-match aggregation (keyed by batch doc)
    val p = plan("dd_lsh_incremental")
    assertNoCartesian(p, "dd_lsh_incremental")
    assertNoUdf(p, "dd_lsh_incremental")
    assert(p.contains("BroadcastHashJoin"),
      "batch band join is not a broadcast hash join")
    assert(!p.contains("SortMergeJoin"),
      "index side fell into a shuffle join")
    // two shuffles total: the best-match aggregation (keyed by batch
    // doc) and the query entry's final ORDER BY (range partitioning) —
    // anything more means the index itself got shuffled
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected agg + order-by exchanges only, saw $exchanges")
  }

  test("ngramJaccardPairs: self-join broadcasts off measured cache stats") {
    // r12 regression pin: lineage-truncating the shingle table replaced
    // its InMemoryRelation with a stats-less LogicalRDD and demoted the
    // self-join to sort-merge (0.6 s → 4.6 s at sf0.1). The persisted
    // table's measured size must keep one leg on a broadcast.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
    val (d, pairs) = graft.operators.Dedup.ngramJaccardPlan(docs, 0.2, 3)
    try {
      val p = pairs.queryExecution.explainString(FormattedMode)
      assert(p.contains("BroadcastHashJoin"),
        "shingle self-join lost its broadcast")
      assert(!p.contains("SortMergeJoin"),
        "shingle self-join fell back to sort-merge")
      assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
        "shingle table is not the persisted (stats-bearing) relation")
    } finally d.unpersist()
  }

  test("embeddingDupPairs / semDedup: bucket joins broadcast, no cartesian") {
    // sibling pin to the ngram gate: these two also share a
    // materialized intermediate across self-join legs — a stats change
    // that demotes their bucket joins to sort-merge must fail here,
    // not in the next bench round
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pe = graft.operators.Dedup.embeddingDupPairs(emb, threshold = 0.9)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(pe, "embeddingDupPairs")
    assert(pe.contains("BroadcastHashJoin"),
      "embeddingDupPairs bucket self-join lost its broadcast")
    assert(!pe.contains("SortMergeJoin"),
      "embeddingDupPairs bucket self-join fell back to sort-merge")
    val ps = graft.operators.Dedup.semDedup(emb, tau = 0.35)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(ps, "semDedup")
    assert(ps.contains("BroadcastHashJoin"),
      "semDedup lost its broadcast joins")
    assert(!ps.contains("SortMergeJoin"),
      "semDedup fell back to sort-merge")
  }

  test("contamination (fast): cross-side-only band join, eval broadcast") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"), col("text"))
    val eval = docs.filter(col("source") === "src2")
      .select(col("doc_id"), col("text"))
    val p = graft.operators.Dedup.contamination(train, eval, 0.5)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(p, "contamination"); assertNoUdf(p, "contamination")
    assert(p.contains("BroadcastHashJoin"),
      "eval band rows are not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "train side got shuffled into a sort-merge join")
  }
}
