package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — correct, O(n·q), fine when the
  * query set is small or the corpus fits a broadcast. Scale path:
  * sign-random-projection (SRP) LSH buckets — candidates only within a
  * bucket, so the pair space shrinks by ~2^planes; recall is tunable via
  * multi-probe (compare buckets differing in one bit).
  * All vector math is codegen'd `functions._` (see [[Vectors]]).
  */
object Similarity {

  /** Exact top-k per query in TWO phases: a first `row_number` window
    * keyed by (q_id, input partition id) caps each partition's
    * contribution at k rows, then the global per-q_id window ranks only
    * the ≤ k × numPartitions survivors. A single global window would
    * funnel one query's ENTIRE candidate set (corpus-sized on the
    * brute/ADC paths) through one task — the classic skew shape at
    * cluster scale. The ordering is total (tie-broken by `nn_id`), so
    * phase 1 provably retains every global top-k row and the result is
    * bit-identical to the single-window plan. `spark_partition_id()` is
    * projected BEFORE the phase-1 exchange, so it reflects the upstream
    * (scan/join) partitioning. */
  private def topKPerQuery(scored: DataFrame, k: Int, order: Seq[Column],
      rankCol: String = "rk"): DataFrame = {
    val local = Window.partitionBy(col("q_id"), col("__part")).orderBy(order: _*)
    val global = Window.partitionBy(col("q_id")).orderBy(order: _*)
    scored.withColumn("__part", spark_partition_id())
      .withColumn("__lrk", row_number().over(local))
      .filter(col("__lrk") <= k)
      .drop("__part", "__lrk")
      .withColumn(rankCol, row_number().over(global))
      .filter(col(rankCol) <= k)
  }

  /** Brute-force top-k neighbours for each query row: cross join pruned
    * by broadcasting the (small) query side; at cluster scale the corpus
    * side streams partition-local with no shuffle. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms once per vector, not per pair
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      Vectors.norm2Fast(col("embedding")).as("nn_nrm"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      Vectors.norm2Fast(col("embedding")).as("q_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (Vectors.dotFast(col("q_emb"), col("nn_emb")) / (col("q_nrm") * col("nn_nrm"))).as("cos"))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("nn_id")))
  }

  /** ANN via SRP-LSH: pair only within a bucket. Lower recall than brute
    * force, bounded cost at any corpus size. */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 6): DataFrame =
    knnLshImpl(corpus, queries, k, Vectors.srpBucket(_, planes))

  /** [[knnLsh]] with the portable md5-parity hyperplanes
    * ([[Vectors.srpBucketPortable]]) — bucket assignment reproducible in
    * an external engine, so the full ranked result is hash-checkable. */
  def knnLshPortable(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 6): DataFrame =
    knnLshImpl(corpus, queries, k, Vectors.srpBucketPortable(_, planes))

  /** Multi-probe SRP-LSH (Lv et al., VLDB'07 idea specialized to sign
    * projections): each query probes its own bucket AND every bucket at
    * hamming distance 1 (one plane's sign flipped) — the buckets a
    * near-boundary neighbour most likely fell into. Recall rises toward
    * brute force at the cost of `planes + 1` probe keys per query,
    * WITHOUT retraining or extra tables — the knob a pipeline turns when
    * single-probe recall is short. Probe buckets are distinct, so no
    * candidate dedup is needed; cost stays (probes × bucket occupancy).
    * Portable hyperplanes — the whole ranked result is oracle-checkable. */
  def knnLshMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 6): DataFrame = {
    val bucketOf = Vectors.srpBucketPortable(_: Column, planes)
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      Vectors.norm2Fast(col("embedding")).as("nn_nrm"),
      bucketOf(col("embedding")).as("bucket"))
    val probes = col("q_bucket") +:
      (0 until planes).map(p => col("q_bucket").bitwiseXOR(lit(1L << p)))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        Vectors.norm2Fast(col("embedding")).as("q_nrm"),
        bucketOf(col("embedding")).as("q_bucket"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        explode(array(probes: _*)).as("probe"))
    val scored = c.join(broadcast(q), col("bucket") === col("probe"))
      .filter(col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (Vectors.dotFast(col("q_emb"), col("nn_emb")) / (col("q_nrm") * col("nn_nrm"))).as("cos"))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("nn_id")))
  }

  private def knnLshImpl(corpus: DataFrame, queries: DataFrame, k: Int,
      bucketOf: Column => Column): DataFrame = {
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      Vectors.norm2Fast(col("embedding")).as("nn_nrm"),
      bucketOf(col("embedding")).as("bucket"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      Vectors.norm2Fast(col("embedding")).as("q_nrm"),
      bucketOf(col("embedding")).as("q_bucket"))
    val scored = c.join(broadcast(q), col("bucket") === col("q_bucket"))
      .filter(col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (Vectors.dotFast(col("q_emb"), col("nn_emb")) / (col("q_nrm") * col("nn_nrm"))).as("cos"))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("nn_id")))
  }

  /** Deterministic training sample for codebook/cell learning: the
    * `target` corpus rows with the smallest portable hash-uniform of
    * their id ([[Sampling.uniformHash]]) — ONE TakeOrdered job, no
    * prior count, identical on every run, retry, and cluster size. */
  private def sampleEmbeddings(corpus: DataFrame, target: Int): Array[Array[Double]] =
    corpus.select(col("embedding"))
      .orderBy(Sampling.uniformHash(col("vec_id")), col("vec_id"))
      .limit(target)
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Lloyd's k-means on a DRIVER-LOCAL sample. Centroid learning needs
    * thousands of points, not the corpus — and on a cluster the
    * alternative (distributed KMeans) costs `fits × iterations`
    * scheduler round-trips that dwarf the arithmetic: 8 subspace fits ×
    * 5 iterations = 40 jobs to do what is ~20 ms of driver CPU on a
    * 4096-point sample. Seeded k-means++ init (Arthur & Vassilvitskii,
    * SODA'07 — D² sampling; free at sample scale and worth several
    * recall points over uniform init); an emptied cell keeps its
    * previous centroid. */
  private[graft] def localKMeans(points: Array[Array[Double]], k0: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one point")
    // corpora smaller than k degrade gracefully to one cell per point
    // (fewer, never empty, cells) instead of failing the fit
    val k = math.min(k0, points.length)
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < dim) { val t = a(j) - b(j); d += t * t; j += 1 }
      d
    }
    // k-means++ init: each next seed drawn ∝ squared distance to the
    // nearest already-chosen seed
    val init = new Array[Array[Double]](k)
    init(0) = points(rnd.nextInt(points.length)).clone
    val nearest = points.map(d2(_, init(0)))
    var ci = 1
    while (ci < k) {
      val total = nearest.sum
      var pick = 0
      if (total > 0) {
        var target = rnd.nextDouble() * total
        var i = 0
        while (i < points.length && target >= 0) {
          target -= nearest(i); if (target < 0) pick = i; i += 1
        }
      } else pick = rnd.nextInt(points.length) // all-duplicate sample
      init(ci) = points(pick).clone
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), init(ci))
        if (d < nearest(i)) nearest(i) = d
        i += 1
      }
      ci += 1
    }
    var centers = init
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
      }
      centers = Array.tabulate(k)(c =>
        if (counts(c) == 0) centers(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c)))
    }
    centers
  }

  /** Nearest-centroid id as a NATIVE expression
    * ([[graft.functions.NativeVector.nearestCentroid]]): one codegen'd
    * argmin loop with the centroid table bound as a reference object.
    * (The earlier literal-array form — array_position(array_min(array(
    * dist², …))) — was semantically identical but put every centroid
    * component into the expression tree; at 32 cells × 64 dims × several
    * call sites Catalyst spent SECONDS per query walking it.) */
  private def argminCell(vec: Column, centers: Array[Array[Double]]): Column =
    graft.functions.NativeVector.nearestCentroid(vec, centers)

  /** ANN via IVF (inverted file): k-means partitions the corpus into
    * `nCells` cells; each query probes only its `nProbe` nearest cells.
    * Cost per query ≈ nProbe/nCells of the corpus, and the corpus can be
    * stored partitioned by cell so a probe is a partition-pruned read.
    * Cells train driver-side on a deterministic sample
    * ([[sampleEmbeddings]]/[[localKMeans]]); full-corpus assignment is a
    * single codegen'd projection pass ([[argminCell]]). */
  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val centers = localKMeans(sampleEmbeddings(corpus, 4096), nCells,
      iters = 10, seed = 42)
    val assigned = corpus
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
        Vectors.norm2Fast(col("embedding")).as("nn_nrm"),
        argminCell(col("embedding"), centers).as("__cell"))

    // tiny centroid table broadcasts; queries pick nProbe nearest cells
    val centersDf = centers.zipWithIndex.toSeq
      .map { case (c, i) => (i, c) }.toDF("__cell", "__centroid")
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("__dist"), col("__cell"))
    val qCells = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        Vectors.norm2Fast(col("embedding")).as("q_nrm"))
      .crossJoin(broadcast(centersDf))
      .withColumn("__dist", Vectors.dist2FD(col("q_emb"), col("__centroid")))
      .withColumn("__prk", row_number().over(wProbe))
      .filter(col("__prk") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("__cell"))

    val scored = assigned.join(broadcast(qCells), "__cell")
      .filter(col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (Vectors.dotFast(col("q_emb"), col("nn_emb")) / (col("q_nrm") * col("nn_nrm"))).as("cos"))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("nn_id")))
  }

  /** ANN via product quantization (Jégou/Douze/Schmid, TPAMI'11): the
    * vector is split into `m` subspaces, each quantized to one of
    * `codebookSize` centroids learned by per-subspace KMeans, so a
    * corpus item compresses to `m` small codes (here 8×4 bits = 4 bytes
    * against 256 bytes of floats — the memory ratio that lets a 100 TB
    * embedding corpus's index live in cluster RAM). Queries score
    * candidates by ADC (asymmetric distance): exact subvector → centroid
    * distances precomputed into a flat per-query LOOKUP TABLE
    * (m × codebookSize doubles) that broadcasts once — each candidate's
    * score is m `element_at` lookups summed, so the corpus streams
    * through one shallow codegen'd projection, no shuffle until the
    * top-`refine` window. The top `refine` candidates are re-ranked by
    * exact cosine (the standard PQ re-rank step), which restores most of
    * the recall the 4-byte codes give up.
    *
    * KMeans cells are engine-specific → gated by a recall floor vs
    * in-plan brute force, like [[knnIvf]]. */
  def knnPq(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, codebookSize: Int = 16, refine: Int = 50): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m

    // codebooks: per-subspace k-means trained DRIVER-SIDE on one
    // deterministic sample ([[sampleEmbeddings]]) — the corpus itself is
    // touched exactly once, by the coded-projection scan below (nothing
    // cached, nothing multi-pass)
    val codebooks = trainCodebooks(sampleEmbeddings(corpus, 4096), sub, codebookSize)

    // corpus → m code columns in ONE codegen'd projection; per-query ADC
    // lookup tables broadcast against the streaming coded corpus.
    // ADC stride = the TRAINED codebook size: localKMeans clamps k to
    // the sample size, so on tiny corpora the books can be smaller than
    // the requested codebookSize — the dtab is laid out by the actual one
    val coded = pqCode(corpus, codebooks, sub)
    val qBase = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      Vectors.norm2Fast(col("embedding")).as("q_nrm"))
    val scored = adcScore(coded.crossJoin(broadcast(adcTables(qBase, codebooks, sub))),
      codebooks.head.length)
    refineTopK(scored, qBase, k, refine)
  }

  /** Per-subspace PQ codebooks from a driver-local sample (one
    * [[localKMeans]] fit per subspace, deterministic seeds). */
  private def trainCodebooks(sample: Array[Array[Double]], sub: Int,
      codebookSize: Int): IndexedSeq[Array[Array[Double]]] = {
    val m = sample.head.length / sub
    (0 until m).map { i =>
      localKMeans(
        sample.map(p => java.util.Arrays.copyOfRange(p, i * sub, (i + 1) * sub)),
        codebookSize, iters = 10, seed = 42 + i)
    }
  }

  /** corpus → (nn_id, nn_emb, nn_nrm, extras…, __codes): all m codes
    * from ONE native expression ([[graft.functions.NativeVector
    * .pqEncodeResidual]]) with the codebooks bound as reference objects
    * — the whole encoding is one codegen'd projection and the plan tree
    * stays O(1) in m × codebookSize. Plain PQ is the nCells=1 residual
    * case: cell 0, norm tables = raw codebook norms (`‖c‖² − 2·x·c`
    * has the same argmin as `‖x − c‖²`). */
  private def pqCode(corpus: DataFrame, codebooks: IndexedSeq[Array[Array[Double]]],
      sub: Int, extras: Seq[Column] = Nil): DataFrame = {
    val books = codebooks.toArray
    val normTabs = books.map(_.map(ctr => ctr.map(x => x * x).sum))
    corpus.select(
      Seq(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
        Vectors.norm2Fast(col("embedding")).as("nn_nrm")) ++ extras ++
      Seq(graft.functions.NativeVector.pqEncodeResidual(
        col("embedding"), lit(0), normTabs, books).as("__codes")): _*)
  }

  /** Per-query ADC tables `(q_id, __dtab)`: exact distances from the
    * query's subvectors to every centroid of every subspace, folded into
    * the paper's flat LOOKUP TABLE — one array of m × codebookSize
    * doubles per query, indexed [sub × size + code] (array_sort on the
    * (sub, code, d) structs orders exactly that way). */
  private def adcTables(qBase: DataFrame,
      codebooks: IndexedSeq[Array[Array[Double]]], sub: Int): DataFrame = {
    val spark = qBase.sparkSession
    import spark.implicits._
    val centroidRows = for {
      i <- codebooks.indices; (c, code) <- codebooks(i).zipWithIndex
    } yield (i, code, c)
    val centroids = centroidRows.toDF("__sub", "__code", "__centroid")
    qBase.crossJoin(broadcast(centroids))
      .select(col("q_id"),
        col("__sub"), col("__code"),
        Vectors.dist2FD(slice(col("q_emb"), col("__sub") * sub + 1, lit(sub)),
          col("__centroid")).as("__d"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("__sub"), col("__code"),
        col("__d")))).as("__entries"))
      .select(col("q_id"),
        transform(col("__entries"), e => e("__d")).as("__dtab"))
  }

  /** ADC score over a (coded ⨯ __dtab) candidate stream: one native
    * lookup-sum loop ([[graft.functions.NativeVector.adcLookupSum]])
    * over the codes array — a shallow, fully codegen'd projection
    * (earlier shapes — m chained broadcast joins, then m element_at
    * nodes — spent more time in planning than in the scan). */
  private def adcScore(cand: DataFrame, codebookSize: Int): DataFrame =
    cand.filter(col("nn_id") =!= col("q_id"))
      .withColumn("__adc", graft.functions.NativeVector.adcLookupSum(
        col("__codes"), col("__dtab"), codebookSize))
      .drop("__dtab")

  /** Exact-cosine re-rank of the top-`refine` ADC candidates (the
    * standard PQ re-rank step, restoring most of the recall the 4-byte
    * codes give up). Both rankings two-phase so the corpus-sized ADC
    * stream never funnels one query through one task. */
  private def refineTopK(scored: DataFrame, qBase: DataFrame, k: Int,
      refine: Int): DataFrame = {
    val refined =
      topKPerQuery(scored, refine, Seq(col("__adc"), col("nn_id")), "__ark")
        .join(broadcast(qBase), "q_id")
        .select(col("q_id"), col("nn_id"),
          (Vectors.dotFast(col("q_emb"), col("nn_emb")) / (col("q_nrm") * col("nn_nrm"))).as("cos"))
    topKPerQuery(refined, k, Seq(col("cos").desc, col("nn_id")))
  }

  /** IVF-PQ composition (Jégou/Douze/Schmid, TPAMI'11 §V — the layout
    * billion-scale ANN systems actually ship): IVF cells prune the
    * corpus to each query's `nProbe` nearest cells, PQ ADC scores ONLY
    * those candidates from the compact codes, exact cosine re-ranks the
    * top `refine`. Codes quantize the RESIDUAL `x − t(cell)` (the
    * paper's formulation — residuals are small, so the same 4-bit codes
    * carry far more precision than raw-vector PQ). Cost per query ≈
    * (nProbe/nCells) × corpus ADC lookups instead of a full-corpus ADC
    * scan — at 100 TB the coded corpus is stored partitioned by
    * `__cell`, so a probe is a partition-pruned read of ~4-byte codes.
    * Cells and codebooks both train driver-side on one deterministic
    * sample; the full corpus is touched exactly once, by the coded
    * projection. */
  def knnIvfPq(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, codebookSize: Int = 16,
      refine: Int = 50): DataFrame = {
    val (cand, qBase, _, cs) =
      ivfPqCandidates(corpus, queries, dim, nCells, nProbe, m, codebookSize)
    refineTopK(adcScore(cand, cs), qBase, k, refine)
  }

  /** The cell-pruned candidate stream behind [[knnIvfPq]], BEFORE ADC
    * scoring — exposed (package-private) so tests and the driver gate
    * can assert the pruning factor: candidate count ≪ corpus × queries.
    * Returns (candidates, query base, m, codebookSize).
    *
    * Residual encoding without materializing residuals: the distance of
    * subvector x to the shifted centroid `t(ℓ)+c` expands to
    * `‖t(ℓ)+c‖² − 2·x·c` plus terms constant in c, so the corpus pass
    * needs only `codebookSize` float×double dots per subspace (SHARED
    * across all cells — the 2·x·c term doesn't involve ℓ) plus one
    * lookup into a literal norm table indexed by (cell, code). 128 dot
    * loops per row here vs 2048 per-cell distance loops done naively. */
  private[graft] def ivfPqCandidates(corpus: DataFrame, queries: DataFrame,
      dim: Int, nCells: Int, nProbe: Int, m: Int, codebookSize: Int)
      : (DataFrame, DataFrame, Int, Int) = {
    val model = trainIvfPq(corpus, dim, nCells, m, codebookSize)
    val coded = codeCorpus(corpus, model)
    val (qBase, qSide) = ivfPqQuerySide(queries, model, nProbe)
    // the equi-join on __cell IS the pruning: a candidate row exists only
    // when the corpus item's cell is one of the query's probed cells.
    // Returned codebook size is the TRAINED one (clamped on tiny
    // corpora), which is what lays out the ADC tables.
    (coded.join(broadcast(qSide), "__cell"), qBase, m, model.codebookSize)
  }

  /** Trained IVF-PQ geometry: coarse cells + per-subspace RESIDUAL
    * codebooks, with the derived shifted-centroid norm tables the
    * residual trick needs (see [[ivfPqCandidates]]). Driver-local,
    * a few KB — persisted verbatim by [[buildIvfPqIndex]]. */
  private[graft] final case class IvfPqModel(
      cellCenters: Array[Array[Double]],
      codebooks: IndexedSeq[Array[Array[Double]]]) {
    val nCells: Int = cellCenters.length
    val m: Int = codebooks.length
    val codebookSize: Int = codebooks.head.length
    val dim: Int = cellCenters.head.length
    val sub: Int = dim / m
    /** shifted centroid t(ℓ)_sub + c */
    def shifted(cell: Int, i: Int, code: Int): Array[Double] =
      Array.tabulate(sub)(j => cellCenters(cell)(i * sub + j) + codebooks(i)(code)(j))
    /** ‖t(ℓ)+c‖² per (subspace, cell, code) — plan-time constants */
    lazy val normTabs: Array[Array[Double]] = Array.tabulate(m) { i =>
      Array.tabulate(nCells * codebookSize) { idx =>
        val s = shifted(idx / codebookSize, i, idx % codebookSize)
        var n2 = 0.0; var j = 0
        while (j < sub) { n2 += s(j) * s(j); j += 1 }
        n2
      }
    }
  }

  /** Train cells on the deterministic sample, then codebooks on the
    * sample RESIDUALS (the TPAMI'11 formulation). */
  private[graft] def trainIvfPq(corpus: DataFrame, dim: Int, nCells: Int,
      m: Int, codebookSize: Int): IvfPqModel = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sample = sampleEmbeddings(corpus, 4096)
    val cellCenters = localKMeans(sample, nCells, iters = 10, seed = 42)
    def nearestCell(p: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cellCenters.length) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = p(j) - cellCenters(c)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    val residuals = sample.map { p =>
      val t = cellCenters(nearestCell(p))
      Array.tabulate(dim)(j => p(j) - t(j))
    }
    IvfPqModel(cellCenters, trainCodebooks(residuals, dim / m, codebookSize))
  }

  /** ONE corpus pass, two stacked projections: (1) cell assignment,
    * (2) all m residual codes from one native expression (the
    * ‖t+c‖²−2·x·c expansion lives inside [[PqEncodeResidual]]'s loop;
    * norm tables and codebooks ride as reference objects, keeping the
    * plan tree O(1) in nCells × m × codebookSize). */
  private def codeCorpus(corpus: DataFrame, model: IvfPqModel): DataFrame = {
    val celled = corpus.select(col("vec_id").as("nn_id"),
      col("embedding").as("nn_emb"),
      Vectors.norm2Fast(col("embedding")).as("nn_nrm"),
      argminCell(col("embedding"), model.cellCenters).as("__cell"))
    celled.select(col("nn_id"), col("nn_emb"), col("nn_nrm"),
      col("__cell"),
      graft.functions.NativeVector.pqEncodeResidual(col("nn_emb"),
        col("__cell"), model.normTabs, model.codebooks.toArray).as("__codes"))
  }

  /** Query side of IVF-PQ: each query picks its nProbe nearest cells
    * (tiny broadcast centroid table); the ADC lookup table is PER
    * (query, probed cell) — exact distances from q_sub to every shifted
    * centroid of that cell, so entries are ‖q − reconstruction‖² and
    * globally comparable. Returns (qBase, qSide). */
  private def ivfPqQuerySide(queries: DataFrame, model: IvfPqModel,
      nProbe: Int): (DataFrame, DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val sub = model.sub
    val centersDf = model.cellCenters.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("__cell", "__centroid")
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("__dist"), col("__cell"))
    val qBase = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      Vectors.norm2Fast(col("embedding")).as("q_nrm"))
    val qCells = qBase
      .crossJoin(broadcast(centersDf))
      .withColumn("__dist", Vectors.dist2FD(col("q_emb"), col("__centroid")))
      .withColumn("__prk", row_number().over(wProbe))
      .filter(col("__prk") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("__cell"))
    val shiftedRows = for {
      cell <- 0 until model.nCells; i <- 0 until model.m
      code <- 0 until model.codebookSize
    } yield (cell, i, code, model.shifted(cell, i, code))
    val shiftedDf = shiftedRows.toDF("__scell", "__sub", "__code", "__shifted")
    val qSide = qCells
      .join(broadcast(shiftedDf), col("__cell") === col("__scell"))
      .select(col("q_id"), col("__cell"), col("__sub"), col("__code"),
        Vectors.dist2FD(slice(col("q_emb"), col("__sub") * sub + 1, lit(sub)),
          col("__shifted")).as("__d"))
      .groupBy(col("q_id"), col("__cell"))
      .agg(array_sort(collect_list(struct(col("__sub"), col("__code"),
        col("__d")))).as("__entries"))
      .select(col("q_id"), col("__cell"),
        transform(col("__entries"), e => e("__d")).as("__dtab"))
    (qBase, qSide)
  }

  /** Materialize an IVF-PQ index: the coded corpus written
    * `partitionBy(__cell)` — the layout that makes a probe a
    * PARTITION-PRUNED read of ~4-byte codes at 100 TB — plus the
    * driver-local model (cells + codebooks) as ONE tiny parquet table
    * (`model`: kind 0 = cell rows keyed by `i`, kind 1 = codebook rows
    * keyed by (`i` = subspace, `code`); r20 — the former cells/books
    * pair cost a write job per table at build time and a read+collect
    * job per table at every load, all on a few-KB artifact whose cost
    * is pure scheduling floor). The raw embedding rides along per row
    * for the exact re-rank; a deployment that must not duplicate
    * vectors would instead re-rank by joining ids back to the primary
    * store. */
  def buildIvfPqIndex(corpus: DataFrame, path: String, dim: Int,
      nCells: Int = 16, m: Int = 8, codebookSize: Int = 16,
      trainOn: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = trainIvfPq(trainOn.getOrElse(corpus), dim, nCells, m,
      codebookSize)
    codeCorpus(corpus, model).write.mode("overwrite")
      .partitionBy("__cell").parquet(s"$path/codes")
    val cellRows = model.cellCenters.zipWithIndex
      .map { case (c, i) => (0, i, 0, c) }.toSeq
    val bookRows = for { i <- model.codebooks.indices
                         (c, code) <- model.codebooks(i).zipWithIndex }
      yield (1, i, code, c)
    (cellRows ++ bookRows).toDF("kind", "i", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Append new vectors into an EXISTING IVF-PQ index WITHOUT
    * retraining: load the persisted model (cells + codebooks), code the
    * batch with it, and append the coded rows under the same
    * `partitionBy(__cell)` layout — the day-N ingest shape (the same
    * persist-once/append-cheap contract as the incremental LSH index).
    * Probes see the new vectors immediately; the appended index is
    * row-identical to re-coding the whole corpus from scratch under the
    * same model (sim_knn_ivfpq_inc gates this). Model drift from a
    * shifted data distribution is a RETRAIN decision, made explicitly —
    * an append never silently moves centroids under existing codes. */
  def appendToIvfPqIndex(newVectors: DataFrame, path: String): Unit =
    appendToIvfPqIndex(newVectors, path,
      loadIvfPqModel(newVectors.sparkSession, path))

  /** Append with a PRELOADED model — the repeated-append shape (e.g. a
    * streaming ingest loop): the model is frozen by contract, so
    * callers appending every trigger load it once instead of paying a
    * per-batch driver-side parquet read of cells + books. */
  private[graft] def appendToIvfPqIndex(newVectors: DataFrame,
      path: String, model: IvfPqModel): Unit =
    codeCorpus(newVectors, model).write.mode("append")
      .partitionBy("__cell").parquet(s"$path/codes")

  /** EXACTLY-ONCE epoch append for streaming ingest. Plain parquet
    * append is at-least-once under foreachBatch: a failed-then-replayed
    * epoch double-appends its rows. Here the epoch's codes are staged,
    * any files a prior attempt of the SAME epoch left in the index are
    * deleted, and the staged files are renamed in under epoch-tagged
    * names — so replays converge on exactly one copy. A crash mid-move
    * leaves a partial epoch, but the streaming checkpoint has not
    * committed that batch, so restart replays and repairs it; that is
    * the standard sink-idempotence contract Structured Streaming
    * expects of foreachBatch sinks. */
  private[graft] def appendEpochToIvfPqIndex(batch: DataFrame,
      path: String, model: IvfPqModel, epochId: Long): Unit =
    graft.sources.Sinks.appendEpoch(codeCorpus(batch, model),
      s"$path/codes", epochId, Seq("__cell"))

  /** Compact an appended IVF-PQ index back to one file per cell:
    * every [[appendToIvfPqIndex]] epoch leaves one small file per
    * touched cell, and at ingest cadence that becomes the small-files
    * pathology (a probe opens files, not bytes). Content-preserving
    * ([[graft.sources.Sinks.compactParquet]]; the sim_knn_ivfpq_inc
    * probe-equality gate runs over a compacted index). Model tables are
    * single-file already and are not touched. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
      excludeEpoch: Option[Long] = None): Unit =
    graft.sources.Sinks.compactParquet(spark, s"$path/codes", Seq("__cell"),
      excludeEpoch = excludeEpoch)

  /** Load the driver-local model back from [[buildIvfPqIndex]] output.
    * nCells + m × codebookSize rows in ONE read+collect — a
    * constant-size driver read, the same class of work as evaluating
    * constant table-function args. An index from before the single-model
    * layout (separate `cells/` and `books/` tables, no `model/`) is not
    * read: it fails with an error that says to rebuild it. */
  private[graft] def loadIvfPqModel(spark: SparkSession, path: String): IvfPqModel = {
    val modelPath = new org.apache.hadoop.fs.Path(s"$path/model")
    if (!modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(modelPath))
      throw new IllegalStateException(
        s"IVF-PQ index at $path has no model/ table. Indexes now keep " +
          "cells and codebooks in one model/ table instead of the older " +
          "separate cells/ and books/ tables; an index in the old layout " +
          "(or no index at all) cannot be loaded. Rebuild it with " +
          "buildIvfPqIndex.")
    val rows = Tables.readParquet(spark, modelPath.toString).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    val cells = rows.filter(_._1 == 0).sortBy(_._2).map(_._4)
    val bookRows = rows.filter(_._1 == 1)
    val m = bookRows.map(_._2).max + 1
    val books = (0 until m).map { i =>
      bookRows.filter(_._2 == i).sortBy(_._3).map(_._4)
    }
    IvfPqModel(cells, books)
  }

  /** ANN over a persisted [[buildIvfPqIndex]]: the probed cell set
    * (bounded by nCells, collected driver-side like any plan constant)
    * becomes a STATIC `__cell IN (...)` filter on the partitioned codes
    * table, so the scan shows `PartitionFilters` and touches only
    * nProbe-ish of the nCells directories — the read-side pruning the
    * in-memory path can only simulate with a join. Identical training
    * determinism (same sample, same seeds) makes results bit-equal to
    * [[knnIvfPq]] at the same parameters. */
  def knnIvfPqIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, refine: Int = 50): DataFrame = {
    val model = loadIvfPqModel(spark, path)
    val (qBase, qSide) = ivfPqQuerySide(queries, model, nProbe)
    val probed = qSide.select(col("__cell")).distinct()
      .collect().map(_.getInt(0))
    val coded = Tables.readParquet(spark, s"$path/codes")
      .filter(col("__cell").isin(probed.map(Int.box): _*))
    val cand = coded.join(broadcast(qSide), "__cell")
    refineTopK(adcScore(cand, model.codebookSize), qBase, k, refine)
  }

  // --------------------------------------------------------- driver queries
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force top-10 for 5 fixed query vectors — DuckDB oracle
    "sim_knn_brute" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      knnBrute(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("q_id"), col("nn_id"), round(col("cos"), 6).as("cos"), col("rk"))
        .orderBy(col("q_id"), col("rk"))
    }),
    // SRP-LSH ANN for the same queries, PORTABLE hyperplanes — the
    // oracle reproduces bucket assignment, candidate join, cosine, and
    // ranking end to end, so the full ranked result is hash-checked
    "sim_knn_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      knnLshPortable(e, e.filter(col("vec_id") < 5), k = 10, planes = 6)
        .select(col("q_id"), col("nn_id"), round(col("cos"), 6).as("cos"),
          col("rk"))
        .orderBy(col("q_id"), col("rk"))
    }),
    // multi-probe SRP-LSH (own bucket + every hamming-1 bucket), same
    // portable planes — full ranked result hash-checked like sim_knn_lsh
    "sim_knn_mp" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      knnLshMultiProbe(e, e.filter(col("vec_id") < 5), k = 10, planes = 6)
        .select(col("q_id"), col("nn_id"), round(col("cos"), 6).as("cos"),
          col("rk"))
        .orderBy(col("q_id"), col("rk"))
    }),
    // IVF ANN: kmeans cells are inherently engine-specific, so the gate
    // is a recall FLOOR against the in-plan brute-force top-10 (whose
    // side of the join DuckDB reproduces exactly): n_queries and n_brute
    // are oracle-computed, and recall_ok asserts IVF found >= 60% of the
    // true neighbours — a real invariant, not a rows-only count.
    // (measured recall at nCells=16/nProbe=8 with sampled k-means++
    // training: >0.8 at sf0.001-0.1 — margin for partitioning jitter)
    "sim_knn_ivf" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val brute = knnBrute(e, q, k = 10).select(col("q_id"), col("nn_id"))
      val ivf = knnIvf(e, q, k = 10, nCells = 16, nProbe = 8)
        .select(col("q_id").as("iq"), col("nn_id").as("inn"), lit(1).as("__hit"))
      brute.join(ivf,
          col("q_id") === col("iq") && col("nn_id") === col("inn"), "left")
        .agg(
          countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0))).as("__hits"))
        .select(col("n_queries"), col("n_brute"),
          (col("__hits") >= lit(0.6) * col("n_brute")).cast("bigint")
            .as("recall_ok"))
    }),
    // PQ ANN: 16 subspaces × 16 centroids (8-byte codes), ADC + exact
    // re-rank of the top-150. Codebooks are engine-specific → recall
    // floor vs in-plan brute force, same gate pattern as sim_knn_ivf.
    // Parameters from a measured sweep (tools/TunePq): the old
    // m=8/refine=50 config sat AT the 0.6 floor (0.64-0.70) and under
    // it on sf0.1 data; m=16/refine=150 holds 0.88-1.00 everywhere.
    "sim_knn_pq" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val brute = knnBrute(e, q, k = 10).select(col("q_id"), col("nn_id"))
      val pq = knnPq(e, q, k = 10, dim = 64, m = 16, codebookSize = 16,
          refine = 150)
        .select(col("q_id").as("pq"), col("nn_id").as("pnn"), lit(1).as("__hit"))
      brute.join(pq,
          col("q_id") === col("pq") && col("nn_id") === col("pnn"), "left")
        .agg(
          countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0))).as("__hits"))
        .select(col("n_queries"), col("n_brute"),
          (col("__hits") >= lit(0.6) * col("n_brute")).cast("bigint")
            .as("recall_ok"))
    }),
    // IVF-PQ: cell-pruned ADC + exact re-rank — the composed 100 TB ANN
    // path. Two invariants gated: the recall floor vs in-plan brute
    // force (same pattern as sim_knn_ivf/pq) AND the pruning factor —
    // the candidate stream the ADC ever touches must stay well under
    // corpus × queries, which is the whole point of the composition.
    // Parameters chosen by measured sweep (tools/TuneIvfPq) across
    // sf0.001/0.01/0.1: nCells=32/nProbe=12 prunes to ~0.38 of the
    // corpus per query, m=16 subspaces (8-byte codes) keep ADC ordering
    // tight, refine=150 re-ranks enough to hold recall 0.78-0.86 at
    // every verified scale — the earlier nProbe=4/m=8/refine=50 config
    // capped candidate-level recall at 0.54 on sf0.1 data, below the
    // floor before ADC even ran.
    "sim_knn_ivfpq" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val brute = knnBrute(e, q, k = 10).select(col("q_id"), col("nn_id"))
      // ONE candidate stream feeds both gates: the ranked result (ADC +
      // re-rank) and the pruning count. Building them independently (as
      // r4 did — knnIvfPq plus a second ivfPqCandidates call) trained
      // the cells/codebooks TWICE — the expensive part (sample job +
      // driver k-means + broadcast construction). The shared plan below
      // re-executes only the cheap coded-corpus scan per subtree; no
      // persist, so nothing leaks into long-lived sessions (a persist
      // here has no unpersist point once the DataFrame leaves this fn).
      val (cand, qBase, _, cs) = ivfPqCandidates(e, q, dim = 64,
        nCells = 32, nProbe = 12, m = 16, codebookSize = 16)
      val ivfpq = refineTopK(adcScore(cand, cs), qBase, k = 10, refine = 150)
        .select(col("q_id").as("iq"), col("nn_id").as("inn"), lit(1).as("__hit"))
      val recall = brute.join(ivfpq,
          col("q_id") === col("iq") && col("nn_id") === col("inn"), "left")
        .agg(
          countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0))).as("__hits"))
      val pruning = cand.agg(count(lit(1)).as("__n_cand"))
        .crossJoin(e.agg(count(lit(1)).as("__n_corpus")))
      recall.crossJoin(pruning)
        .select(col("n_queries"), col("n_brute"),
          (col("__hits") >= lit(0.6) * col("n_brute")).cast("bigint")
            .as("recall_ok"),
          (col("__n_cand") <= lit(0.6) * col("__n_corpus") * col("n_queries"))
            .cast("bigint").as("pruned_ok"))
    }),
    // persisted IVF-PQ index: build (partitionBy __cell), query through
    // the partition-pruned read, and gate BIT-EQUALITY with the
    // in-memory composition at the same parameters (deterministic
    // training makes the two paths identical) — the storage-layout
    // contract, checked end to end. n_results pins 5 queries × k=10.
    // incremental maintenance gate: build on 2/3 of the corpus, append
    // the remaining third WITHOUT retraining, and require the probe to
    // be row-identical to a from-scratch index coded over the full
    // corpus under the SAME model (trainOn pins the training split) —
    // i.e. an append is exactly a rebuild minus the re-coding cost
    "sim_knn_ivfpq_inc" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 3 =!= 0)
      val b = e.filter(col("vec_id") % 3 === 0)
      val q = e.filter(col("vec_id") < 5)
      val tag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val incDir = s"$tmp/graft_ivfpq_inc_$tag"
      val refDir = s"$tmp/graft_ivfpq_incref_$tag"
      buildIvfPqIndex(a, incDir, dim = 64, nCells = 16, m = 16,
        codebookSize = 16)
      appendToIvfPqIndex(b, incDir)
      // compaction is part of the gated lifecycle: the probe equality
      // below must survive the rewrite (content-preserving by contract)
      compactIvfPqIndex(s, incDir)
      buildIvfPqIndex(e, refDir, dim = 64, nCells = 16, m = 16,
        codebookSize = 16, trainOn = Some(a))
      val inc = knnIvfPqIndexed(s, incDir, q, k = 10, nProbe = 4,
        refine = 150)
      val ref = knnIvfPqIndexed(s, refDir, q, k = 10, nProbe = 4,
        refine = 150)
      inc.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
        .crossJoin(inc.exceptAll(ref).agg(count(lit(1)).as("__d1")))
        .crossJoin(ref.exceptAll(inc).agg(count(lit(1)).as("__d2")))
        .select(col("n_queries"), col("n_results"),
          (col("__d1") + col("__d2") === 0).cast("bigint").as("same_as_rebuild"))
    }),
    "sim_knn_ivfpq_idx" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val idxDir = System.getProperty("java.io.tmpdir") +
        "/graft_ivfpq_idx_" + dir.replaceAll("[^0-9a-zA-Z.]", "_")
      buildIvfPqIndex(e, idxDir, dim = 64, nCells = 16, m = 16,
        codebookSize = 16)
      val indexed = knnIvfPqIndexed(s, idxDir, q, k = 10, nProbe = 4,
        refine = 150)
      val inMem = knnIvfPq(e, q, k = 10, dim = 64, nCells = 16, nProbe = 4,
        m = 16, codebookSize = 16, refine = 150)
      indexed.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
        .crossJoin(indexed.exceptAll(inMem).agg(count(lit(1)).as("__d1")))
        .crossJoin(inMem.exceptAll(indexed).agg(count(lit(1)).as("__d2")))
        .select(col("n_queries"), col("n_results"),
          (col("__d1") + col("__d2") === 0).cast("bigint").as("same_as_inmem"))
    }),
    // Embedding-space drift monitor — the vector-side complement of
    // ta_drift: per-dimension mean shift between the historical half
    // (even vec_id) and the arriving half (odd). ONE posexplode pass,
    // per-(half, dim) decimal-exact sums (order-independent, map-side
    // partials absorb the fan-in), then a d-row self-join — at 100 TB
    // the shuffle carries 2·d aggregate rows, nothing else.
    "em_drift" -> ((s, dir) => {
      val cells = Tables.load(s, dir, "embeddings")
        .select((col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("i", "v")))
      val m = cells.groupBy(col("half"), col("i"))
        .agg((sum(col("v").cast("double").cast(DecimalType(27, 12)))
          .cast("double") / count(lit(1))).as("mu"))
      val a = m.filter(col("half") === 0)
        .select(col("i"), col("mu").as("__ma"))
      val b = m.filter(col("half") === 1)
        .select(col("i"), col("mu").as("__mb"))
      a.join(b, "i")
        .select(col("i"), round(col("__ma"), 6).as("mean_a"),
          round(col("__mb"), 6).as("mean_b"),
          round(abs(col("__ma") - col("__mb")), 6).as("shift"))
        .orderBy(col("i"))
    }),
    // int8 embedding quantization ([[Vectors.quantizeInt8]]): per-label
    // code-sum checksum (exact integer arithmetic) pins the full code
    // content; the err_ok flag asserts the quantization error bound
    // |x − code/scale| ≤ 0.5/scale holds for every dimension
    "sim_quantize_int8" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val rows = e.select(col("label"),
          Vectors.quantizeInt8(col("embedding")).as("qz"), col("embedding"))
        .select(col("label"),
          aggregate(col("qz.codes"), lit(0L), (acc, c) => acc + c)
            .as("row_sum"),
          // empty-vector parity: array_max([]) is NULL — pin it to 0.0
          // (trivially within bound) on both sides
          coalesce(array_max(zip_with(col("embedding"), col("qz.codes"),
            (x, c) => abs(x.cast("double") * col("qz.scale") - c))),
            lit(0.0)).as("maxerr"))
      rows.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("row_sum")).as("code_sum"),
          min((col("maxerr") <= lit(0.5 + 1e-9)).cast("bigint")).as("err_ok"))
        .orderBy(col("label"))
    }),
    // centroid similarity per label: per-dim sum vector (cosine is
    // scale-invariant, so the un-normalized sum is the centroid
    // direction) then cosine of each member to it. All cross-row sums go
    // through exact DECIMAL so the result is independent of partition
    // order — which is what makes this oracle-checkable rather than
    // rows-only (float += is not associative; decimal is).
    "sim_label_centroid" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dim = 64
      val sums = (0 until dim).map(i =>
        sum(element_at(col("embedding"), i + 1).cast(DecimalType(28, 10)))
          .cast("double").as(s"s$i"))
      val centroids = e.groupBy(col("label"))
        .agg(sums.head, sums.tail: _*)
        .select(col("label").as("c_label"),
          array((0 until dim).map(i => col(s"s$i")): _*).as("centroid"))
      e.join(broadcast(centroids), col("label") === col("c_label"))
        .select(col("label"), col("vec_id"),
          round(Vectors.cosine(col("embedding"), col("centroid")), 4).as("cos_c"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          // decimal SUM then double divide — the oracle's exact shape
          round(sum(col("cos_c").cast(DecimalType(18, 12)))
            .cast("double") / count(lit(1)), 4).as("avg_cos"))
        .orderBy(col("label"))
    })
  )

  /** Shared oracle CTE `v(vec_id, embedding, nrm, bucket)`: norm plus the
    * portable SRP bucket (md5('p|j')-parity plane signs, left-to-right
    * double sums) — the DuckDB mirror of [[Vectors.srpBucketPortable]]. */
  private def srpVSql(planes: Int): String = {
    val planeTerms = (0 until planes).map { p =>
      s"""    (CASE WHEN list_sum([CAST(embedding[j + 1] AS DOUBLE) *
         |      (CASE WHEN (CAST(('0x' || substr(md5('$p' || '|' ||
         |          CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2) = 0
         |        THEN 1.0 ELSE -1.0 END)
         |      for j in range(len(embedding))]) >= 0
         |      THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" +\n")
    s"""v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
      |         for s in list_zip(embedding, embedding)])) AS nrm,
      |$planeTerms AS bucket
      |  FROM embeddings)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // double-precision cosine mirroring the Spark expression exactly
    "sim_knn_brute" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |         for s in list_zip(embedding, embedding)])) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, nn_id, cos0,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT q_id, nn_id, round(cos0, 6) AS cos, rk
        |FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,
    // portable SRP-LSH: per-plane signs from md5('p|j') parity, summed
    // left-to-right in double exactly like the Spark aggregate()
    "sim_knn_lsh" ->
      s"""WITH ${srpVSql(6)},
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM v q JOIN v c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, nn_id, cos0,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT q_id, nn_id, round(cos0, 6) AS cos, rk
        |FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,
    // multi-probe: query side expands to its bucket + the 6 hamming-1
    // buckets (xor one plane bit); probe buckets are distinct so the
    // candidate set needs no dedup — mirrored exactly from the engine
    "sim_knn_mp" ->
      s"""WITH ${srpVSql(6)},
        |probes AS (
        |  SELECT vec_id, embedding, nrm,
        |    CASE WHEN j.j = 0 THEN bucket
        |         ELSE xor(bucket, CAST(1 AS BIGINT) << (j.j - 1)) END AS probe
        |  FROM v, (SELECT unnest(range(7)) AS j) j
        |  WHERE vec_id < 5),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM probes q JOIN v c ON c.bucket = q.probe AND c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT q_id, nn_id, cos0,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT q_id, nn_id, round(cos0, 6) AS cos, rk
        |FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,
    // IVF: cells are engine-specific; the oracle fixes the brute-force
    // side (n_queries, n_brute) and the recall-floor invariant
    "sim_knn_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |         for s in list_zip(embedding, embedding)])) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, nn_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
        |  CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM ranked WHERE rk <= 10""".stripMargin,
    // PQ: like IVF, codebooks can't be reproduced in SQL; the oracle
    // fixes the brute-force side and asserts the recall-floor flag
    "sim_knn_pq" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |         for s in list_zip(embedding, embedding)])) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, nn_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
        |  CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM ranked WHERE rk <= 10""".stripMargin,
    // IVF-PQ: cells + codebooks engine-specific; oracle fixes the brute
    // side and the two invariant flags (recall floor, pruning factor)
    "sim_knn_ivfpq" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |         for s in list_zip(embedding, embedding)])) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(q.embedding, c.embedding)]) / (q.nrm * c.nrm) AS cos0
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, nn_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos0 DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
        |  CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS pruned_ok
        |FROM ranked WHERE rk <= 10""".stripMargin,
    // the indexed path is gated on equality with the in-memory path
    // (engine-side), so the oracle pins the structural constants
    "sim_knn_ivfpq_idx" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_results,
        |  CAST(1 AS BIGINT) AS same_as_inmem""".stripMargin,
    "sim_knn_ivfpq_inc" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_results,
        |  CAST(1 AS BIGINT) AS same_as_rebuild""".stripMargin,
    // per-(half, dim) decimal-exact sums then double division — both
    // engines round the same values at 6dp
    "em_drift" ->
      """WITH cells AS (
        |  SELECT vec_id % 2 AS half,
        |    unnest(range(len(embedding))) AS i, embedding
        |  FROM embeddings),
        |vals AS (
        |  SELECT half, i, CAST(embedding[i + 1] AS DOUBLE) AS v FROM cells),
        |m AS (
        |  SELECT half, i,
        |    CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS mu
        |  FROM vals GROUP BY 1, 2)
        |SELECT a.i, round(a.mu, 6) AS mean_a, round(b.mu, 6) AS mean_b,
        |  round(abs(a.mu - b.mu), 6) AS shift
        |FROM m a JOIN m b ON a.i = b.i
        |WHERE a.half = 0 AND b.half = 1
        |ORDER BY a.i""".stripMargin,
    // quantization mirrored exactly: same scale, same floor(x·s + 0.5)
    // codes, same error bound — all IEEE double ops
    "sim_quantize_int8" ->
      """WITH m AS (
        |  SELECT label, embedding,
        |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS ma
        |  FROM embeddings),
        |qz AS (
        |  SELECT label,
        |    CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS scale, embedding
        |  FROM m),
        |c AS (
        |  SELECT label,
        |    COALESCE(list_sum([CAST(floor(CAST(x AS DOUBLE) * scale + 0.5)
        |         AS BIGINT) for x in embedding]), 0) AS row_sum,
        |    COALESCE(list_max([abs(CAST(x AS DOUBLE) * scale
        |         - floor(CAST(x AS DOUBLE) * scale + 0.5)) for x in embedding]),
        |      0.0) AS maxerr
        |  FROM qz)
        |SELECT label, count(*) AS n,
        |  CAST(sum(row_sum) AS BIGINT) AS code_sum,
        |  CAST(min(CASE WHEN maxerr <= 0.5 + 1e-9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS err_ok
        |FROM c GROUP BY label ORDER BY label""".stripMargin,
    "sim_label_centroid" ->
      """WITH dims AS (
        |  SELECT label, r.i,
        |    CAST(SUM(CAST(embedding[r.i + 1] AS DECIMAL(28,10))) AS DOUBLE) AS s
        |  FROM embeddings, (SELECT unnest(range(64)) AS i) r
        |  GROUP BY label, r.i),
        |cents AS (
        |  SELECT label AS c_label, list(s ORDER BY i) AS centroid
        |  FROM dims GROUP BY label),
        |scored AS (
        |  SELECT e.label, e.vec_id,
        |    round(list_sum([CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
        |            for p in list_zip(e.embedding, c.centroid)])
        |      / (sqrt(list_sum([CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
        |            for p in list_zip(e.embedding, e.embedding)]))
        |       * sqrt(list_sum([CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
        |            for p in list_zip(c.centroid, c.centroid)]))), 4) AS cos_c
        |  FROM embeddings e JOIN cents c ON e.label = c.c_label)
        |SELECT label, count(*) AS n,
        |  round(CAST(SUM(CAST(cos_c AS DECIMAL(18,12))) AS DOUBLE)
        |        / count(*), 4) AS avg_cos
        |FROM scored GROUP BY label ORDER BY label""".stripMargin
  )
}
