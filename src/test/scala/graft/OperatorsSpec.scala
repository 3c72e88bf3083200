package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Semantic checks for the pipeline operators whose driver-gate entries
  * are rows-only (engine-specific signatures): MinHash/LSH recall vs
  * exhaustive jaccard, SimHash hamming behavior, SRP-LSH ANN recall vs
  * brute force, multimodal stub plumbing. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val docs = {
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 0
      (2L, "a completely different document about spark query engines"),
      (3L, "a completely different document about spark query planners"), // near-dup of 2
      (4L, "nothing in common with anything else here at all whatsoever"),
      (5L, "the quick brown fox jumps over the lazy dog again and again")) // exact dup of 0
    base.toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text") {
    val g = Dedup.exact(docs).collect()
    assert(g.length == 5) // 6 docs, one exact pair
    val dup = g.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L) // keeps min doc_id
  }

  test("shingleStringRows: null text yields no rows, short text its one " +
      "truncated gram (the documented divergence from explode(shingles))") {
    val df = Seq((1L, null: String), (2L, "a b"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val rows = Dedup.shingleStringRows(df, 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // doc 1 (null text): NO rows — shingles(NULL) used to emit one ""
    // gram; doc 2 (< k tokens): one slice-truncated gram at position 0
    assert(rows == Set((2L, "a b"), (3L, "a b c"), (3L, "b c d")))
  }

  test("minhash LSH finds high-jaccard pairs found by exhaustive search") {
    // exhaustive ground truth
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val l = sh.select(col("doc_id").as("a"), col("sh").as("sa"))
    val r = sh.select(col("doc_id").as("b"), col("sh").as("sb"))
    val truth = l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"), Dedup.jaccard(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(truth.contains((0L, 5L)) && truth.contains((0L, 1L)))

    val found = Dedup.minhashDupPairs(docs, numHashes = 16, bands = 4, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // verification step makes found ⊆ truth; banding should catch these
    // very-high-jaccard pairs
    assert(found.subsetOf(truth))
    assert(found.contains((0L, 5L)))
    assert(found.contains((0L, 1L)))
  }

  test("LSH bucket cap bounds degenerate-bucket pair work") {
    // 1200 identical docs put > maxBucket members in every band bucket:
    // uncapped this is ~719k candidate pairs; with the cap those buckets
    // are dropped and only honest buckets are mined
    val degenerate = (0 until 1200).map(i =>
      (i.toLong, "all these documents are exactly the same text"))
    val distinctish = Seq(
      (5000L, "a rare unique document about distributed query planning"),
      (5001L, "a rare unique document about distributed query planning!"))
    val corpus = (degenerate ++ distinctish).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(corpus, 16, 4, 0.5).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((5000L, 5001L))) // honest buckets still mined
    assert(pairs.length < 100) // degenerate bucket dropped, not exploded
    // cap is explicit and tunable: off restores exhaustive behavior
    val small = (0 until 20).map(i =>
      (i.toLong, "same same same text here okay")).toDF("doc_id", "text")
    assert(Dedup.minhashDupPairs(small, 16, 4, 0.5, maxBucket = 0)
      .count() == 190) // C(20,2)
    assert(Dedup.minhashDupPairs(small, 16, 4, 0.5, maxBucket = 10)
      .count() == 0)
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val sig = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(ham(0, 5) == 0)
    assert(ham(0, 1) < ham(0, 4))
    assert(ham(2, 3) < ham(2, 4))
  }

  test("simhash banding finds hamming-close pairs") {
    val pairs = Dedup.simhashDupPairs(docs, maxDist = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((0L, 5L)))
  }

  test("simhash banding is COMPLETE: pairs == brute-force hamming <= maxDist") {
    // pigeonhole guarantee at the query's own maxDist (the old 4-chunk
    // scheme only guaranteed <= 3 and silently lost pairs at 4-6)
    for (maxDist <- Seq(3, 6)) {
      val sigs = Dedup.simhashAgg(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val brute = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (a, b)).toSet
      val lsh = Dedup.simhashDupPairs(docs, maxDist)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(lsh == brute, s"maxDist=$maxDist")
    }
  }

  test("simhash banding complete on adversarial sig-level corpus") {
    // signatures constructed so differing bits concentrate in single
    // 16-bit chunks of the old scheme: distance 4-6 pairs the 4-chunk
    // banding could only find by luck
    val sigs = Seq(
      0L -> 0L,
      1L -> 0x3FL,              // 6 low bits differ from sig 0
      2L -> 0x0FL,              // 4 low bits
      3L -> (0x7L << 20 | 0x7L), // 3+3 bits across two old chunks
      4L -> -1L,                 // far from everything else
      5L -> (0x3FL << 50))       // 6 high bits
    val df = sigs.toDF("doc_id", "sig")
    for (maxDist <- Seq(3, 6)) {
      val brute = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (a, b)).toSet
      val lsh = Dedup.simhashPairsFromSigs(df, maxDist, bits = 64)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(lsh == brute, s"maxDist=$maxDist")
    }
  }

  test("portable simhash pairs match xxhash-based structure on near-dups") {
    val pairs = Dedup.simhashDupPairsPortable(docs, maxDist = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((0L, 5L))) // exact dup: distance 0 always found
    // completeness vs brute force over the portable 60-bit sigs
    val sigs = Dedup.simhashAggPortable(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (a, b)).toSet
    assert(pairs == brute)
  }

  private lazy val vectors = {
    // deterministic synthetic embeddings: 3 tight clusters of 5 + noise
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3).flatMap { c =>
      val center = Array.fill(16)(rnd.nextGaussian().toFloat)
      (0 until 5).map { i =>
        val v = center.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
        (c * 5 + i).toLong -> v
      }
    }
    rows.toDF("vec_id", "embedding")
  }

  test("winnowing fingerprints are shift-resistant") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, base),
      (2L, "prefix words first " + base), // shifted copy
      (3L, "totally different content with no overlap at all here now"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the shared ≥ w+k-1 token run guarantees common fingerprints
    assert((fps(1L) & fps(2L)).nonEmpty)
    // unrelated text shares nothing
    assert((fps(1L) & fps(3L)).isEmpty)
    // identical text → identical fingerprint set
    val again = TextAnalysis.winnowFingerprints(d.filter(col("doc_id") === 1))
      .collect().map(_.getLong(1)).toSet
    assert(again == fps(1L))
  }

  test("connected components: chain, clique, and isolated pair") {
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round),
    // triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("deterministic hash sample is stable and stratified") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "grp")
    val s1 = Sampling.stratified(df, col("grp"), col("id"),
      Map("a" -> 0.5), default = 0.1)
    val ids1 = s1.collect().map(_.getLong(0)).toSet
    val ids2 = s1.collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2) // same plan, same rows — no rand()
    val na = s1.filter(col("grp") === "a").count().toDouble
    val nb = s1.filter(col("grp") === "b").count().toDouble
    assert(math.abs(na / 1000.0 - 0.5) < 0.08, s"a-fraction $na")
    assert(math.abs(nb / 1000.0 - 0.1) < 0.05, s"b-fraction $nb")
  }

  test("brute-force knn ranks cluster members first") {
    val res = Similarity.knnBrute(vectors, vectors.filter(col("vec_id") === 0), k = 4)
      .collect().map(_.getLong(1)).toSet
    assert(res == Set(1L, 2L, 3L, 4L)) // same-cluster ids
  }

  test("IVF ANN achieves high recall vs brute force on clusters") {
    val brute = Similarity.knnBrute(vectors, vectors, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(vectors, vectors, k = 4, nCells = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("SRP-LSH ANN achieves high recall vs brute force on clusters") {
    val brute = Similarity.knnBrute(vectors, vectors, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.knnLsh(vectors, vectors, k = 4, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(emb, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.knnLshPortable(emb, q, k = 10, planes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.knnLshMultiProbe(emb, q, k = 10, planes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rs = (brute & single).size.toDouble / brute.size
    val rm = (brute & multi).size.toDouble / brute.size
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")

    // absolute floor on the clustered fixture (buckets align with
    // clusters there; the real-table check above is only relative)
    val bruteC = Similarity.knnBrute(vectors, vectors, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multiC = Similarity.knnLshMultiProbe(vectors, vectors, k = 4, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rc = (bruteC & multiC).size.toDouble / bruteC.size
    assert(rc >= 0.8, s"multi-probe recall $rc too low on clusters")
  }

  // gate parameters, both driver-verified scales (the old m=8/refine=50
  // defaults sat at the 0.6 floor — see tools/TunePq sweep)
  for (sf <- Seq("0.001", "0.01"))
    test(s"PQ ANN with re-rank at sf$sf: recall floor vs brute force") {
      val emb = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(emb, q, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pq = Similarity.knnPq(emb, q, k = 10, dim = 64, m = 16,
          codebookSize = 16, refine = 150)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & pq).size.toDouble / brute.size
      assert(recall >= 0.6, s"recall $recall too low")
    }

  // both driver-verified scales: sf0.01 is where the old nProbe=4/m=8
  // config failed its floor (ADVICE r4) — keep both in the gate forever
  for (sf <- Seq("0.001", "0.01"))
    test(s"IVF-PQ composition at sf$sf: recall floor AND candidates pruned vs full ADC scan") {
      val emb = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(emb, q, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfpq = Similarity.knnIvfPq(emb, q, k = 10, dim = 64,
          nCells = 32, nProbe = 12, m = 16, codebookSize = 16, refine = 150)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & ivfpq).size.toDouble / brute.size
      assert(recall >= 0.6, s"recall $recall too low")
      // the pruning invariant: the ADC stream sees only probed cells'
      // rows, a strict subset of corpus × queries (full-scan PQ's cost)
      val (cand, _, _, _) = Similarity.ivfPqCandidates(emb, q, dim = 64,
        nCells = 32, nProbe = 12, m = 16, codebookSize = 16)
      val nCand = cand.count()
      val full = emb.count() * q.count()
      assert(nCand <= 0.6 * full, s"candidates $nCand not pruned vs $full")
    }

  test("persisted IVF-PQ index: bit-equal to in-memory path, scan partition-pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    Similarity.buildIvfPqIndex(emb, dir, dim = 64, nCells = 16, m = 16,
      codebookSize = 16)
    val indexed = Similarity.knnIvfPqIndexed(spark, dir, q, k = 10,
      nProbe = 4, refine = 150)
    // same deterministic training (sample + seeds) → identical results
    val inMem = Similarity.knnIvfPq(emb, q, k = 10, dim = 64, nCells = 16,
      nProbe = 4, m = 16, codebookSize = 16, refine = 150)
    assert(indexed.collect().map(_.toSeq).toSet ==
      inMem.collect().map(_.toSeq).toSet)
    // the probed-cell filter must reach the partitioned scan: the codes
    // read shows PartitionFilters on __cell, not a full-directory scan
    val plan = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("__cell"))
    assert(scanLine.isDefined, s"no __cell PartitionFilters in:\n$plan")
  }

  test("IVF-PQ append: no retrain, probes see new vectors, equals same-model rebuild") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val q = emb.filter(col("vec_id") < 5)
    val incDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString
    val refDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ref").toString
    Similarity.buildIvfPqIndex(a, incDir, dim = 64, nCells = 16, m = 16,
      codebookSize = 16)
    val modelBefore = spark.read.parquet(s"$incDir/model").collect().map(_.toSeq).toSet
    Similarity.appendToIvfPqIndex(b, incDir)
    // the model table was NOT touched by the append
    assert(spark.read.parquet(s"$incDir/model").collect().map(_.toSeq).toSet
      == modelBefore)
    // appended rows are probe-visible: some results come from the b half
    val inc = Similarity.knnIvfPqIndexed(spark, incDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq)
    assert(inc.exists(r => r(1).asInstanceOf[Long] % 3 == 0),
      "no appended vector ever surfaced in a probe")
    // row-identical to a from-scratch coding of a∪b under the SAME model
    Similarity.buildIvfPqIndex(emb, refDir, dim = 64, nCells = 16, m = 16,
      codebookSize = 16, trainOn = Some(a))
    val ref = Similarity.knnIvfPqIndexed(spark, refDir, q, k = 10,
      nProbe = 4, refine = 150).collect().map(_.toSeq)
    assert(inc.toSet == ref.toSet, "append diverged from same-model rebuild")
  }

  test("IVF-PQ index in the old cells/books layout fails with a rebuild message") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_old").toString
    // the layout written before the single model/ table: codes plus
    // separate cells/ and books/ tables
    Seq((0, 0)).toDF("id", "__cell").write.parquet(s"$dir/codes")
    Seq((0, Seq(0.0))).toDF("cell", "centroid").write.parquet(s"$dir/cells")
    Seq((0, 0, Seq(0.0))).toDF("sub", "code", "centroid")
      .write.parquet(s"$dir/books")
    val q = Seq((0L, Seq(0.0))).toDF("vec_id", "vec")
    val e = intercept[IllegalStateException](
      Similarity.knnIvfPqIndexed(spark, dir, q, k = 1))
    assert(e.getMessage.contains("cells/ and books/"))
    assert(e.getMessage.contains("Rebuild it with buildIvfPqIndex"))
  }

  test("IVF-PQ compaction: one file per cell, content preserved") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 === 0), dir,
      dim = 64, nCells = 16, m = 16, codebookSize = 16)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 3 === 1), dir)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 3 === 2), dir)
    def filesPerCell(): Map[String, Int] = {
      val root = new java.io.File(s"$dir/codes")
      root.listFiles().filter(_.getName.startsWith("__cell=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val before = spark.read.parquet(s"$dir/codes")
      .collect().map(_.toSeq).toSet
    assert(filesPerCell().values.exists(_ > 1),
      "appends should have produced multiple files per cell")
    Similarity.compactIvfPqIndex(spark, dir)
    assert(filesPerCell().values.forall(_ == 1),
      s"cells not compacted to one file: ${filesPerCell()}")
    val after = spark.read.parquet(s"$dir/codes")
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed the index content")
  }

  test("PQ paths survive corpora smaller than the codebook size") {
    // 10 vectors < codebookSize=16: localKMeans clamps the books to 10
    // centroids, so the ADC lookup stride must follow the TRAINED size —
    // striding by the requested 16 reads past the table
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 10)
    val q = emb.filter(col("vec_id") < 2)
    val pq = Similarity.knnPq(emb, q, k = 3, dim = 64, m = 8,
      codebookSize = 16, refine = 5)
    assert(pq.count() > 0)
    val ivfpq = Similarity.knnIvfPq(emb, q, k = 3, dim = 64, nCells = 4,
      nProbe = 4, m = 8, codebookSize = 16, refine = 5)
    assert(ivfpq.count() > 0)
  }

  test("localKMeans clamps k to the point count for tiny corpora") {
    val pts = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 2.0))
    val centers = Similarity.localKMeans(pts, 16, iters = 3, seed = 1)
    assert(centers.length == 3)
    // and the full ANN paths still work when corpus < nCells
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tiny = emb.filter(col("vec_id") < 8)
    val q = emb.filter(col("vec_id") < 2)
    val r = Similarity.knnIvf(tiny, q, k = 3, nCells = 16, nProbe = 4).collect()
    assert(r.nonEmpty)
  }

  test("multimodal stub: features preserve byte mass, frames cover payload") {
    implicit val s = spark
    val media = Multimodal.asMedia(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.forall(f => f.features.sum.toInt == f.n_bytes))
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    // determinism: same input → same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.features.toSeq).toSeq.sortBy(_.hashCode) ==
      again.map(_.features.toSeq).toSeq.sortBy(_.hashCode))
    val frames = Multimodal.sampleFrames(media, stride = 1).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.forall { case (id, fs) =>
      fs.map(_.frame.length).sum ==
        feats.find(_.doc_id == id).get.n_bytes
    })
  }

  test("asof join matches latest preceding row per key, with tolerance") {
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 15L, "t3"))
      .toDF("k", "t", "trade")
    val quotes = Seq((1L, 8L, 100.0), (1L, 12L, 110.0), (2L, 1L, 50.0))
      .toDF("k", "qt", "px")
    val got = AsofJoin.asof(trades, quotes, Seq("k"), "t", "qt")
      .collect().map(r => (r.getString(2), Option(r.get(4)))).toMap
    assert(got == Map(
      "t1" -> Some(100.0), // latest quote at t=10 is qt=8
      "t2" -> Some(110.0), // qt=12
      "t3" -> Some(50.0)))
    val tol = AsofJoin.asof(trades, quotes, Seq("k"), "t", "qt",
      tolerance = Some(5L))
      .collect().map(r => (r.getString(2), Option(r.get(4)))).toMap
    assert(tol == Map(
      "t1" -> Some(100.0), // 10-8=2 within 5
      "t2" -> None,        // 20-12=8 beyond 5
      "t3" -> None))       // 15-1=14 beyond 5
  }

  test("asof forward and nearest directions") {
    val l = Seq((1L, 10L, "x"), (1L, 25L, "y")).toDF("k", "t", "name")
    val r = Seq((1L, 8L, "a"), (1L, 12L, "b"), (1L, 30L, "c"))
      .toDF("k", "rt", "v")
    def m(df: org.apache.spark.sql.DataFrame) = // col 3 = matched r_rt
      df.collect().map(x => x.getString(2) -> Option(x.get(3)).map(_.toString)).toMap
    assert(m(AsofJoin.asofForward(l, r, Seq("k"), "t", "rt")) ==
      Map("x" -> Some("12"), "y" -> Some("30"))) // earliest following
    assert(m(AsofJoin.asofForward(l, r, Seq("k"), "t", "rt",
      tolerance = Some(3L))) ==
      Map("x" -> Some("12"), "y" -> None)) // 30-25=5 beyond 3
    val near = AsofJoin.asofNearest(l, r, Seq("k"), "t", "rt")
      .collect().map(x => x.getString(2) -> Option(x.get(3)).map(_.toString)).toMap
    // x: back gap 2 == fwd gap 2 → tie prefers preceding (rt=8)
    // y: back gap 13 vs fwd gap 5 → following (rt=30)
    assert(near == Map("x" -> Some("8"), "y" -> Some("30")))
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // one hot key carries ~3.5MB while every other partition is bytes —
    // with the skew thresholds scaled down to local data sizes, AQE must
    // mark the sort-merge join skewed and split the hot partition. This
    // is the runtime half of the skew story (Skew.saltedJoin is the
    // compile-time half for broadcast-ineligible cases).
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      val left = spark.range(50000)
        .select(lit(0L).as("k"), rpad(col("id").cast("string"), 64, "p").as("pad"))
        .unionAll(spark.range(1, 101)
          .select(col("id").as("k"), lit("y").as("pad")))
      val right = spark.range(0, 101).select(col("id").as("k"), lit(1).as("v"))
      // NOTE: no keyed aggregation downstream of the join — reusing the
      // join's partitioning there would (correctly) make AQE refuse to
      // split the skewed partition, since splitting breaks co-partition
      val j = left.join(right, "k")
      j.collect() // run THIS QueryExecution so AQE finalizes its plan
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.toLowerCase.contains("skew"),
        s"no skew handling in final AQE plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("salted join equals plain join; salted agg equals plain agg") {
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (1, "d")).toDF("k", "v")
    val right = Seq((1, 10), (2, 20), (3, 30)).toDF("k", "w")
    val plain = left.join(right, Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val salted = Skew.saltedJoin(left, right, "k", salts = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(salted == plain)

    val df = Seq((1, 5L), (1, 7L), (2, 3L)).toDF("k", "v")
    val agg = Skew.saltedAgg(df, "k", 4,
      partial = Seq(count(lit(1)).as("n"), sum(col("v")).as("s")),
      combine = Seq(sum(col("n")).as("n"), sum(col("s")).as("s")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(agg == Set((1, 2L, 12L), (2, 1L, 3L)))
  }

  test("langid prefers matching profile") {
    val d = Seq(
      (1L, "der hund und die katze ist da"),
      (2L, "the cat and the dog is here"),
      (3L, "le chat et la vache est ici"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "fr", 4L -> "und"))
  }

  test("tfidf ranks rare terms above common ones, ties broken by term") {
    val d = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "apple banana date")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> r.getString(1)).toMap
    // doc 0: apple tf=2 df=3 → 2*(3-3+0.5)/3.5 ≈ 0.29; banana tf=1 df=2
    //   → (3-2+0.5)/2.5 = 0.6 → banana first
    assert(top((0L, 1)) == "banana" && top((0L, 2)) == "apple")
    // doc 1: cherry df=1 → (3-1+0.5)/1.5 = 1.67 beats apple 0.14
    assert(top((1L, 1)) == "cherry")
    // doc 2: banana 0.6 vs date 1.67 → date first, banana second
    assert(top((2L, 1)) == "date" && top((2L, 2)) == "banana")
  }

  test("band join equals plain range-predicate join and plans no nested loop") {
    val l = Seq((1L, 100L), (1L, 250L), (2L, 100L)).toDF("k", "lt")
    val r = Seq((1L, 120L), (1L, 260L), (1L, 900L), (2L, 90L), (2L, 140L))
      .toDF("k", "rt")
    val got = RangeJoin.bandJoin(l, r, "k", "lt", "rt", window = 50L)
      .select(col("k"), col("lt"), col("rt")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = l.join(r.withColumnRenamed("k", "k2"),
        col("k") === col("k2") && col("rt") >= col("lt") &&
          col("rt") - col("lt") <= 50L)
      .select(col("k"), col("lt"), col("rt")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want &&
      got == Set((1L, 100L, 120L), (1L, 250L, 260L), (2L, 100L, 140L)))
    // the point of bucketing: an equi join the planner can hash, never BNLJ
    val plan = RangeJoin.bandJoin(l, r, "k", "lt", "rt", window = 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sketch gates hold on a known distribution") {
    val df = (1 to 5000).map(i => (s"g${i % 2}", i.toLong, i.toDouble))
      .toDF("g", "k", "v")
    val hll = Sketches.distinctWithHll(df, "g", "k").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hll("g0") == (2500L, 1L) && hll("g1") == (2500L, 1L))
    val gk = Sketches.medianWithGk(df, "g", "v").collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(gk == Map("g0" -> 1L, "g1" -> 1L))
  }

  test("token shards cover every doc once; mixture fractions respect the budget") {
    val docs = (1L to 300L).map(i => (i, s"src${i % 3}", 100)).toDF("doc_id", "source", "n_toks")
    val sh = Sampling.tokenShards(docs, col("n_toks"), budget = 5000L)
    assert(sh.count() == 300) // every doc assigned exactly once
    val shards = sh.select("shard").distinct().collect().map(_.getLong(0))
    assert(shards.forall(s => s >= 0 && s < 6)) // 30000 tokens / 5000 = 6
    val mixed = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
      col("n_toks"), Map("src0" -> 0.5, "src1" -> 0.5), budget = 10000L)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src2")) // unweighted source fully excluded
    // fraction = min(1, 5000/10000) = 0.5 → roughly half of each kept
    assert(bySrc("src0") > 20 && bySrc("src0") < 80)
    assert(bySrc("src1") > 20 && bySrc("src1") < 80)
  }

  test("cross-corpus contamination: finds planted overlap, survives id collisions") {
    // eval doc 1 is a near-copy of train doc 2; eval doc 2 is clean —
    // and BOTH tables use the same small ids, which must not collide
    val trainTxt = "the quick brown fox jumps over the lazy dog again and again today"
    val train = Seq(
      (1L, "completely unrelated text about astronomy stars planets orbits moons"),
      (2L, trainTxt)).toDF("doc_id", "text")
    val eval = Seq(
      (1L, trainTxt + " extra"), // near-dup of TRAIN 2, id collides with train 1
      (2L, "different clean evaluation text nothing shared here at all"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationPortable(train, eval, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(hits.length == 1)
    assert(hits.head._1 == "1" && hits.head._2 == "2")
    assert(hits.head._3 >= 0.5)
  }

  test("fast-hash contamination matches the portable variant on planted overlaps") {
    // exact copies: candidate recall is 1 under ANY hash family (equal
    // text ⇒ equal signatures ⇒ same band bucket), and the verify step
    // is exact shingle jaccard in both variants — the planted hits and
    // their jaccards must agree exactly; only near-threshold NATURAL
    // pairs may differ per family (none exist in this corpus)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"), col("text"))
    val planted = train.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val eval = docs.filter(col("source") === "src2")
      .select(col("doc_id"), col("text")).unionAll(planted)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getDouble(2))).toSet
    val fast = rows(Dedup.contamination(train, eval, threshold = 0.5))
    val portable = rows(Dedup.contaminationPortable(train, eval, threshold = 0.5))
    // the CONTAMINATED-EVAL-DOC sets must match; jaccards are
    // exact-shingle in the portable variant vs lane-agreement estimates
    // in the fast one, and the best-TRAIN-match can legitimately differ
    // when two train docs are near-identical (sf0.001 train 120/360 sit
    // at exact jaccard 0.97 — under some hash family their signatures
    // collide and the argmax tie resolves differently). Natural
    // near-dups (src2 doc 82 vs train 0 at 0.95) must appear in BOTH.
    def evalIds(s: Set[(String, String, Double)]) = s.map(_._1)
    assert(evalIds(fast) == evalIds(portable),
      s"fast-only=${evalIds(fast) diff evalIds(portable)}, " +
        s"portable-only=${evalIds(portable) diff evalIds(fast)}")
    // planted-scoped certainty: every copy surfaces in both variants at
    // jaccard exactly 1 (identical text ⇒ identical signatures); the
    // portable variant's exact-jaccard argmax also pins the train id
    val nPlanted = planted.count()
    for ((s, name) <- Seq(fast -> "fast", portable -> "portable")) {
      val plantedHits = s.filter(_._1.toLong >= 20000000L)
      assert(plantedHits.size == nPlanted,
        s"$name: ${plantedHits.size} planted hits, $nPlanted planted")
      assert(plantedHits.forall(_._3 == 1.0), s"$name planted jaccards")
    }
    assert(portable.filter(_._1.toLong >= 20000000L).forall {
      case (e, t, _) => e.toLong == t.toLong + 20000000L },
      "portable planted train ids")
  }

  test("chunkDocs: boundaries exact, content lossless, single tokenize") {
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(df, "text", 4, keep = Seq("doc_id"))
    val chunks = out
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3))).sortBy(_._1)
    assert(chunks.map(_._1).toSeq == Seq(0, 1, 2))
    assert(chunks(0)._2 == "w1 w2 w3 w4")
    assert(chunks(1)._2 == "w5 w6 w7 w8")
    assert(chunks(2)._2 == "w9 w10") // short last chunk, never empty
    // n_toks from slice arithmetic matches actual chunk token counts
    assert(chunks.map(_._3).toSeq == Seq(4, 4, 2))
    // lossless: rejoining chunks reproduces the tokenized document
    assert(chunks.map(_._2).mkString(" ") ==
      (1 to 10).map(i => s"w$i").mkString(" "))
    // empty document: exactly one chunk of the [''] tokenization
    val empty = TextAnalysis.chunkDocs(
      Seq((9L, "")).toDF("doc_id", "text"), "text", 4, keep = Seq("doc_id"))
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(empty.toSeq == Seq((0, "", 1)))
    // the quadratic-killer invariant: the optimized plan tokenizes each
    // document ONCE — the Generate's per-chunk lambda must reference the
    // materialized `__toks` attribute, never an inlined `split(...)`
    // (codegen CSE cannot hoist subexpressions out of higher-order-
    // function lambdas, so an inlined split re-tokenizes per chunk).
    // On this LocalRelation input the projection constant-folds, so the
    // robust check is: no split() anywhere in the Generate node itself.
    val plan = out.queryExecution.optimizedPlan.toString
    val generateLine = plan.linesIterator.find(_.contains("Generate"))
    assert(generateLine.exists(!_.contains("split(")),
      s"split() must not be inlined into the chunk lambda:\n$plan")
  }

  test("qualityScore scalar stays in lockstep with the ta_classifier query") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("ta_classifier")(spark, dir)
      .select(col("doc_id"), col("score"))
    val s = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score2"))
    assert(q.join(s, "doc_id")
      .filter(col("score") =!= col("score2")).count() == 0,
      "dialect quality_score diverged from the ta_classifier pipeline")
  }

  test("bpeSegment: overlap needs the second pass; anchoring stops cross-bleed") {
    // expectations measured from DuckDB's replace (resume-after-match):
    // 'tototo' alternates, so pass 1 merges positions 1,3 and pass 2
    // catches the leftover; 'verve' must keep its leading v un-bled;
    // 'oooo' has no merge rule and stays fully spaced
    val got = Seq("tototo", "verve", "erer", "oooo").toDF("w")
      .select(col("w"), TextAnalysis.bpeSegment(col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "tototo" -> "to to to",
      "verve" -> "v er v e",
      "erer" -> "er er",
      "oooo" -> "o o o o"))
  }

  test("gopherNgramStats: repetitive doc fails, clean doc passes, short doc trivially passes") {
    val repeated = Seq.fill(20)("the same five gram phrase repeats endlessly").mkString(" ")
    val clean = (1 to 100).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, repeated), (2L, clean), (3L, "one")).toDF("doc_id", "text")
    val byDoc = TextAnalysis.gopherNgramStats(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // 9 rows (n = 2..10) per doc, including the 1-token doc
    assert(byDoc.values.forall(_.length == 9))
    // the repeated doc fails EVERY n: its top n-grams cover ~all chars
    // and every 5..10-gram is duplicated
    assert(byDoc(1L).forall(_.getAs[Long]("pass") == 0L))
    // the all-distinct doc passes every n with zero duplicate mass
    assert(byDoc(2L).forall(r => r.getAs[Long]("pass") == 1L))
    assert(byDoc(2L).filter(_.getAs[Int]("n") >= 5)
      .forall(_.getAs[Long]("num_chars") == 0L))
    // a doc shorter than n tokens has no n-grams: num 0, pass
    assert(byDoc(3L).forall(r =>
      r.getAs[Long]("num_chars") == 0L && r.getAs[Long]("pass") == 1L))
  }

  test("C4 line rules: terminal punctuation, >=5 words, no javascript") {
    val doc =
      "A proper sentence with enough words here.\n" + // kept
      "Too short.\n" +                                 // < 5 words
      "No terminal punctuation in this line at all\n" + // no . ! ? "
      "This JavaScript mention kills the line dead.\n" + // marker word
      "Ends with a question mark doesn't it?\n" +      // kept (?)
      "He said \"quoted ending stays in too.\""        // kept (")
    val df = Seq((1L, doc)).toDF("doc_id", "text")
    val cleaned = df.select(C4.lineClean(col("text")).as("c")).head().getString(0)
    assert(cleaned.linesIterator.size == 3, s"cleaned:\n$cleaned")
    assert(!cleaned.toLowerCase.contains("javascript"))
    assert(!cleaned.contains("Too short"))
    // page flags on a failing page
    val bad = Seq((2L, "Lorem ipsum dolor sit amet consectetur adipiscing elit.\nSample { code here with many words inside.")).toDF("doc_id", "text")
    val q = bad.select(
        C4.pageFlags(col("text"), C4.lineClean(col("text"))).as("q"))
      .select(col("q.ok_lorem"), col("q.ok_brace"), col("q.ok_sentences")).head()
    assert(!q.getBoolean(0) && !q.getBoolean(1) && !q.getBoolean(2))
    // the content markers test the RAW page: a '{' whose line is dropped
    // by line cleaning still fails the page (the paper's rule)
    val hidden = Seq((3L, "code { sample\nA good long sentence survives the cleaning today.")).toDF("doc_id", "text")
    val h = hidden.select(
        C4.pageFlags(col("text"), C4.lineClean(col("text"))).as("q"))
      .select(col("q.ok_brace")).head()
    assert(!h.getBoolean(0), "raw-content brace must fail the page")
  }

  test("C4 span dedup: cross-document spans deduplicate to first occurrence") {
    val shared = "One full sentence here. Two full sentences here. Three full sentences here. Four closes it."
    val docs = Seq((1L, shared), (2L, shared), (3L, "Entirely different first. Entirely different second. Entirely different third."))
      .toDF("doc_id", "text")
    val spans = C4.spanDedup(docs).collect()
    // doc1: 2 spans, doc2: 2 spans (duplicates of doc1's), doc3: 1 span
    assert(spans.length == 5)
    assert(spans.count(_.getAs[Long]("first") == 1L) == 3)
    // the duplicates are exactly doc 2's spans (first occurrence = lowest doc_id)
    assert(spans.filter(_.getAs[Long]("first") == 0L)
      .forall(_.getAs[Long]("doc_id") == 2L))
  }

  test("approxTopK: sketch-exact counts, tie-valid membership at the k boundary") {
    // counts 5,4,3,3,1 with k=3: the boundary is a TIE between two keys
    // of count 3 — either is a valid 3rd item; the gate asserts set
    // validity (every member clears kth_count), not a specific winner
    val df = (Seq.fill(5)(1) ++ Seq.fill(4)(2) ++ Seq.fill(3)(3) ++
      Seq.fill(3)(4) ++ Seq(5)).toDF("k")
    val r = Sketches.approxTopK(df, "k", k = 3).head()
    assert(r.getLong(0) == 3L, "n_items")
    assert(r.getLong(1) == 3L, "n_count_match — sketch must be exact here")
    assert(r.getLong(2) == 3L, "kth_count")
    assert(r.getLong(3) == 1L, "valid_topk")
  }

  test("packGreedy: budget respected, singletons allowed, deterministic") {
    val chunks = Seq(
      (1L, 0, 300L), (1L, 1, 300L), (2L, 0, 300L), // pairwise > 512
      (3L, 0, 600L),                               // oversized singleton
      (4L, 0, 100L), (4L, 1, 100L)).toDF("doc_id", "chunk_id", "n_toks")
    val p1 = TextAnalysis.packGreedy(chunks, budget = 512, nShards = 4)
    val windows = p1.groupBy("shard", "window")
      .agg(sum("n_toks").as("t"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(windows.forall { case (t, c) => t <= 512 || c == 1 })
    assert(windows.map(_._1).sum == 1700L) // token conservation
    // deterministic: a second run assigns identical windows
    val a = p1.collect().map(_.toSeq).toSet
    val b = TextAnalysis.packGreedy(chunks, 512, 4).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("quantizeInt8: codes bounded, dequantization within half a step") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f, 2.0f)))
      .toDF("vec_id", "embedding")
    val r = df.select(Vectors.quantizeInt8(col("embedding")).as("q"))
      .select(col("q.scale"), col("q.codes")).head()
    val scale = r.getDouble(0)
    val codes = r.getSeq[Int](1)
    assert(math.abs(scale - 127.0 / 2.0) < 1e-12)
    // floor(x·63.5 + 0.5): 0.5→32, −1.0→−63, 0.25→16, 2.0→127
    assert(codes == Seq(32, -63, 16, 127))
    val orig = Seq(0.5, -1.0, 0.25, 2.0)
    codes.zip(orig).foreach { case (c, x) =>
      assert(math.abs(c / scale - x) <= 0.5 / scale + 1e-12)
    }
  }

  test("mortonCode interleaves bits with 2-D locality") {
    val df = Seq((3, 5), (0, 0), (255, 255)).toDF("a", "b")
    val z = df.select(graft.sources.Sinks.mortonCode(col("a"), col("b"), 8))
      .collect().map(_.getLong(0))
    // a=3 (011), b=5 (101): interleave a_i at 2i+1, b_i at 2i →
    // bits: b0=1,a0=1,b1=0,a1=1,b2=1,a2=0 = 0b101011 = 43? compute:
    // (1<<0)+(1<<1)+(0<<2)+(1<<3)+(1<<4)+(0<<5) = 1+2+8+16 = 27
    assert(z(0) == 27L)
    assert(z(1) == 0L)
    assert(z(2) == 65535L) // all 16 low bits set
  }

  test("CMS heavy hitters: exact top-k order, guarantee flags hold") {
    // zipf-ish: key i appears ~ 3000/i times — clear heavy hitters
    val rows = (1 to 50).flatMap(i => Seq.fill(3000 / i)(i.toLong))
    val df = rows.toDF("k")
    val hh = Sketches.heavyHittersWithCms(df, "k", k = 5).collect()
    assert(hh.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(hh.map(_.getLong(1)).toSeq == Seq(3000L, 1500L, 1000L, 750L, 600L))
    assert(hh.forall(r => r.getLong(2) == 1L && r.getLong(3) == 1L))
  }

  test("substringDupCoverage: interval union, no double counting") {
    // w1..w12 shared by docs 0 and 1 → with k=4, dup grams at every
    // start in the run; the union must count 12 tokens once, not
    // 9 grams × 4. Doc 2 shares nothing. Doc 3 shares two DISJOINT
    // 4-token runs with doc 0 separated by unique middles → two islands.
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, s"$run unique0 tail0 ends here now"),
      (1L, s"prefix1 also1 $run"),
      (2L, "totally different content with nothing shared at all here"),
      (3L, "w1 w2 w3 w4 mid3a mid3b mid3c w9 w10 w11 w12 done3")
    ).toDF("doc_id", "text")
    val cov = Dedup.substringDupCoverage(d, k = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 0/1 share w1..w12 (12 tokens, one island); doc 3's two 4-token
    // runs are each shared with docs 0/1 (8 tokens, two islands)
    assert(cov(0L) == (12L, 1L))
    assert(cov(1L) == (12L, 1L))
    assert(cov(3L) == (8L, 2L))
    assert(!cov.contains(2L))
  }

  test("bpePairCensus counts adjacent char pairs weighted by word freq") {
    val d = Seq((0L, "aab aab ba"), (1L, "aab x")).toDF("doc_id", "text")
    // "aab" freq 3 → pairs (aa, ab) each ×3; "ba" ×1; "x" filtered (len 1)
    val m = TextAnalysis.bpePairCensus(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("aa" -> 3L, "ab" -> 3L, "ba" -> 1L))
  }

  test("paragraphDedup keeps exactly one occurrence corpus-wide, in order") {
    val d = Seq(
      (0L, "shared one\n\nunique zero\n\nshared two"),
      (1L, "shared one\n\nunique one"),
      (2L, "unique two\n\nshared two\n\nshared one"),
      (3L, "shared one"), // every paragraph claimed elsewhere
      (4L, "rep\n\nrep") // within-doc repeat: first position wins
    ).toDF("doc_id", "text")
    // schema: (doc_id, n_paras, clean_text, n_paras_kept)
    val out = Dedup.paragraphDedup(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    assert(out(0L) == (3L, "shared one\n\nunique zero\n\nshared two", 3L))
    assert(out(1L) == (2L, "unique one", 1L))
    assert(out(2L) == (3L, "unique two", 1L))
    assert(out(3L) == (1L, "", 0L))
    assert(out(4L) == (2L, "rep", 1L))
  }

  test("dsirScores: target-heavy docs outscore raw-typical docs") {
    // target = docs 0/1 (same bigram vocabulary); doc 2 is raw-only
    // vocabulary, doc 3 mixes. Per-bucket weight is larger for buckets
    // target bigrams hit, so score(0) > score(2) after length control
    // (all docs 6 tokens → 5 bigrams).
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", true),
      (1L, "alpha beta gamma delta epsilon zeta", true),
      (2L, "omega psi chi phi upsilon tau", false),
      (3L, "alpha beta gamma phi upsilon tau", false)
    ).toDF("doc_id", "text", "is_tgt")
    val sc = Sampling.dsirScores(d, col("is_tgt"), nBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc(0L) == sc(1L)) // identical text → identical integer score
    assert(sc(0L) > sc(2L)) // target-vocab doc beats raw-only doc
    assert(sc(3L) > sc(2L) && sc(3L) < sc(0L)) // mixed in between
    // bound: target ⊆ raw ⇒ every bucket weight ≤ 1e6 ⇒ score ≤ 5e6
    assert(sc.values.forall(s => s > 0 && s <= 5L * 1000000L))
  }

  test("autoSrpPlanes: integer-exact derivation, clamped") {
    import Vectors.autoSrpPlanes
    assert(autoSrpPlanes(1) == 4 && autoSrpPlanes(256) == 4)
    assert(autoSrpPlanes(500) == 4) // sf0.001/sf0.01 embeddings
    assert(autoSrpPlanes(2000) == 4) // sf0.1 embeddings
    assert(autoSrpPlanes(256L * 16) == 4)
    assert(autoSrpPlanes(256L * 16 + 1) == 5)
    assert(autoSrpPlanes(256L * 32) == 5)
    // exact powers must not wobble (the floating-log failure mode)
    assert(autoSrpPlanes(256L * 1024) == 10)
    assert(autoSrpPlanes(256L * 1024 + 1) == 11)
    assert(autoSrpPlanes(Long.MaxValue / 2) == 20) // hi clamp
  }

  test("SRP pairwise operators fail loudly when a bucket exceeds the cap") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e1 = intercept[IllegalStateException] {
      Dedup.semDedup(emb, tau = 0.35, maxBucketRows = 10).collect()
    }
    assert(e1.getMessage.contains("bucket") && e1.getMessage.contains("planes"))
    val e2 = intercept[IllegalStateException] {
      Dedup.embeddingDupPairs(emb, threshold = 0.9, maxBucketRows = 10).collect()
    }
    assert(e2.getMessage.contains("bucket"))
  }

  test("SRP/ngram guards pass empty inputs through (no NULL-max NPE)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 0) // empty, full schema
    assert(Dedup.semDedup(emb, tau = 0.35).count() == 0)
    assert(Dedup.embeddingDupPairs(emb, threshold = 0.9).count() == 0)
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.5).count() == 0)
  }

  test("ngramJaccardPairs: the O(n²) baseline refuses an oversized source bucket") {
    val d = Seq(
      (0L, "alpha beta gamma delta", "s0"),
      (1L, "alpha beta gamma epsilon", "s0"),
      (2L, "one two three four", "s0")
    ).toDF("doc_id", "text", "source")
    val e = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(d, threshold = 0.1, maxBucketDocs = 2).collect()
    }
    assert(e.getMessage.contains("minhash"),
      "the error must name the scale path")
    // within the cap it still runs
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.1, maxBucketDocs = 3)
      .collect().nonEmpty)
  }

  test("pairwise dedup operators leave no persisted frames behind (r11 advice)") {
    // embeddingDupPairs/semDedup/ngramJaccardPairs share intermediates
    // across self-join legs via Checkpoints.materialize, NOT persist():
    // a persist() without unpersist parks cached partitions in the
    // session CacheManager for its lifetime (Bench papers over it with
    // clearCache; library callers can't). The probe sees exactly those
    // registrations, so it fails on the leaky shape and passes on the
    // materialized one.
    spark.catalog.clearCache() // neighbors' legitimate caches out of scope
    import org.apache.spark.sql.graft.CacheProbe
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    Dedup.embeddingDupPairs(emb, threshold = 0.9).count()
    assert(CacheProbe.noCachedPlans(spark), "embeddingDupPairs leaked a cache")
    Dedup.semDedup(emb, tau = 0.35).count()
    assert(CacheProbe.noCachedPlans(spark), "semDedup leaked a cache")
    val docs = Seq(
      (0L, "alpha beta gamma delta", "s0"),
      (1L, "alpha beta gamma epsilon", "s0")
    ).toDF("doc_id", "text", "source")
    Dedup.ngramJaccardPairs(docs, threshold = 0.1).count()
    assert(CacheProbe.noCachedPlans(spark), "ngramJaccardPairs leaked a cache")
  }

  test("semDedup: removal decisions match a brute-force in-memory reference") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tau = 0.35
    val got = Dedup.semDedup(emb, tau = tau).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    // rebuild (bucket, codes) with the same deterministic building blocks,
    // then apply the pairwise-greedy rule directly — an independent
    // implementation of the centroid/semi-join plumbing
    // same corpus-size-derived plane count as the operator's default
    val pl = Vectors.autoSrpPlanes(emb.count())
    val rows = emb.select(col("vec_id"),
        Vectors.srpBucketPortable(col("embedding"), pl).as("bucket"),
        Vectors.quantizeInt8(col("embedding")).getField("codes").as("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toArray))
    def dot(a: Array[Int], b: Array[Int]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i).toLong * b(i); i += 1 }; s
    }
    val removedRef = scala.collection.mutable.Set[Long]()
    for ((_, members) <- rows.groupBy(_._2)) {
      val dim = members.head._3.length
      val sums = Array.fill(dim)(0L)
      members.foreach { case (_, _, c) =>
        var i = 0; while (i < dim) { sums(i) += c(i); i += 1 } }
      val cnorm = math.sqrt(members.head._3.indices
        .map(i => sums(i) * sums(i)).sum.toDouble)
      val scored = members.map { case (id, _, c) =>
        val qn = math.sqrt(dot(c, c).toDouble)
        val cosc = if (qn > 0 && cnorm > 0)
          c.indices.map(i => c(i).toLong * sums(i)).sum.toDouble / (qn * cnorm)
        else 0.0
        (id, c, qn, cosc)
      }
      for ((idX, cX, qnX, coscX) <- scored; (idY, cY, qnY, coscY) <- scored)
        if (idX != idY && qnX > 0 && qnY > 0 &&
            (coscY < coscX || (coscY == coscX && idY < idX)) &&
            dot(cX, cY).toDouble / (qnX * qnY) >= tau)
          removedRef += idX
    }
    assert(removedRef.nonEmpty) // the gate exercises real removals
    val gotRemoved = got.filter(_._2 == 1L).keySet
    assert(gotRemoved == removedRef.toSet)
    // the (centroidCos, id)-minimum of every duplicate pair survives:
    // removal can never empty a bucket
    val bucketsWithMembers = rows.groupBy(_._2).map { case (b, ms) =>
      b -> ms.map(_._1).toSet }
    bucketsWithMembers.foreach { case (_, ids) =>
      assert((ids -- removedRef).nonEmpty) }
  }

  test("perplexity: add-α bigram LM cross-entropy, hand-computed") {
    // reference (doc 0): tokens [a b a b] → unigrams a:2 b:2 (V=2),
    // bigrams (a,b):2 (b,a):1; incoming (doc 1): bigrams (a,b) (b,c)
    val d = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val row = graft.operators.TextAnalysis.perplexity(d).head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L)
    val expected = BigDecimal(
      (-math.log((2 + 0.5) / (2 + 0.5 * 2)) +
       -math.log((0 + 0.5) / (2 + 0.5 * 2))) / 2
    ).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(2) - expected) < 1e-9,
      s"got ${row.getDouble(2)}, expected $expected")
    // a reference-like incoming doc scores lower than an OOV one
    val d2 = Seq((0L, "a b a b a b"), (1L, "a b a b"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val m = graft.operators.TextAnalysis.perplexity(d2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) < m(3L))
  }

  test("bloom shingle contamination: exact k-gram overlap, no bloom FPs") {
    // 10-token docs; corpus doc 100 shares the blocklist doc's first 8
    // tokens twice shifted → 3 overlapping 8-grams; doc 101 shares none
    val block = Seq((0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // all 3 8-grams match
      (101L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"), // none
      (102L, "w2 w3 w4 w5 w6 w7 w8 w9 zz zz")   // 8-gram starting at w2
    ).toDF("doc_id", "text")
    val hits = Dedup.bloomShingleContamination(corpus, block, k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(100L -> 3L, 102L -> 1L)) // 101 absent: confirm join
  }

  test("HLL sketch rollup: incremental append merges to the full answer") {
    // the mergeability contract behind Sketches.sketchRollup: sketch
    // cells built from disjoint slices of the data, unioned as ROWS and
    // merged with hll_union_agg, estimate exactly what one full-corpus
    // sketch estimates (register merge is a max — subset sketches
    // compose losslessly at equal lgK)
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    def rollup(c: org.apache.spark.sql.DataFrame) =
      c.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val partA = ev.filter(col("user_id") % 2 === 0)
    val partB = ev.filter(col("user_id") % 2 =!= 0)
    val incremental = rollup(cells(partA).unionAll(cells(partB)))
    val full = rollup(cells(ev))
    assert(incremental == full,
      s"incremental sketch merge diverged: $incremental vs $full")
  }

  test("winnow r19: array-side fingerprints equal the window formulation") {
    // the r18 shape — posexplode + lead(k-1) window + min-over-window +
    // distinct — re-built inline as the equivalence reference for the
    // zero-shuffle array-side rewrite (r19 optimization round)
    def windowWinnow(docs: org.apache.spark.sql.DataFrame,
        k: Int, w: Int): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tok = docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val parts = (0 until k).map(i =>
        if (i == 0) col("t") else lead(col("t"), i).over(byPos))
      val grams = tok.select(col("doc_id"), col("pos"),
          concat_ws(" ", parts: _*).as("g"), parts.last.isNotNull.as("__full"))
        .filter(col("__full"))
        .select(col("doc_id"), col("pos"),
          TextAnalysis.md5Prefix60(col("g")).as("h"))
      val winMin = grams.select(col("doc_id"), col("pos"),
        min(col("h")).over(byPos.rowsBetween(0, w - 1)).as("m"),
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n"))
      winMin.filter(col("pos") <= col("n") - w)
        .select(col("doc_id"), col("m").as("fp"))
        .distinct()
    }
    // mixed shapes: long docs, an exact-minimum-window doc (k+w-1
    // tokens), a one-short doc (k+w-2 → zero fingerprints), repeated
    // tokens (duplicate gram hashes), empty text
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "prefix words first alpha beta gamma delta epsilon zeta eta"),
      (3L, "one two three four five six"),       // exactly k+w-1 = 6
      (4L, "one two three four five"),           // 5 < 6 → no rows
      (5L, "rep rep rep rep rep rep rep rep"),   // duplicate grams
      (6L, "")).toDF("doc_id", "text")
    for ((k, w) <- Seq((3, 4), (2, 3))) {
      val neu = TextAnalysis.winnowFingerprints(d, k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val old = windowWinnow(d, k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(neu == old, s"winnow divergence at k=$k w=$w")
      // doc 4 (5 tokens) owns a full window only when k+w-1 <= 5;
      // doc 6 (empty) never does; doc 3 (6 tokens) always does here
      assert(neu.exists(_._1 == 4L) == (k + w - 1 <= 5))
      assert(!neu.exists(_._1 == 6L))
      assert(neu.exists(_._1 == 3L))
    }
  }

  test("C4 spans r19: hash-multiset aggregate equals the spanDedup form") {
    // ta_c4_spans' restructured aggregate (per-h counts, no windows)
    // must equal the spanDedup(first-flag) aggregation on every output
    val docs = Seq(
      (1L, "One full sentence here. Two full sentences here. Three full sentences here. Four closes it."),
      (2L, "One full sentence here. Two full sentences here. Three full sentences here. Four closes it."),
      (3L, "Entirely different first! Entirely different second? Entirely different third."),
      (4L, "Too short. Only two."),  // < 3 fragments → no spans
      (5L, "")).toDF("doc_id", "text")
    val viaWindow = C4.spanDedup(docs)
      .agg(count(lit(1)).as("n_spans"),
        count_distinct(col("h")).as("n_unique"),
        sum(lit(1) - col("first")).as("n_dup_removed"),
        TextAnalysis.checksum60(
          when(col("first") === 1, col("h")).otherwise(lit(0L)))
          .as("kept_checksum")).head()
    val withFrags = docs.select(filter(
      transform(split(col("text"), "[.!?]"), f => trim(f)),
      f => f =!= "").as("frags"))
    val spans = withFrags
      .select(col("frags"), posexplode(col("frags")).as(Seq("pos", "frag")))
      .filter(col("pos") <= size(col("frags")) - 3)
      .select(TextAnalysis.md5Prefix60(concat_ws(" ", col("frag"),
        element_at(col("frags"), col("pos") + 2),
        element_at(col("frags"), col("pos") + 3))).as("h"))
    val viaAgg = spans.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_spans"),
        count(lit(1)).as("n_unique"),
        (sum(col("c")) - count(lit(1))).as("n_dup_removed"),
        TextAnalysis.checksum60(col("h")).as("kept_checksum")).head()
    assert(viaAgg == viaWindow,
      s"ta_c4_spans aggregate divergence: $viaAgg vs $viaWindow")
  }
}
