package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Checkpoints
import graft.sources.Tables

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the part that matters at 100 TB):
  * - exact dedup is one hash-partitioned shuffle on the content digest —
  *   never on the content itself (bytes stay columnar in the scan);
  * - MinHash/LSH turns the O(n²) pair problem into `bands` small
  *   shuffles keyed by band hash: only documents sharing a band bucket
  *   are ever paired, and bucket sizes are bounded by construction;
  * - SimHash near-dup uses the pigeonhole band trick (hamming ≤ k ⇒ at
  *   least one of k+1 chunks equal), again shuffle-by-band-key only;
  * - embedding near-dup buckets by sign-random-projection before any
  *   pairing. Brute-force pairing exists only as the verification step
  *   *inside* a bucket.
  * All signature computation is `functions._` expressions (codegen'd,
  * no UDFs) — a narrow map over the scan.
  */
object Dedup {

  import TextAnalysis.{normText, tokens}

  /** word k-shingles of the normalized text, distinct */
  def shingles(c: Column, k: Int = 3): Column = {
    val toks = tokens(c)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** k-shingles as 60-bit ints (md5-prefix). Set operations over fixed
    * ints are far cheaper than over strings, and md5 is portable — an
    * external oracle can reproduce the exact values
    * (CAST('0x'||substr(md5(s),1,15) AS BIGINT) in DuckDB). */
  def shinglesHashed(c: Column, k: Int = 3): Column =
    transform(shingles(c, k),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))

  /** k-shingles as xxhash64 ints — cheapest form, engine-internal. */
  def shinglesXx(c: Column, k: Int = 3): Column =
    transform(shingles(c, k), s => xxhash64(s))

  /** (doc_id, s) STRING k-shingle rows built codegen-only — the
    * ta_winnow shape: the token array rides through one posexplode and
    * each gram is assembled with try_element_at (concat_ws skips the
    * NULLs past a short doc's end, matching [[shingles]]'s slice
    * truncation — a doc shorter than k tokens yields its single short
    * gram at position 0, exactly like `slice(toks, 1, k)`). One row per
    * gram POSITION 0..max(n−k, 0): callers needing [[shingles]]'s
    * per-doc distinctness dedup on (doc_id, s) downstream. No window,
    * no higher-order lambda (those are CodegenFallback — interpreted —
    * and the measured dominant cost of the Bloom contamination path),
    * no exchange.
    *
    * NULL-text divergence from `explode(shingles(text))` (r19 ADVICE):
    * a NULL text tokenizes to a NULL array, so posexplode yields NO
    * rows here, while `shingles(NULL)` emitted one empty-string gram
    * (size(null) = −1 makes its sequence yield [0] and concat_ws over
    * the null slice gives ""). Deliberate: a null document owns no
    * k-grams; pinned by an OperatorsSpec test. */
  def shingleStringRows(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= greatest(size(col("__toks")) - k, lit(0)))
      .select(col("doc_id"), concat_ws(" ", (0 until k).map(j =>
        if (j == 0) col("t")
        else try_element_at(col("__toks"), col("pos") + lit(j + 1))): _*)
        .as("s"))

  /** (doc_id [, carry...], s) rows of hashed FULL k-shingles, built from
    * native operators only — the ta_winnow shape: the token array rides
    * through one posexplode and each gram is assembled with element_at
    * (codegen'd; the previous lead(k−1) window paid an Exchange + per-doc
    * sort over EVERY token row just to see the next k−1 tokens). No
    * higher-order-function lambdas (those are CodegenFallback —
    * interpreted — and dominate cost at scale; measured 9.4s vs <2s on
    * 5k docs), and now ZERO exchanges: the downstream per-document
    * aggregations (min-hash) get map-side partial combine, so only one
    * row per document ever crosses the wire. Documents shorter than k
    * tokens yield no rows. `withPos = true` additionally emits the
    * gram's token position (needed by interval-coverage consumers like
    * [[substringDupCoverage]]). */
  def shingleRows(docs: DataFrame, k: Int, hashFn: Column => Column,
      carry: Seq[String] = Nil, withPos: Boolean = false): DataFrame = {
    val posCols = if (withPos) Seq(col("pos")) else Nil
    docs.select(col("doc_id") +: carry.map(col) :+
        tokens(col("text")).as("__toks"): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("__toks") :+
        posexplode(col("__toks")).as(Seq("pos", "t")): _*)
      .filter(col("pos") <= size(col("__toks")) - k)
      .select(col("doc_id") +: (carry.map(col) ++ posCols) :+
        hashFn(concat_ws(" ", (0 until k).map(j =>
          if (j == 0) col("t")
          else element_at(col("__toks"), col("pos") + lit(j + 1))): _*))
          .as("s"): _*)
  }

  /** MinHash signature: `numHashes` seeded xxhash64 minima over shingles */
  def minhashSignature(sh: Column, numHashes: Int): Column = {
    val sigs = (0 until numHashes).map { seed =>
      array_min(transform(sh, s => xxhash64(lit(seed), s)))
    }
    array(sigs: _*)
  }

  /** MinHash signatures via explode + codegen'd partial aggregation:
    * (doc_id, sh) → (doc_id, h0..h{k-1}). Bit-identical to
    * [[minhashSignature]] (min is order-independent) but avoids
    * interpreted higher-order-function lambdas in the hot path — the
    * per-shingle hash columns are whole-stage-codegen and the min()
    * combine is map-side partial, so the shuffle carries one row per
    * document. */
  def minhashSignatureAgg(sh: DataFrame, numHashes: Int): DataFrame = {
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    tok.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures straight from (doc_id, s) shingle rows. Duplicate
    * shingles don't affect min(), so the rows need no dedup. */
  def minhashSignatureFromRows(shRows: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    shRows.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys: signature split into bands of `rowsPerBand`, each
    * band hashed to one bucket key */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)

  /** exact 64-bit SimHash over tokens: bit b = sign of Σ ±1 votes */
  def simhash(c: Column): Column = {
    val hashes = transform(tokens(c), t => xxhash64(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, b) => a + when(call_function("shiftright", h, b)
          .bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash via explode + codegen'd aggregation: (doc_id, text-tokens)
    * → (doc_id, sig). Bit-identical to [[simhash]] (vote sums are
    * order-independent integer adds) with the whole vote loop in
    * whole-stage codegen and map-side partial aggregation. */
  def simhashAgg(docs: DataFrame): DataFrame =
    simhashAggImpl(docs, xxhash64(_), 64)

  /** Portable 60-bit SimHash: per-token hash is the md5 prefix
    * ([[TextAnalysis.md5Prefix60]]), so the whole vote loop is
    * reproducible in an external engine (same treatment as
    * [[minhashDupPairsPortable]]). */
  def simhashAggPortable(docs: DataFrame): DataFrame =
    simhashAggImpl(docs, TextAnalysis.md5Prefix60, 60)

  private def simhashAggImpl(docs: DataFrame, tokHash: Column => Column,
      bits: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), tokHash(col("t")).as("h"))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b"))
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** hamming distance between two 64-bit signatures */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** jaccard similarity of two (distinct-element) arrays */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** jaccard with precomputed set sizes: |A∪B| = |A|+|B|−|A∩B|, so the
    * pair loop pays ONE array op (intersect) instead of also building
    * the union array — the dominant cost in the O(n²) verify step. */
  def jaccardPre(a: Column, na: Column, b: Column, nb: Column): Column = {
    val i = size(array_intersect(a, b))
    i.cast("double") / (na + nb - i)
  }

  // ------------------------------------------------------------- pipelines

  /** Exact dedup: one row per distinct content digest, keeping min doc_id.
    * One shuffle, keyed by digest. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-dup candidate pairs, verified by exact shingle
    * jaccard ≥ `threshold`. Returns (doc_a, doc_b, jac) with doc_a <
    * doc_b.
    *
    * Scale structure: the shingle table is persisted (computed once, not
    * once per self-join leg); the band join carries ONLY (bucket, id) —
    * ids dedupe to candidate pairs before any array work; shingle arrays
    * are joined back just for the verify step. Shuffles: band keys
    * (ids), candidate ids, two id-keyed shingle lookups — never an
    * all-pairs product, and never wide arrays through the band shuffle. */
  def minhashDupPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleK: Int = 3,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    minhashPairsImpl(docs, numHashes, bands, threshold, shingleK,
      shingleHash = xxhash64(_),
      laneHash = (i, s) => xxhash64(lit(i), s),
      bucket = cols => xxhash64(cols: _*),
      maxBucket = maxBucket)

  /** Default cap on (band, bucket) occupancy — see [[minhashPairsImpl]].
    * 1000 docs/bucket bounds a bucket's pair work at ~500k comparisons;
    * honest LSH buckets on near-dup-mining thresholds stay orders of
    * magnitude below this. */
  val defaultMaxBucket = 1000

  /** MinHash+LSH with fully PORTABLE hashing (md5-prefix for shingles,
    * seeded md5 for the signature lanes, decimal-string band buckets):
    * bit-identical reproducible by any engine, so the whole
    * shingle→minhash→band→bucket-join→verify pipeline can be
    * hash-checked against an external oracle — not just rows-counted.
    * Same implementation as [[minhashDupPairs]] (the cheap xxhash64
    * variant); only the three hash functions differ. */
  /** Portable lane `i` over a shingle hash: two 60-bit lanes ride each
    * seeded md5 digest (hex slices [1,16) and [16,31)) — half the md5
    * calls of one-digest-per-lane, still fully reproducible in SQL. */
  private def portableLane(i: Int, s: Column): Column =
    TextAnalysis.md5Slice60(
      concat_ws("|", lit((i / 2).toString), s.cast("string")),
      1 + 15 * (i % 2))

  def minhashDupPairsPortable(docs: DataFrame, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, shingleK: Int = 3,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    minhashPairsImpl(docs, numHashes, bands, threshold, shingleK,
      shingleHash = TextAnalysis.md5Prefix60,
      laneHash = portableLane,
      bucket = cols => concat_ws(",", cols.map(_.cast("string")): _*),
      maxBucket = maxBucket)

  /** MinHash LSH index for INCREMENTAL dedup: one row per document
    * carrying the `numHashes` portable (seeded-md5) signature lanes —
    * ~16×8 B + id per doc, so the index for a 100 TB corpus is a few
    * hundred GB of parquet probed WITHOUT ever touching the corpus text
    * again. Persist with plain `.write.parquet` (or bucketed by a band
    * key for co-located probes) and hand the reload to
    * [[dedupAgainstLshIndex]] as new batches arrive. */
  def buildLshIndex(docs: DataFrame, numHashes: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val shRows = shingleRows(docs, shingleK, TextAnalysis.md5Prefix60)
    val withLanes = shRows.select(col("doc_id") +:
      (0 until numHashes).map(i => portableLane(i, col("s")).as(s"l$i")): _*)
    val mins = (0 until numHashes).map(i => min(col(s"l$i")).as(s"h$i"))
    withLanes.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Probe a NEW batch of documents against a persisted corpus index
    * (day-2 corpus growth: dedup today's crawl against everything ever
    * ingested without re-signing the archive). Returns one row per
    * batch document that near-duplicates the indexed corpus:
    * (batch_doc, corpus_doc = best match, est_jac).
    *
    * The confirm is SIGNATURE-level: est_jac = fraction of agreeing
    * lanes (an unbiased jaccard estimate, exact dyadic rational — no
    * float noise). That is what makes the index self-contained: no
    * shingle sets or raw text are stored or read at probe time.
    *
    * Scale shape: the batch is small relative to the index, so the
    * batch's band keys — WITH its signature lanes attached — ride one
    * BROADCAST. The index streams map-side: scan → band explode →
    * broadcast hash join → inline lane comparison → filter, and the
    * only shuffle in the whole probe is the final best-match
    * aggregation, whose map-side combine leaves at most one row per
    * (partition, batch doc). The index is never shuffled, re-joined, or
    * collected. A band pair that collides in several bands is scored
    * identically each time, so the max() dedups candidates for free. */
  def dedupAgainstLshIndex(index: DataFrame, batch: DataFrame,
      numHashes: Int = 16, bands: Int = 4, minAgree: Double = 0.5,
      shingleK: Int = 3): DataFrame = {
    val bsig = Checkpoints.materialize(
      buildLshIndex(batch, numHashes, shingleK))
    lshBandRows(index, "corpus_doc", "a", numHashes, bands)
      .join(broadcast(lshBandRows(bsig, "batch_doc", "b", numHashes, bands)),
        Seq("band", "bucket"))
      .select(col("batch_doc"), col("corpus_doc"),
        laneAgreement(numHashes, "a", "b").as("est_jac"))
      .filter(col("est_jac") >= minAgree)
      .groupBy(col("batch_doc"))
      .agg(max(struct(col("est_jac"), col("corpus_doc"))).as("m"))
      .select(col("batch_doc"), col("m.corpus_doc").as("corpus_doc"),
        col("m.est_jac").as("est_jac"))
  }

  /** Band rows of a signature table, lanes carried along: doc id (as
    * `idAs`), renamed lanes `pfx0..`, plus one (band, bucket) row per
    * band. Shared by the batch index probe and its streaming face. */
  private[graft] def lshBandRows(sig: DataFrame, idAs: String, pfx: String,
      numHashes: Int, bands: Int): DataFrame = {
    val rpb = numHashes / bands
    sig.select((col("doc_id").as(idAs) +:
      (0 until numHashes).map(i => col(s"h$i").as(s"$pfx$i"))) :+
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (b * rpb until (b + 1) * rpb)
            .map(i => col(s"h$i").cast("string")): _*).as("bucket"))
      }: _*)).as("bk"): _*)
      .withColumn("band", col("bk.band"))
      .withColumn("bucket", col("bk.bucket"))
      .drop("bk")
  }

  /** Fraction of agreeing lanes between `aPfx*` and `bPfx*` columns —
    * an unbiased jaccard estimate, exact dyadic rational. */
  private[graft] def laneAgreement(numHashes: Int, aPfx: String,
      bPfx: String): Column =
    (0 until numHashes).map(i =>
      when(col(s"$aPfx$i") === col(s"$bPfx$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes

  /** Attach per-row portable signature lanes `h0..h{n-1}` — the
    * STREAMING face of [[buildLshIndex]]: the same seeded-md5 lane
    * values as the batch groupBy-min pipeline, computed as pure
    * projections (array folds over the document's own shingles) so a
    * document signs in the micro-batch it arrives in with ZERO
    * streaming state. Documents shorter than k tokens get null lanes,
    * matching their absence from the batch-built index (filter
    * `h0 IS NOT NULL` downstream).
    *
    * Two projection stages on purpose: stage 1 materializes ONE array
    * of numHashes/2 seeded digests per shingle (each 128-bit digest
    * carries two 60-bit lanes), stage 2 extracts lane minima with
    * cheap substring/conv slices. The higher-order-function lambdas
    * here are interpreted (CodegenFallback) — one-expression-tree
    * variants re-evaluate md5 per reference, which doubles the digest
    * work; the stage boundary pins it at numHashes/2 md5 calls per
    * shingle. (CollapseProject leaves the boundary alone: the staged
    * alias is non-cheap and multiply referenced.) */
  def withPortableSignature(df: DataFrame, text: Column,
      numHashes: Int = 16, k: Int = 3): DataFrame = {
    require(numHashes % 2 == 0, "numHashes must be even (2 lanes/digest)")
    val toks = tokens(text)
    val grams = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    val digests = transform(grams, g => {
      val s = TextAnalysis.md5Prefix60(g).cast("string")
      array((0 until numHashes / 2).map(d =>
        md5(concat_ws("|", lit(d.toString), s))): _*)
    })
    val staged = df.withColumn("__dg", digests)
    val lanes = (0 until numHashes).map { i =>
      array_min(transform(col("__dg"), a =>
        conv(substring(element_at(a, i / 2 + 1), 1 + 15 * (i % 2), 15),
          16, 10).cast("long"))).as(s"h$i")
    }
    staged.select(df.columns.map(col) ++ lanes: _*)
  }

  /** Shared MinHash+LSH pipeline, parameterized by the shingle, lane,
    * and band-bucket hash functions. Scale structure: the shingle table
    * is persisted (computed once — signature derivation explodes the
    * persisted sets rather than re-running the tokenize→window pipeline,
    * and both verify legs read it); the band join carries ONLY
    * (bucket, id); candidate ids dedupe before any array work. */
  private def minhashPairsImpl(docs: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, shingleK: Int,
      shingleHash: Column => Column,
      laneHash: (Int, Column) => Column,
      bucket: Seq[Column] => Column,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    val shRows = shingleRows(docs, shingleK, shingleHash)
    val sh = shRows.groupBy(col("doc_id")).agg(collect_set(col("s")).as("sh"))
      .withColumn("n", size(col("sh"))).persist()
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // lane values computed in ONE projection before the aggregation:
    // whole-stage codegen's subexpression elimination dedupes the shared
    // digests there (two sliced lanes per md5), which aggregate-input
    // expressions would each recompute
    val withLanes = tok.select(col("doc_id") +:
      (0 until numHashes).map(i => laneHash(i, col("s")).as(s"l$i")): _*)
    val mins = (0 until numHashes).map(i => min(col(s"l$i")).as(s"h$i"))
    val sig = withLanes.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val rpb = numHashes / bands
    val banded0 = sig.select(col("doc_id"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        bucket((b * rpb until (b + 1) * rpb).map(i => col(s"h$i"))).as("bucket"))
    }: _*)).as("bk"))
    // Degenerate-bucket cap: a (band, bucket) with m members produces
    // m(m-1)/2 candidate pairs — one pathological bucket (masses of
    // near-empty or identical-signature docs) makes the self-join
    // quadratic. Buckets over `maxBucket` are DROPPED: the oversized-
    // bucket list is tiny by construction, so this is a broadcast
    // anti join (no extra shuffle of the banded rows). Capped buckets
    // mean those docs' pairs are not mined by THIS band — an explicit
    // recall/cost trade documented here rather than an implicit O(n²).
    val banded = if (maxBucket > 0) {
      val oversized = banded0.groupBy(col("bk"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucket).select(col("bk"))
      banded0.join(broadcast(oversized), Seq("bk"), "left_anti")
    } else banded0
    val l = banded.select(col("bk").as("bka"), col("doc_id").as("doc_a"))
    val r = banded.select(col("bk").as("bkb"), col("doc_id").as("doc_b"))
    l.join(r, col("bka") === col("bkb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccardPre(col("sh_a"), col("n_a"), col("sh_b"), col("n_b")), 6)
          .as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Cross-corpus contamination check — the train/eval DECONTAMINATION
    * primitive every benchmark-hygiene pipeline needs: eval documents
    * whose shingle-set jaccard with ANY train document reaches
    * `threshold`, mined with the same portable MinHash+LSH banding as
    * [[minhashDupPairsPortable]] (banded candidates only — never
    * all-pairs, so the check stays linear-ish at 100 TB where the naive
    * train × eval product is astronomically infeasible). Returns one row
    * per contaminated eval doc with its BEST-matching train doc
    * (max (jac, train_id) — deterministic under ties).
    *
    * Id spaces may overlap between the two tables: ids are tagged into
    * disjoint string keys ('t:…' / 'e:…') that ride the whole pipeline,
    * so no offset arithmetic or prior max-id job is needed. 'e:' < 't:'
    * in binary order, so cross pairs always land as (eval, train). */
  def contaminationPortable(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    contaminationImpl(train, eval,
      minhashDupPairsPortable(_, numHashes, bands, threshold))

  /** PRODUCTION decontamination — what a pipeline should actually run;
    * [[contaminationPortable]] exists so the external oracle can
    * reproduce the result bit-for-bit. Two structural cuts beyond the
    * hash family (isolated r12 timing showed md5-vs-xxhash64 alone
    * moved nothing — the cost was elsewhere):
    *
    * - the two sides are signed SEPARATELY with plain long ids — no
    *   union, no 't:'/'e:' string tagging riding every shuffle key
    *   (the portable variant's string keys were the real tax: our own
    *   dd_minhash_portable beats its baseline while dd_contamination
    *   trailed), and only train×eval bucket pairs exist by
    *   construction, never the train×train/eval×eval pairs the
    *   union-self-join mines and discards;
    * - the confirm is SIGNATURE-level lane agreement (the
    *   [[dedupAgainstLshIndex]] contract: `jac` is an unbiased exact-
    *   dyadic jaccard estimate), skipping the shingle-set collect,
    *   both wide shingle re-joins, and the per-pair array intersects.
    *
    * The eval side (benchmark suites — tiny next to a 100 TB train
    * corpus) rides a broadcast: the train side streams map-side
    * through sign → band-explode → broadcast-join → lane compare, and
    * the only shuffle is the final per-eval-doc argmax. Planted exact
    * copies surface with certainty under any hash family (identical
    * text ⇒ identical signatures ⇒ same buckets, agreement 1.0);
    * near-threshold naturals can differ from the portable variant per
    * hash family, which the differential spec pins. */
  def contamination(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 16,
      bands: Int = 4, shingleK: Int = 3): DataFrame = {
    def sign(docs: DataFrame) = minhashSignatureFromRows(
      shingleRows(docs, shingleK, xxhash64(_)), numHashes)
    lshBandRows(sign(train), "train_doc", "a", numHashes, bands)
      .join(broadcast(
        lshBandRows(sign(eval), "eval_doc", "b", numHashes, bands)),
        Seq("band", "bucket"))
      .select(col("eval_doc"), col("train_doc"),
        laneAgreement(numHashes, "a", "b").as("jac"))
      .filter(col("jac") >= threshold)
      .groupBy(col("eval_doc"))
      .agg(max(struct(col("jac"), col("train_doc"))).as("m"))
      .select(col("eval_doc"), col("m.train_doc").as("train_doc"),
        col("m.jac").as("jac"))
  }

  private def contaminationImpl(train: DataFrame, eval: DataFrame,
      pairs: DataFrame => DataFrame): DataFrame = {
    val tagged = train.select(
        concat(lit("t:"), col("doc_id").cast("string")).as("doc_id"),
        col("text"))
      .unionAll(eval.select(
        concat(lit("e:"), col("doc_id").cast("string")).as("doc_id"),
        col("text")))
    pairs(tagged)
      .filter(col("doc_a").startsWith("e:") && col("doc_b").startsWith("t:"))
      .groupBy(col("doc_a"))
      .agg(max(struct(col("jac"), col("doc_b"))).as("m"))
      .select(expr("substring(doc_a, 3)").as("eval_doc"),
        expr("substring(m.doc_b, 3)").as("train_doc"),
        col("m.jac").as("jac"))
  }

  /** Exact-shingle contamination with a broadcast Bloom pre-filter.
    *
    * Policy: a corpus document is contaminated if it shares ANY exact
    * word k-shingle with a blocklist document (the strictest form of
    * benchmark n-gram decontamination — e.g. the 8-gram overlap rule of
    * GPT-3 appendix C / PaLM's 8-gram decontamination). Semantics are
    * exact; the Bloom filter is purely a communication optimization:
    *
    *   1. blocklist shingles → `DataFrameStatFunctions.bloomFilter`
    *      (one aggregation job; a 1% fpp filter is ~1.2 bytes/item, so
    *      even a 10⁹-shingle blocklist broadcasts as ~a GB instead of
    *      shuffling 100 TB of corpus shingles against it),
    *   2. corpus shingles stream through the broadcast filter map-side —
    *      ≥99% of them drop WITHOUT entering the join shuffle,
    *   3. the ~1% false-positive survivors are confirmed by an exact
    *      left-semi join against the real blocklist shingle set.
    *
    * Step 3 makes the result independent of Bloom hash internals, which
    * is what lets an external oracle (a plain semi join) verify the full
    * output. The per-row probe is a Scala UDF — acceptable OFF the hot
    * path because step 2 already sees only exploded shingle strings and
    * the filter drops them before any shuffle or codegen boundary; a
    * custom codegen Expression would save the boxing but not change the
    * data movement, which is what matters at scale. */
  def bloomShingleContamination(corpus: DataFrame, blocklist: DataFrame,
      k: Int = 8, fpp: Double = 0.01): DataFrame = {
    // materialized once: the count, the bloom aggregation and the confirm
    // join all read this table — without the checkpoint each of the three
    // consumers would re-explode and re-distinct the blocklist shingles
    // (at cluster scale: write to storage / reliable checkpoint instead).
    // The blocklist needs only `text` (r19 ADVICE): shingleStringRows
    // wants a doc_id column, and the ids are discarded here, so a
    // constant satisfies it without narrowing the accepted inputs.
    val blShingles = Checkpoints.materialize(
      shingleStringRows(
        blocklist.select(lit(0L).as("doc_id"), col("text")), k)
        .select(col("s")).distinct())
    val bloom = blShingles.stat.bloomFilter("s",
      math.max(blShingles.count(), 1000L), fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => bc.value.mightContainString(s))
    // gram rows are per-POSITION (no per-doc array_distinct — that form
    // paid an interpreted transform() lambda per doc); the per-doc
    // distinctness that [[shingles]] provided moves into the final
    // count(DISTINCT s), which only ever sees the Bloom+semi survivors
    shingleStringRows(corpus, k)
      .filter(mightContain(col("s")))
      .join(blShingles, Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("s")).as("n_hit_shingles"))
  }

  /** Persist a decontamination blocklist ARTIFACT: the distinct
    * k-shingle table (parquet — the exact-confirm side) plus the
    * serialized Bloom filter (`bloom.bin`, written through the Hadoop
    * filesystem API so the same code targets HDFS/object stores on a
    * cluster). Build once per blocklist revision; every future batch
    * probes the reload instead of re-exploding and re-aggregating the
    * blocklist — the eval-set side of decontamination is static, the
    * arriving corpus is not. */
  def writeBloomBlocklist(blocklist: DataFrame, path: String, k: Int = 8,
      fpp: Double = 0.01): Unit = {
    val spark = blocklist.sparkSession
    // text-only blocklists accepted — ids are discarded (see
    // bloomShingleContamination)
    shingleStringRows(
        blocklist.select(lit(0L).as("doc_id"), col("text")), k)
      .select(col("s")).distinct()
      .write.mode("overwrite").parquet(s"$path/shingles")
    val shT = Tables.readParquet(spark, s"$path/shingles")
    val bloom = shT.stat.bloomFilter("s", math.max(shT.count(), 1000L), fpp)
    val hp = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(hp, true)
    try bloom.writeTo(os) finally os.close()
  }

  /** Probe a corpus against a persisted blocklist artifact — identical
    * result to [[bloomShingleContamination]], but the blocklist work
    * (shingle explode + distinct + Bloom build) happened ONCE at
    * [[writeBloomBlocklist]] time: the probe reads the filter bytes on
    * the driver, broadcasts them, drops non-matching shingles map-side
    * BEFORE the shuffle, and confirms exactly against the shingle
    * parquet (the Bloom stage stays invisible in the result). */
  def bloomContaminationFromArtifact(corpus: DataFrame, path: String,
      k: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val shT = Tables.readParquet(spark, s"$path/shingles")
    val hp = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val is = fs.open(hp)
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(is)
      finally is.close()
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => bc.value.mightContainString(s))
    // same per-position gram rows + count(DISTINCT) as
    // [[bloomShingleContamination]] — identical result by construction
    shingleStringRows(corpus, k)
      .filter(mightContain(col("s")))
      .join(shT, Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("s")).as("n_hit_shingles"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist. Manku-style
    * pigeonhole banding (Manku/Jain/Sarma, WWW'07): the signature is
    * split into `maxDist + 1` chunks, so a pair at distance ≤ maxDist
    * has zero differing bits in AT LEAST ONE chunk — candidate pairing
    * happens only inside (chunk, bucket) groups and recall is complete
    * for EVERY maxDist (the previous fixed 4-chunk scheme guaranteed
    * only ≤ 3 and silently lost pairs at 4-6). */
  def simhashDupPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashAgg(docs), maxDist, bits = 64)

  /** Portable SimHash pairs over the 60-bit md5-derived signature —
    * votes, banding, and hamming verify all reproducible in an external
    * engine, so the driver hash-checks the whole pipeline. */
  def simhashDupPairsPortable(docs: DataFrame, maxDist: Int = 6): DataFrame =
    simhashPairsFromSigs(simhashAggPortable(docs), maxDist, bits = 60)

  /** Pigeonhole banding + hamming verify over a precomputed
    * (doc_id, sig) table. Chunk boundaries are `i * bits / chunks`
    * (widths differ by at most one bit). Public for sig-level
    * completeness testing. */
  def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int,
      bits: Int): DataFrame = {
    val chunks = maxDist + 1
    val bounds = (0 to chunks).map(i => i * bits / chunks)
    // persist: the signature is expensive (per-bit vote lanes) and both
    // self-join legs need it — compute once, reuse from storage
    val withSig = sigs.persist()
    val banded = withSig.select(col("doc_id"), col("sig"),
      explode(array((0 until chunks).map { i =>
        val lo = bounds(i)
        val w = bounds(i + 1) - lo
        struct(lit(i).as("chunk"),
          shiftright(col("sig"), lo).bitwiseAND((1L << w) - 1).as("bucket"))
      }: _*)).as("bk"))
    val l = banded.select(col("bk").as("bka"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("bk").as("bkb"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, col("bka") === col("bkb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming64(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Largest tolerated SRP bucket before the in-bucket pairwise step is
    * declared quadratic-at-scale: 64× the auto-plane target, i.e. severe
    * skew or a mis-pinned plane count, never normal variance. */
  private val srpMaxBucketRows = 64L * 256L

  /** Loud bounded-bucket contract for the SRP-bucketed pairwise
    * operators: per-bucket pair cost is (bucket size)², so a bucket
    * beyond the cap means the plane count no longer tracks the corpus —
    * fail with the fix in the message instead of running quadratically. */
  private def assertBoundedBuckets(bucketed: DataFrame, planes: Int,
      op: String, cap: Long = srpMaxBucketRows): Unit = {
    // coalesce: zero groups (empty input) must read as 0, not a NULL
    // row that NPEs — empty corpora pass the guard and return empty
    val biggest = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L))).first().getLong(0)
    if (biggest > cap)
      throw new IllegalStateException(
        s"$op: largest SRP bucket holds $biggest rows (cap $cap) at " +
          s"planes=$planes - raise the plane count (or pass planes=0 to " +
          "derive it from the corpus size) so per-bucket pairwise work " +
          "stays bounded")
  }

  /** Embedding cosine near-dup pairs ≥ threshold, bucketed by
    * sign-random-projection so only same-bucket vectors pair.
    * `planes = 0` (the default) derives the plane count from the corpus
    * size ([[Vectors.autoSrpPlanes]]) so per-bucket pair cost stays flat
    * as the corpus grows; either way a bounded-bucket assertion fails
    * loudly rather than letting a bucket go quadratic. */
  def embeddingDupPairs(emb: DataFrame, threshold: Double = 0.95,
      planes: Int = 0, maxBucketRows: Long = srpMaxBucketRows): DataFrame = {
    val p = if (planes > 0) planes else Vectors.autoSrpPlanes(emb.count())
    // materialize (not persist): the bounded-bucket guard is an action
    // anyway, so eager materialization is free, both self-join legs read
    // the stored partitions, and the storage is reclaimed automatically
    // once the returned plan is dropped — no session-lifetime cache leak
    // and no unpersist obligation pushed onto the caller.
    val withB = graft.Checkpoints.materialize(
      emb.select(col("vec_id"), col("embedding"),
        Vectors.srpBucket(col("embedding"), p).as("bucket")))
    assertBoundedBuckets(withB, p, "embeddingDupPairs", maxBucketRows)
    val l = withB.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val r = withB.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
    l.join(r, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosineFast(col("e_a"), col("e_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space, and within each cluster drop semantic duplicates —
    * members with cosine ≥ `tau` to another member — keeping, per
    * duplicate group, the example with the LOWEST cosine to the cluster
    * centroid (the paper's keep-policy: retain edge examples, drop the
    * prototypical repeats).
    *
    * Two documented divergences from the paper, both chosen for scale +
    * external reproducibility (same filtering behavior):
    * - clusters are portable SRP buckets ([[Vectors.srpBucketPortable]]:
    *   deterministic md5-parity hyperplanes) instead of trained k-means —
    *   no model state, identical assignment on any engine and any
    *   cluster size;
    * - similarity runs over int8-quantized codes
    *   ([[Vectors.quantizeInt8]]), so the bucket centroid is an INTEGER
    *   sum vector: cross-row float sums are not associative, integer
    *   sums are, which is what makes the whole operator hash-checkable
    *   (cosine is scale-invariant, so the un-normalized sum IS the
    *   centroid direction — same trick as sim_label_centroid).
    *
    * The keep rule is pairwise, not iterative: x is removed iff SOME
    * same-bucket y with pairCos(x,y) ≥ tau precedes it in strict
    * (centroidCos, vec_id) order. Per duplicate group the
    * (centroidCos, vec_id)-minimum always survives, and no connected-
    * components pass is needed — one bucket-keyed semi-join decides
    * every row.
    *
    * Scale shape: bucketing + quantization are narrow maps over the
    * scan; the centroid table has at most 2^planes rows and rides a
    * broadcast back onto the corpus (zero shuffle for the centroid
    * cosines); the duplicate test is ONE bucket-keyed self-semi-join.
    * `planes = 0` (the default) DERIVES the plane count from the corpus
    * size ([[Vectors.autoSrpPlanes]]: 2^planes tracks n/256) so the
    * per-bucket pair cost stays flat at any scale — the r10 "raise
    * planes with corpus size" contract as code — and a bounded-bucket
    * assertion fails loudly if a bucket goes quadratic anyway. The
    * centroid table stays broadcastable at any derived plane count
    * (hi-clamp 2^20 rows). An explicit positive `planes` pins the count
    * (the guard still applies). */
  def semDedup(emb: DataFrame, tau: Double, planes: Int = 0,
      maxBucketRows: Long = srpMaxBucketRows): DataFrame = {
    val pl = if (planes > 0) planes else Vectors.autoSrpPlanes(emb.count())
    // materialize (not persist) for the same reason as embeddingDupPairs:
    // the guard is already an action, the centroid and scoring passes
    // both read the stored partitions, and nothing leaks past the call
    // all three integer dot products below run through the codegen'd
    // IntDotLong expression — the zip_with+aggregate lambda forms are
    // CodegenFallback (interpreted) and made the O(pairs*dim) semi-join
    // loop this operator's dominant cost (r18: 1.77x the reference min;
    // integer sums are associative, so the values are bit-identical)
    val intDot = org.apache.spark.sql.graft.NativeVectorColumns.intDot _
    val q = graft.Checkpoints.materialize(
      emb.select(col("vec_id"), col("label"),
        Vectors.srpBucketPortable(col("embedding"), pl).as("bucket"),
        Vectors.quantizeInt8(col("embedding")).getField("codes").as("codes"))
      .withColumn("qnorm",
        sqrt(intDot(col("codes"), col("codes")).cast("double"))))
    assertBoundedBuckets(q, pl, "semDedup", maxBucketRows)
    // integer centroid-sum vector per bucket, rebuilt in pos order (the
    // collect_list order is arbitrary; the sort pins it)
    val cent = q.select(col("bucket"), posexplode(col("codes")).as(Seq("pos", "c")))
      .groupBy(col("bucket"), col("pos")).agg(sum(col("c")).as("s"))
      .groupBy(col("bucket"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          e => e.getField("s")).as("cvec"),
        sqrt(sum(col("s") * col("s")).cast("double")).as("cnorm"))
    val scored = graft.Checkpoints.materialize(q.join(broadcast(cent), "bucket")
      .withColumn("dotc", intDot(col("codes"), col("cvec")))
      .withColumn("cosc", when(col("qnorm") > 0 && col("cnorm") > 0,
          col("dotc").cast("double") / (col("qnorm") * col("cnorm")))
        .otherwise(lit(0.0)))
      .select(col("vec_id"), col("label"), col("bucket"), col("codes"),
        col("qnorm"), col("cosc")))
    val other = scored.select(col("bucket").as("b_b"), col("vec_id").as("id_b"),
      col("codes").as("c_b"), col("qnorm").as("n_b"), col("cosc").as("k_b"))
    // integer pair dot: exact in both engines, then one double divide
    val pairCos =
      intDot(col("codes"), col("c_b")).cast("double") /
        (col("qnorm") * col("n_b"))
    val removed = scored.join(other,
        col("bucket") === col("b_b") && col("vec_id") =!= col("id_b") &&
          col("qnorm") > 0 && col("n_b") > 0 &&
          (col("k_b") < col("cosc") ||
            (col("k_b") === col("cosc") && col("id_b") < col("vec_id"))) &&
          pairCos >= tau,
        "left_semi")
      .select(col("vec_id")).withColumn("removed", lit(1L))
    scored.join(removed, Seq("vec_id"), "left")
      .withColumn("rm", coalesce(col("removed"), lit(0L)))
      .select(col("vec_id"), col("label"), col("bucket"), col("cosc"), col("rm"))
  }

  /** Exhaustive n-gram jaccard near-dup pairs within each `source`
    * bucket — the O(n²-per-bucket) correctness baseline (MinHash+LSH is
    * the scale path). md5-hashed shingles are portable, so an external
    * oracle reproduces the exact pair set.
    *
    * Cache discipline: the shingle table is persist()ed — NOT
    * lineage-truncated — because the self-join's broadcast decision
    * needs the InMemoryRelation's measured size (a checkpointed
    * LogicalRDD advertises unknown stats and demoted the join to
    * sort-merge: 0.6 s → 4.6 s at sf0.1). The RESULT (the small
    * thresholded pair set) is materialized before the finally-unpersist
    * releases the cache, so nothing leaks past the call and the
    * returned frame never recomputes. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      k: Int = 3, maxBucketDocs: Long = 10000L): DataFrame = {
    val (d, pairs) = ngramJaccardPlan(docs, threshold, k, maxBucketDocs)
    try graft.Checkpoints.materialize(pairs)
    finally d.unpersist()
  }

  /** The persisted shingle table and the LAZY pair plan behind
    * [[ngramJaccardPairs]] (which materializes the pairs and releases
    * the cache). Exposed so PlanRegressionSpec can assert the join's
    * physical shape — the public operator returns a materialized frame
    * whose plan is an opaque RDD scan. Runs the bounded-bucket guard (an
    * action, which also populates the cache so the join plans against
    * MEASURED InMemoryRelation statistics → broadcast, never
    * sort-merge). Callers of THIS method own `d.unpersist()`. */
  private[graft] def ngramJaccardPlan(docs: DataFrame, threshold: Double,
      k: Int, maxBucketDocs: Long = 10000L): (DataFrame, DataFrame) = {
    val d = shingleRows(docs, k,
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
        carry = Seq("source"))
      .groupBy(col("doc_id"), col("source"))
      .agg(collect_set(col("s")).as("sh"))
      .withColumn("n", size(col("sh"))) // set size once per doc, not per pair
      .persist()
    // This is the O(n²-per-source) ORACLE BASELINE, never the production
    // path (minhash is). `source` is low-cardinality, so per-bucket cost
    // is quadratic in corpus size — fail loudly before a large corpus
    // silently runs quadratically, naming the scale path in the message.
    val biggest =
      try d.groupBy(col("source")).agg(count(lit(1)).as("__n"))
        .agg(coalesce(max(col("__n")), lit(0L))).first().getLong(0)
      catch { case e: Throwable => d.unpersist(); throw e }
    if (biggest > maxBucketDocs) {
      d.unpersist()
      throw new IllegalStateException(
        s"ngramJaccardPairs: largest 'source' bucket holds $biggest docs " +
          s"(cap $maxBucketDocs) - this exhaustive baseline would run " +
          "O(n²) over it; use minhashDupPairsPortable (banded LSH) " +
          "for corpora of this size, or raise maxBucketDocs deliberately")
    }
    val l = d.select(col("source"), col("doc_id").as("doc_a"),
      col("sh").as("sh_a"), col("n").as("n_a"))
    val r = d.select(col("source").as("source_b"), col("doc_id").as("doc_b"),
      col("sh").as("sh_b"), col("n").as("n_b"))
    val pairs =
      l.join(r, col("source") === col("source_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(jaccardPre(col("sh_a"), col("n_a"), col("sh_b"), col("n_b")), 6)
            .as("jac"))
        .filter(col("jac") >= threshold)
    (d, pairs)
  }

  /** Exact substring-dedup coverage (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2021 — the ExactSubstr policy):
    * a token position is duplicated when some k-token gram covering it
    * also occurs in at least one OTHER document; per document we compute
    * the number of tokens covered by the union of duplicated gram
    * intervals [pos, pos+k-1]. The paper builds a corpus-wide suffix
    * array — inherently single-node; the Spark-first shape is linear and
    * fully distributed:
    *  1. gram rows with positions: ONE posexplode with window-free
    *     element_at gram assembly ([[shingleRows]] with
    *     `withPos = true` — map-side, no exchange);
    *  2. cross-document census: distinct (gram, doc) → per-gram doc
    *     count ≥ 2 (shuffles keyed by the 60-bit gram hash, map-side
    *     partial aggregation);
    *  3. tag duplicated positions: hash join back on the gram hash;
    *  4. interval union per doc: the gaps-and-islands window pattern —
    *     an island starts where pos exceeds the running max of previous
    *     interval ends, so overlapping grams never double-count a token.
    * Nothing is ever pairwise; every shuffle is keyed by doc or gram.
    * Grouping is on the md5-prefix hash (portable — the oracle groups by
    * the same 60-bit value, so collision behavior is identical).
    *
    * NOTE: the gram table stays persisted for the lifetime of the
    * returned plan (census + tag join both read it); long-lived sessions
    * should `clearCache()` after materializing, as Bench does.
    *
    * Returns (doc_id, dup_tokens, n_runs) for docs with any coverage. */
  def substringDupCoverage(docs: DataFrame, k: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = shingleRows(docs, k, TextAnalysis.md5Prefix60, withPos = true)
      .persist()
    val dup = grams.select(col("s"), col("doc_id")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("s"))
    val dupPos = grams.join(dup, "s").select(col("doc_id"), col("pos"))
    // gaps-and-islands: a new island where this interval's start is past
    // every previous interval's end (same-length intervals ⇒ coverage
    // within an island is the contiguous run [min pos, max pos + k-1])
    val prevEnd = max(col("pos") + lit(k - 1)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dupPos
      .withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(w))
    islands.groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("__a"), max(col("pos") + lit(k - 1)).as("__b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__b") - col("__a") + 1).as("dup_tokens"),
        count(lit(1)).as("n_runs"))
  }

  /** Exact paragraph-level dedup (the MassiveText / RefinedWeb exact-
    * substring stage at paragraph granularity — Rae et al. 2021 §A1.1.1,
    * Penedo et al. 2023): every distinct paragraph keeps exactly ONE
    * occurrence corpus-wide (the minimum (doc_id, position)); all other
    * copies are removed and documents are rebuilt from their surviving
    * paragraphs in order.
    *
    * Scale shape: paragraphs explode narrowly (1 doc row → n_para rows);
    * the keep-decision is an ARG-MIN aggregate keyed by the 60-bit
    * paragraph hash — `min(struct(doc_id, pos))` with map-side partial
    * aggregation — NOT a row_number window, because a boilerplate
    * paragraph duplicated 10⁹× would funnel one window partition through
    * one task, while a partial min stays balanced under any skew. Join
    * back on the hash (equi), rebuild with a doc-keyed sort_array —
    * shuffles keyed by hash or doc only, nothing pairwise, no windows.
    *
    * Returns (doc_id, keep..., n_paras, clean_text, n_paras_kept);
    * `keep` columns and the before-count ride the census so callers
    * never re-scan the corpus to join them back (the gopherNgramStats
    * keep-column pattern — a second full-text pass for a count is real
    * money at 100 TB). Docs whose every paragraph was claimed elsewhere
    * come back with empty text (the caller decides whether to drop
    * them). Hashing is the portable md5-prefix, so an external engine
    * reproduces the exact keep-set. */
  def paragraphDedup(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val paras = docs.select(col("doc_id") +: keep.map(col) :+
        posexplode(split(col("text"), "\n\n")).as(Seq("pos", "para")): _*)
      .withColumn("fp", TextAnalysis.md5Prefix60(col("para")))
      .persist()
    // ONE persisted paragraph table feeds the doc census, the arg-min
    // keep-decision, and the tag join — the corpus is scanned once
    val census = paras.groupBy(col("doc_id") +: keep.map(col): _*)
      .agg(count(lit(1)).as("n_paras"))
    val firstOcc = paras.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("m"))
    val kept = paras.join(firstOcc, "fp")
      .filter(col("doc_id") === col("m.doc_id") && col("pos") === col("m.pos"))
      .select(col("doc_id"), col("pos"), col("para"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")), "\n\n").as("clean_text"))
    census.join(rebuilt, Seq("doc_id"), "left")
      .select((col("doc_id") +: keep.map(col)) ++ Seq(col("n_paras"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept")): _*)
  }

  /** Connected components over an undirected pair list `(doc_a, doc_b)`:
    * returns `(doc_id, root)` where root = min doc_id reachable. This is
    * the step that turns near-dup PAIRS into dedup GROUPS (keep one doc
    * per component).
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * (a) takes the per-node min over neighbor labels, then (b) compresses
    * one pointer hop (`root := label(root)` through the previous round's
    * mapping). Step (b) is what makes convergence O(log diameter) instead
    * of O(diameter): labels race down chains exponentially, the same
    * idea as large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"). Both steps are
    * FUSED into one composed plan per round — a single checkpoint
    * action that also truncates the lineage (at cluster scale:
    * `checkpoint` to a reliable store instead) — because on a big
    * cluster the loop's cost floor is driver round-trips per iteration,
    * not data volume. The label table only ever holds docs that appear
    * in some pair — orders of magnitude smaller than the corpus — and is
    * broadcast when its measured size allows, leaving at most the
    * partial-agg shuffle per round. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the (possibly expensive — e.g. a whole LSH mining
    // pipeline) pair plan ONCE before the symmetric union: both union
    // legs would otherwise execute it independently in the first job,
    // since tasks racing within one job don't see each other's cache
    val p = pairs.select(col("doc_a").as("u"), col("doc_b").as("v")).persist()
    p.count()
    // cache the symmetric edge table ALREADY hash-partitioned on u: when
    // the label side broadcasts (below), the per-iteration plan then needs
    // no Exchange at all — the neighbor join is map-side and the
    // groupBy(u) partial agg reuses the cached partitioning
    val edges = p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u"))
      .persist()
    // the label table holds only docs that appear in some pair — usually
    // orders of magnitude smaller than the corpus. Checkpointed plans
    // carry no size stats, so AQE cannot discover broadcastability on its
    // own; decide once from MEASURED bytes, not row count (ids are
    // caller-supplied and may be wide strings — a row-count cutoff alone
    // could broadcast well past driver/executor memory), capped at
    // 160 MB, the upper end of a sane broadcast. Past that, joins fall
    // back to shuffles — the label table is then cluster-scale data
    // anyway. The measurement rides the label build's OWN materialization
    // job as an `observe` metric — no separate aggregate pass.
    val labels0 = edges.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), first(col("u"))).as("root"))
    val widthOf: Column = labels0.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType =>
          // BYTES (octet_length — length() counts characters, and UTF-8
          // ids can be 4 bytes each) + object overhead in the broadcast
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L)) + lit(24L)
        case _ => lit(16L) // fixed-width value + per-field row share
      }
    }.reduce(_ + _)
    val estObs = new org.apache.spark.sql.Observation
    var labels = Checkpoints.materialize(labels0
      .observe(estObs, count(lit(1)).as("n"), sum(widthOf).as("bytes")))
    val est = estObs.get // blocks until the checkpoint job reported
    val lblBroadcastable = est("n").asInstanceOf[Long] > 0 &&
      est("bytes") != null &&
      est("bytes").asInstanceOf[Long] <= (160L << 20)
    def hinted(df: DataFrame): DataFrame =
      if (lblBroadcastable) broadcast(df) else df
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // Propagate (min over neighbor labels) and pointer-jump FUSED into
      // one composed plan — and the convergence probe rides the SAME
      // materialization as an `observe` metric, so each round is exactly
      // ONE job (r3 ran prop-ckpt + next-ckpt + a join-probe count; r4
      // fused the plans but still paid a probe scan per round). On a
      // cluster the loop's cost floor is driver round-trips — this is
      // the minimum: one action per iteration.
      // The jump follows the PREVIOUS round's mapping, which is already
      // checkpointed, so nothing in this plan executes twice.
      // Stale-by-one compression still races labels down chains
      // exponentially; labels only ever decrease and stay inside the
      // component, and the fixpoint test subsumes the propagate-only
      // fixpoint (= correct CC labels).
      val chgObs = new org.apache.spark.sql.Observation
      val next0 = edges
        .join(hinted(labels.withColumnRenamed("doc_id", "v")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("root")).as("nroot"))
        .join(hinted(labels), "doc_id")
        .select(col("doc_id"), col("root").as("__old"),
          least(col("root"), col("nroot")).as("__prop"))
        .join(hinted(labels.select(col("doc_id").as("__prop"),
          col("root").as("__rroot"))), Seq("__prop"), "left")
        .select(col("doc_id"),
          least(coalesce(col("__rroot"), col("__prop")), col("__prop"))
            .as("root"), col("__old"))
        .observe(chgObs, sum(when(col("root") =!= col("__old"), 1L)
          .otherwise(0L)).as("changed"))
      val next = Checkpoints.materialize(next0)
      converged = chgObs.get("changed") == null ||
        chgObs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select(col("doc_id"), col("root"))
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    labels
  }

  /** One row per dup cluster: representative (min doc_id), size. */
  def clusterSummary(components: DataFrame): DataFrame =
    components.groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))

  // --------------------------------------------------------- driver queries
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup summary — oracle-checkable
    "dd_exact" -> ((s, dir) => {
      exact(Tables.load(s, dir, "documents"))
        .agg(count(lit(1)).as("n_unique"),
          sum(col("n_copies")).as("n_docs"),
          sum(when(col("n_copies") > 1, 1).otherwise(0)).as("n_dup_groups"))
    }),
    // n-gram jaccard near-dup pairs — the exhaustive O(n²-per-bucket)
    // correctness baseline (LSH below is the scale path), restricted to 4
    // source buckets. Oracle-checkable in DuckDB with identical list
    // semantics. Shingle table persisted: one computation, two join legs.
    "dd_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(Tables.load(s, dir, "documents")
          .filter(col("source").isin("src0", "src1", "src2", "src3")), 0.2)
        .orderBy(col("doc_a"), col("doc_b"))),
    // exact substring-dedup coverage (Lee et al. ExactSubstr policy):
    // per-source doc counts, docs ≥20% covered by cross-document
    // duplicated 8-token runs, and covered/total token sums — all
    // integer-exact, interval union fully reproduced by the oracle
    "dd_substring" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cov = substringDupCoverage(docs, k = 8)
      val census = docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      census.join(cov, Seq("doc_id"), "left")
        .select(col("source"), col("n_toks"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_toks") * 5 >= col("n_toks"), 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col("dup_toks")).as("dup_tokens"),
          sum(col("n_toks")).as("total_tokens"))
        .orderBy(col("source"))
    }),
    // exact paragraph dedup: per-source doc counts, paragraph counts
    // before/after the corpus-wide keep-one policy, and an int64-bounded
    // checksum of every REBUILT document — the full cleaned corpus is
    // verified, not a sample
    "dd_paragraph" -> ((s, dir) => {
      paragraphDedup(Tables.load(s, dir, "documents"), keep = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_paras")).as("paras_before"),
          sum(col("n_paras_kept")).as("paras_after"),
          TextAnalysis.checksum60(
            TextAnalysis.md5Prefix60(col("clean_text"))).as("clean_checksum"))
        .orderBy(col("source"))
    }),
    // dup pairs → dedup GROUPS: connected components over the union of
    // exact-dup pairs (fingerprint equality) and the PORTABLE MinHash+LSH
    // similarity pairs — the scale path, not the O(n²) ngram baseline
    // (the synthetic corpus is near-dup-free, so the base+80%-prefix
    // variant harness supplies guaranteed true near-dups). The keep-set
    // is then one doc per root. Oracle: DuckDB rebuilds the LSH pipeline
    // and runs a recursive-CTE transitive closure over the same edges.
    "dd_cluster" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + 10000000L).as("doc_id"),
        expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      val corpus = base.unionAll(variants)
      val sim = minhashDupPairsPortable(corpus, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val fp = corpus.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val ex = fp.select(col("fp"), col("doc_id").as("doc_a"))
        .join(fp.select(col("fp").as("fp_b"), col("doc_id").as("doc_b")),
          col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(sim.unionAll(ex)).orderBy(col("doc_id"))
    }),
    // PORTABLE MinHash+LSH, fully hash-checked: the corpus is each doc
    // plus a deterministic 80%-prefix variant (a classic near-dup test
    // harness derived from the given table, reproducible in SQL), so the
    // pipeline has guaranteed true positives at every scale — the oracle
    // rebuilds shingles, 16 seeded-md5 minhash lanes, band buckets,
    // candidate pairs, and the jaccard verify, end to end
    "dd_minhash_portable" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + 10000000L).as("doc_id"),
        expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      minhashDupPairsPortable(base.unionAll(variants), threshold = 0.5)
        .agg(count(lit(1)).as("n_pairs"),
          // exact decimal SUM (order-independent), then the divide in
          // double — matching the oracle's CAST(SUM AS DOUBLE)/count
          // exactly (decimal division rounds differently at the 6th dp)
          coalesce(round(sum(col("jac").cast(DecimalType(18, 12)))
            .cast("double") / count(lit(1)), 6), lit(0.0)).as("avg_jac"),
          coalesce(sum(when(col("doc_b") === col("doc_a") + 10000000L, 1)
            .otherwise(0)), lit(0)).as("n_variant_pairs"))
    }),
    // cross-corpus decontamination: train = src0/src1, eval = src2 plus
    // 80%-prefix variants of every 10th train doc (guaranteed true
    // contamination; the synthetic corpus is otherwise near-dup-free).
    // The portable pipeline makes the FULL result hash-checkable:
    // contaminated eval ids, their best train match, and the jaccard.
    "dd_contamination" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val planted = train.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      val eval = docs.filter(col("source") === "src2")
        .select(col("doc_id"), col("text"))
        .unionAll(planted)
      contaminationPortable(train, eval, threshold = 0.5)
        .select(col("eval_doc").cast("long").as("eval_doc"),
          col("train_doc").cast("long").as("train_doc"), col("jac"))
        .orderBy(col("eval_doc"))
    }),
    // the PRODUCTION fast-hash (xxhash64) decontamination path. The
    // hash family is engine-internal, so the oracle leg can't replicate
    // the banding — instead the gate is deterministic by construction:
    // eval = src2 plus EXACT COPIES of every 10th train doc (identical
    // text ⇒ identical signatures in ANY hash family ⇒ candidate
    // recall 1, lane agreement exactly 1.0), and the output is
    // restricted to the planted id range, every row of which DuckDB
    // derives directly from the tables. The full corpus still flows
    // through the banded pipeline — only the assertion is
    // planted-scoped. train_doc is NOT in the gate output: two train
    // docs can be near-identical enough to agree on all 16 lanes under
    // SOME hash family (sf0.001 docs 120/360 sit at exact jaccard
    // 0.97), and the argmax tie-break would then be family-dependent —
    // (eval_doc, jac) is deterministic under every family; train-match
    // resolution is covered by the portable variant's full oracle.
    "dd_contamination_fast" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val planted = train.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val eval = docs.filter(col("source") === "src2")
        .select(col("doc_id"), col("text"))
        .unionAll(planted)
      contamination(train, eval, threshold = 0.5)
        .filter(col("eval_doc") >= 20000000L)
        .select(col("eval_doc"), col("jac"))
        .orderBy(col("eval_doc"))
    }),
    // INCREMENTAL dedup against a persisted LSH index: corpus =
    // src0/src1 is signed once and the signatures round-trip through
    // parquet; the batch = src2 plus 80%-prefix variants of every 10th
    // corpus doc (guaranteed near-dups) probes the reloaded index. The
    // confirm is signature-level (fraction of agreeing lanes — exact
    // dyadic, so fully hash-checkable), never touching corpus text.
    "dd_lsh_incremental" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("source") === "src2")
        .select(col("doc_id"), col("text"))
        .unionAll(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            expr("substring(text, 1, (4 * length(text)) div 5)").as("text")))
      val tmp = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
      buildLshIndex(corpus).write.mode("overwrite").parquet(tmp)
      dedupAgainstLshIndex(Tables.readParquet(s, tmp), batch, minAgree = 0.5)
        .orderBy(col("batch_doc"))
    }),
    // Bloom-prefiltered exact 8-gram decontamination: blocklist = src0,
    // corpus = everything else. The Bloom stage is a pure pre-filter
    // (exact semi-join confirm), so the oracle is the plain semi join.
    "dd_bloom_contamination" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      bloomShingleContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 8)
        .orderBy(col("doc_id"))
    }),
    // the same decontamination through a PERSISTED artifact: blocklist
    // shingles + Bloom bytes round-trip through storage, the probe
    // rebuilds nothing — result must be identical to the from-scratch
    // path (same oracle)
    "dd_bloom_incremental" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
      writeBloomBlocklist(docs.filter(col("source") === "src0"), tmp, k = 8)
      bloomContaminationFromArtifact(
        docs.filter(col("source") =!= "src0"), tmp, k = 8)
        .orderBy(col("doc_id"))
    }),
    // MinHash LSH + verify, gated on engine-independent invariants: the
    // xxhash64 band scheme itself can't be reproduced in SQL, but
    // (a) every exact-duplicate shingle-set pair MUST be found (equal
    // sets agree on all 16 lanes, so every band collides) and (b) the
    // verify step means every emitted pair has true jaccard >= the
    // threshold — both checkable by an exhaustive DuckDB oracle
    // (the synthetic corpus has no exact dups, so exact COPIES of every
    // doc are unioned in — each base doc then has a guaranteed jac-1.0
    // partner, making the completeness invariant non-vacuous)
    "dd_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 10000000L).as("doc_id"),
        col("text"))
      minhashDupPairs(docs.unionAll(copies),
        numHashes = 16, bands = 4, threshold = 0.3)
        .agg(
          coalesce(sum(when(col("jac") >= 0.999999, 1L).otherwise(0L)),
            lit(0L)).as("n_exact_pairs"),
          coalesce((min(col("jac")) >= 0.3).cast("bigint"), lit(1L))
            .as("precision_ok"))
    }),
    // PORTABLE SimHash near-dup over base + 80%-prefix variants (same
    // harness as dd_minhash_portable): 60-bit md5-derived signature, so
    // the oracle rebuilds the votes, the maxDist+1 pigeonhole banding,
    // and the hamming verify end to end — fully hash-checked
    "dd_simhash" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + 10000000L).as("doc_id"),
        expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      simhashDupPairsPortable(base.unionAll(variants), maxDist = 6)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("dist")), lit(0L)).as("sum_dist"),
          coalesce(sum(when(col("doc_b") === col("doc_a") + 10000000L, 1L)
            .otherwise(0L)), lit(0L)).as("n_variant_pairs"))
    }),
    // embedding cosine near-dup, brute-force within label groups —
    // oracle-checkable (DuckDB mirrors the double-precision expression)
    "dd_embedding_cos" -> ((s, dir) => {
      // norms precomputed per vector (O(n)), not per pair (O(n²)); the
      // pair step pays one dot product only — mirrors the oracle's CTE
      val e = Tables.load(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"),
          Vectors.norm2Fast(col("embedding")).as("nrm"))
        .persist()
      val l = e.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("e_a"), col("nrm").as("nrm_a"))
      val r = e.select(col("label").as("label_b"), col("vec_id").as("id_b"),
        col("embedding").as("e_b"), col("nrm").as("nrm_b"))
      l.join(r, col("label") === col("label_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (Vectors.dotFast(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b"))).as("cos0"))
        .filter(col("cos0") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos0"), 6).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // SemDeDup per-label summary: corpus size, removals, exact identity
    // of the kept set (id sum) and the full centroid-cosine profile
    // (half-up fixed-point checksum — int64-bounded at any corpus size)
    "dd_semdedup" -> ((s, dir) => {
      semDedup(Tables.load(s, dir, "embeddings"), tau = 0.35)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("rm")).as("n_removed"),
          sum(when(col("rm") === 0, col("vec_id")).otherwise(0L))
            .as("kept_id_sum"),
          sum(floor(col("cosc") * 1e6 + 0.5).cast("long"))
            .as("cosc_checksum"))
        .orderBy(col("label"))
    })
  )

  /** base + 80%-prefix-variant harness corpus (guaranteed true near-dups
    * derivable from the given table), shared by the portable dedup
    * oracles. Defines `src(doc_id, text)`. */
  private val variantSrcSql: String =
    """src AS (
      |  SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')
      |  UNION ALL
      |  SELECT doc_id + 10000000, substr(text, 1, (4 * length(text)) // 5)
      |  FROM documents WHERE source IN ('src0', 'src1'))""".stripMargin

  /** The [[contaminationPortable]] driver harness's tagged corpus:
    * train = src0/src1 as 't:id', eval = src2 plus 80%-prefix variants
    * of every 10th train doc as 'e:id'. */
  private val contaminationSrcSql: String =
    """src AS (
      |  SELECT 't:' || CAST(doc_id AS VARCHAR) AS doc_id, text
      |  FROM documents WHERE source IN ('src0', 'src1')
      |  UNION ALL
      |  SELECT 'e:' || CAST(doc_id AS VARCHAR), text
      |  FROM documents WHERE source = 'src2'
      |  UNION ALL
      |  SELECT 'e:' || CAST(doc_id + 20000000 AS VARCHAR),
      |    substr(text, 1, (4 * length(text)) // 5)
      |  FROM documents
      |  WHERE source IN ('src0', 'src1') AND doc_id % 10 = 0)""".stripMargin

  /** Shared DuckDB CTE chain mirroring [[minhashDupPairsPortable]]
    * (16 seeded-md5 lanes, 4 bands, shingle k=3) over an upstream
    * `src(doc_id, text)` CTE; yields `ver(doc_a, doc_b, jac)` — callers
    * apply their own threshold filter. Package-visible: the fuzzy
    * prepare capstone in [[TextAnalysis]] composes it too. */
  /** sh + sig + banded CTEs of the portable pipeline (shared by the
    * pair-mining oracle below and the incremental-index oracle). */
  private[operators] lazy val portableSigSql: String = {
    val h = (0 until 16).map { i =>
      val d = i / 2; val off = 1 + 15 * (i % 2)
      s"""    min(CAST(('0x' || substr(md5('$d|' || CAST(u.s AS VARCHAR)), $off, 15))
         |      AS BIGINT)) AS h$i""".stripMargin
    }.mkString(",\n")
    val bucketCase = (0 until 4).map { b =>
      val cols = (b * 4 until (b + 1) * 4)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"WHEN $b THEN $cols"
    }.mkString(" ")
    s"""sh AS (
      |  SELECT doc_id,
      |    [CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
      |     for g in list_distinct([array_to_string(toks[i:i+2], ' ')
      |       for i in range(1, greatest(len(toks) - 2, 0) + 1)])] AS s
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |        FROM src)),
      |sig AS (
      |  SELECT doc_id,
      |$h
      |  FROM (SELECT doc_id, unnest(s) AS s FROM sh) u GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, b.band,
      |    CASE b.band $bucketCase END AS bucket
      |  FROM sig, (SELECT unnest(range(4)) AS band) b)""".stripMargin
  }

  private[operators] lazy val portableMinhashVerSql: String =
    portableSigSql + s""",
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
      |ver AS (
      |  SELECT doc_a, doc_b,
      |    round(CAST(len(list_intersect(a.s, bb.s)) AS DOUBLE)
      |      / (len(a.s) + len(bb.s) - len(list_intersect(a.s, bb.s))), 6) AS jac
      |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
      |            JOIN sh bb ON bb.doc_id = cand.doc_b)""".stripMargin

  private val bloomContaminationOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(t[i:i+7], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(t) - 8, 0) + 2)) AS r(i)),
      |bl AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
      |SELECT doc_id, count(*) AS n_hit_shingles
      |FROM sh WHERE source <> 'src0' AND s IN (SELECT s FROM bl)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dd_exact" ->
      """WITH g AS (
        |  SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
        |         count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS n_unique, CAST(sum(n_copies) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_groups
        |FROM g""".stripMargin,
    // exhaustive oracle for the LSH invariants: docs grouped by their
    // distinct shingle SET; each group of n equal-set docs must yield
    // n*(n-1)/2 found pairs (jac = 1). Docs with < k tokens produce no
    // shingles and can never pair — excluded on both sides.
    "dd_minhash_lsh" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, greatest(len(toks) - 2, 0) + 1)])) AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |        FROM src)),
        |g AS (
        |  SELECT count(*) AS n FROM sh WHERE len(s) > 0 GROUP BY s)
        |SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0) AS BIGINT)
        |    AS n_exact_pairs,
        |  CAST(1 AS BIGINT) AS precision_ok
        |FROM g""".stripMargin,
    // arg-min keep policy mirrored with the identical struct min; the
    // rebuilt text re-joined with ORDER BY pos = Spark's array_sort
    "dd_paragraph" ->
      """WITH p AS (
        |  SELECT doc_id, source, string_split(text, chr(10) || chr(10)) AS paras
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, i AS pos, paras[i+1] AS para,
        |    CAST(('0x' || substr(md5(paras[i+1]), 1, 15)) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, unnest(range(len(paras))) AS i, paras FROM p)),
        |firstocc AS (
        |  SELECT fp, min({'doc_id': doc_id, 'pos': pos}) AS m
        |  FROM occ GROUP BY fp),
        |kept AS (
        |  SELECT o.doc_id, o.pos, o.para
        |  FROM occ o JOIN firstocc f ON o.fp = f.fp
        |  WHERE o.doc_id = (f.m).doc_id AND o.pos = (f.m).pos),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |census AS (SELECT doc_id, source, len(paras) AS n_paras FROM p)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_paras) AS BIGINT) AS paras_before,
        |  CAST(sum(coalesce(n_kept, 0)) AS BIGINT) AS paras_after,
        |  CAST(sum(CAST(('0x' || substr(md5(coalesce(clean_text, '')), 1, 15))
        |    AS BIGINT)) % 1152921504606846976 AS BIGINT) AS clean_checksum
        |FROM census LEFT JOIN rebuilt USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    // interval union mirrored with the same gaps-and-islands windows;
    // grouping by the identical 60-bit md5-prefix gram hash
    "dd_substring" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |census AS (SELECT doc_id, source, len(toks) AS n_toks FROM d),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15))
        |      AS BIGINT) AS s
        |  FROM (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM d)
        |  WHERE i + 8 <= len(toks)),
        |dup AS (
        |  SELECT s FROM (SELECT DISTINCT s, doc_id FROM g)
        |  GROUP BY s HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (s)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS newisl
        |  FROM dp),
        |runs AS (
        |  SELECT doc_id, pos,
        |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
        |  FROM isl),
        |per AS (
        |  SELECT doc_id, isl_id, min(pos) AS a, max(pos + 7) AS b
        |  FROM runs GROUP BY 1, 2),
        |cov AS (SELECT doc_id, sum(b - a + 1) AS dup_toks FROM per GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN coalesce(dup_toks, 0) * 5 >= n_toks
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(coalesce(dup_toks, 0)) AS BIGINT) AS dup_tokens,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens
        |FROM census LEFT JOIN cov USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    [CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
        |     for g in list_distinct([array_to_string(toks[i:i+2], ' ')
        |       for i in range(1, greatest(len(toks) - 2, 1) + 1)])] AS s
        |  FROM (SELECT doc_id, source,
        |          string_split_regex(lower(trim(text)), '\s+') AS toks
        |        FROM documents
        |        WHERE source IN ('src0', 'src1', 'src2', 'src3')))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // best train match per contaminated eval doc: max (jac, train_id),
    // expressed as row_number over (jac DESC, doc_b DESC) — the exact
    // DuckDB mirror of Spark's max(struct(jac, doc_b))
    "dd_contamination" -> (
      "WITH " + contaminationSrcSql + ",\n" + portableMinhashVerSql + "\n" +
      """SELECT CAST(substr(doc_a, 3) AS BIGINT) AS eval_doc,
        |  CAST(substr(doc_b, 3) AS BIGINT) AS train_doc, jac
        |FROM (
        |  SELECT doc_a, doc_b, jac,
        |    row_number() OVER (PARTITION BY doc_a
        |                       ORDER BY jac DESC, doc_b DESC) AS rn
        |  FROM ver
        |  WHERE jac >= 0.5 AND doc_a LIKE 'e:%' AND doc_b LIKE 't:%')
        |WHERE rn = 1 ORDER BY eval_doc""".stripMargin),
    // fast-hash decontamination: planted EXACT copies are found with
    // certainty under any LSH family and confirm at lane agreement 1.0,
    // so the planted-scoped output is derivable straight from the table
    "dd_contamination_fast" ->
      """SELECT doc_id + 20000000 AS eval_doc, CAST(1.0 AS DOUBLE) AS jac
        |FROM documents
        |WHERE source IN ('src0', 'src1') AND doc_id % 10 = 0
        |ORDER BY eval_doc""".stripMargin,
    // incremental-index probe: same portable sig/banded CTEs, candidates
    // restricted to batch×corpus, confirm = agreeing-lane fraction
    "dd_lsh_incremental" -> {
      val agree = (0 until 16)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      "WITH " +
        """src AS (
          |  SELECT 'c:' || CAST(doc_id AS VARCHAR) AS doc_id, text
          |  FROM documents WHERE source IN ('src0', 'src1')
          |  UNION ALL
          |  SELECT 'b:' || CAST(doc_id AS VARCHAR), text
          |  FROM documents WHERE source = 'src2'
          |  UNION ALL
          |  SELECT 'b:' || CAST(doc_id + 30000000 AS VARCHAR),
          |    substr(text, 1, (4 * length(text)) // 5)
          |  FROM documents
          |  WHERE source IN ('src0', 'src1') AND doc_id % 10 = 0)""".stripMargin +
        ",\n" + portableSigSql + s""",
          |cand AS (
          |  SELECT DISTINCT x.doc_id AS bdoc, y.doc_id AS cdoc
          |  FROM banded x JOIN banded y
          |    ON x.band = y.band AND x.bucket = y.bucket
          |  WHERE x.doc_id LIKE 'b:%' AND y.doc_id LIKE 'c:%'),
          |est AS (
          |  SELECT bdoc, cdoc, CAST($agree AS DOUBLE) / 16 AS est_jac
          |  FROM cand JOIN sig a ON a.doc_id = bdoc
          |            JOIN sig b ON b.doc_id = cdoc)
          |SELECT CAST(substr(bdoc, 3) AS BIGINT) AS batch_doc,
          |  CAST(substr(cdoc, 3) AS BIGINT) AS corpus_doc, est_jac
          |FROM est WHERE est_jac >= 0.5
          |QUALIFY row_number() OVER (PARTITION BY bdoc
          |  ORDER BY est_jac DESC, CAST(substr(cdoc, 3) AS BIGINT) DESC) = 1
          |ORDER BY batch_doc""".stripMargin
    },
    // plain exact semi join — the Bloom stage must be invisible in the
    // result; shingle construction mirrors Dedup.shingles (trailing
    // clipped windows only when the doc has < k tokens)
    "dd_bloom_contamination" -> bloomContaminationOracle,
    // the persisted-artifact path must be indistinguishable from the
    // from-scratch path: same oracle verbatim
    "dd_bloom_incremental" -> bloomContaminationOracle,
    "dd_minhash_portable" -> (
      "WITH " + variantSrcSql + ",\n" + portableMinhashVerSql + "\n" +
      """SELECT count(*) AS n_pairs,
        |  coalesce(round(CAST(SUM(CAST(jac AS DECIMAL(18,12))) AS DOUBLE)
        |    / count(*), 6), 0.0) AS avg_jac,
        |  CAST(coalesce(sum(CASE WHEN doc_b = doc_a + 10000000 THEN 1 ELSE 0 END),
        |    0) AS BIGINT) AS n_variant_pairs
        |FROM ver WHERE jac >= 0.5""".stripMargin),
    "dd_simhash" -> {
      // mirror simhashAggPortable + simhashPairsFromSigs exactly: 60-bit
      // md5-prefix token hashes, per-bit ±1 votes, maxDist+1 pigeonhole
      // chunks with boundaries i*bits/chunks
      val bits = 60; val maxDist = 6; val chunks = maxDist + 1
      val bounds = (0 to chunks).map(i => i * bits / chunks)
      val bucketCase = (0 until chunks).map { i =>
        val lo = bounds(i); val mask = (1L << (bounds(i + 1) - lo)) - 1
        s"WHEN $i THEN (sig >> $lo) & $mask"
      }.mkString(" ")
      s"""WITH src AS (
        |  SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')
        |  UNION ALL
        |  SELECT doc_id + 10000000, substr(text, 1, (4 * length(text)) // 5)
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |tok AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        |        FROM src)),
        |votes AS (
        |  SELECT doc_id, bb.b AS b,
        |    SUM(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM tok, (SELECT unnest(range($bits)) AS b) bb
        |  GROUP BY doc_id, bb.b),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, sig, c.chunk,
        |    CASE c.chunk $bucketCase END AS bucket
        |  FROM sigs, (SELECT unnest(range($chunks)) AS chunk) c),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.sig, y.sig)) AS dist
        |  FROM banded x JOIN banded y
        |    ON x.chunk = y.chunk AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.sig, y.sig)) <= $maxDist)
        |SELECT count(*) AS n_pairs,
        |  CAST(coalesce(sum(dist), 0) AS BIGINT) AS sum_dist,
        |  CAST(coalesce(sum(CASE WHEN doc_b = doc_a + 10000000 THEN 1 ELSE 0 END),
        |    0) AS BIGINT) AS n_variant_pairs
        |FROM pairs""".stripMargin
    },
    "dd_cluster" -> (
      "WITH RECURSIVE " + variantSrcSql + ",\n" + portableMinhashVerSql + ",\n" +
      """pairs AS (
        |  SELECT doc_a, doc_b FROM ver WHERE jac >= 0.5
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM src a JOIN src b
        |    ON md5(lower(trim(a.text))) = md5(lower(trim(b.text)))
        |   AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(n, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.n)
        |SELECT n AS doc_id, min(r) AS root FROM reach
        |GROUP BY n ORDER BY doc_id""".stripMargin),
    // double-precision cosine mirroring the Spark expression exactly
    // (list_cosine_similarity is float32 → last-ulp mismatches)
    "dd_embedding_cos" ->
      """WITH v AS (
        |  SELECT label, vec_id, embedding,
        |    sqrt(list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |         for s in list_zip(embedding, embedding)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum([CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)
        |      for s in list_zip(a.embedding, b.embedding)]) / (a.nrm * b.nrm) AS cos0
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos0, 6) AS cos
        |FROM p WHERE cos0 >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "dd_semdedup" -> semDedupOracleSql
  )

  /** DuckDB mirror of [[semDedup]] (planes = 6, tau = 0.35): portable SRP
    * bucket (md5-parity plane signs, left-to-right double sums — the
    * [[Vectors.srpBucketPortable]] construction), int8 quantization
    * ([[Vectors.quantizeInt8]]'s floor(x·scale + 0.5)), integer centroid
    * sums per bucket, and the pairwise-greedy removal rule as an EXISTS.
    * Every cross-row aggregate is integer; every double is derived from
    * identical integers by identical single operations — bit-equal. */
  private lazy val semDedupOracleSql: String = {
    // plane count derived from the corpus size EXACTLY like
    // Vectors.autoSrpPlanes: bit length of ceil(n/256)-1, clamped to
    // [4,20] — integer arithmetic on both engines, no floating log
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
      |pl AS (SELECT least(20, greatest(4,
      |    CASE WHEN ((n + 255) // 256) <= 1 THEN 0
      |         ELSE length(bin(((n + 255) // 256) - 1)) END)) AS planes
      |  FROM nn),
      |b AS (
      |  SELECT vec_id, label, embedding,
      |    CAST(list_sum([CASE
      |      WHEN list_sum([CAST(embedding[j + 1] AS DOUBLE) *
      |        (CASE WHEN (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '|' ||
      |            CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2) = 0
      |          THEN 1.0 ELSE -1.0 END)
      |        for j in range(len(embedding))]) >= 0
      |      THEN power(2, p) ELSE 0.0 END
      |      for p in range(planes)]) AS BIGINT) AS bucket
      |  FROM embeddings, pl),
      |m AS (
      |  SELECT vec_id, label, bucket, embedding,
      |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS ma
      |  FROM b),
      |qz AS (
      |  SELECT vec_id, label, bucket,
      |    [CAST(floor(CAST(x AS DOUBLE)
      |        * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END) + 0.5)
      |      AS BIGINT) for x in embedding] AS codes
      |  FROM m),
      |qn AS (
      |  SELECT vec_id, label, bucket, codes,
      |    sqrt(CAST(list_sum([c * c for c in codes]) AS DOUBLE)) AS qnorm
      |  FROM qz),
      |dims AS (
      |  SELECT bucket, r.i AS i, CAST(sum(codes[r.i + 1]) AS BIGINT) AS s
      |  FROM qn, (SELECT unnest(range(64)) AS i) r
      |  GROUP BY bucket, r.i),
      |cent AS (
      |  SELECT bucket, list(s ORDER BY i) AS cvec,
      |    sqrt(CAST(sum(s * s) AS DOUBLE)) AS cnorm
      |  FROM dims GROUP BY bucket),
      |sc AS (
      |  SELECT q.vec_id, q.label, q.bucket, q.codes, q.qnorm,
      |    CASE WHEN q.qnorm > 0 AND c.cnorm > 0
      |      THEN CAST(list_sum([CAST(s[1] * s[2] AS BIGINT)
      |             for s in list_zip(q.codes, c.cvec)]) AS DOUBLE)
      |           / (q.qnorm * c.cnorm)
      |      ELSE 0.0 END AS cosc
      |  FROM qn q JOIN cent c USING (bucket)),
      |rm AS (
      |  SELECT x.vec_id, x.label, x.cosc,
      |    CASE WHEN EXISTS (
      |      SELECT 1 FROM sc y
      |      WHERE y.bucket = x.bucket AND y.vec_id <> x.vec_id
      |        AND x.qnorm > 0 AND y.qnorm > 0
      |        AND (y.cosc < x.cosc
      |             OR (y.cosc = x.cosc AND y.vec_id < x.vec_id))
      |        AND CAST(list_sum([CAST(s[1] * s[2] AS BIGINT)
      |              for s in list_zip(x.codes, y.codes)]) AS DOUBLE)
      |            / (x.qnorm * y.qnorm) >= 0.35
      |    ) THEN 1 ELSE 0 END AS rm
      |  FROM sc x)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(rm) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN rm = 0 THEN vec_id ELSE 0 END) AS BIGINT)
      |    AS kept_id_sum,
      |  CAST(sum(CAST(floor(cosc * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS cosc_checksum
      |FROM rm GROUP BY label ORDER BY label""".stripMargin
  }
}
