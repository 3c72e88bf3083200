package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  *
  * All pure `functions._` / regex expressions — no UDFs — so every
  * operator is a narrow map over the scan: at 100 TB these run at
  * parquet-read speed with zero shuffles.
  */
object TextAnalysis {

  /** normalized text: lower + trimmed */
  def normText(c: Column): Column = lower(trim(c))

  /** whitespace tokens of normalized text */
  def tokens(c: Column): Column = split(normText(c), "\\s+")

  /** BPE-style pre-tokenization (the GPT-2 pattern family, lookahead-
    * free so Java and RE2 regex engines agree): contractions, optional-
    * space letter runs, digit runs, punctuation runs. The count of these
    * pieces is the standard cheap proxy for LLM token cost. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  def bpeTokenCount(c: Column): Column =
    size(call_function("regexp_extract_all", lower(c), lit(bpePattern), lit(0)))

  private val stopwords =
    Seq("the", "a", "of", "and", "is", "in", "to", "it", "on", "for")

  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    // codegen'd constant-set count (r18 VERDICT #6): value-identical
    // to size(filter(toks, isInCollection)) - duplicates count, null
    // elements don't, null array answers null
    val stops = org.apache.spark.sql.graft.NativeVectorColumns
      .countInSet(toks, stopwords)
    stops.cast("double") / size(toks)
  }

  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[a-zA-Z0-9\\s]", "")).cast("double") / length(c)

  /** tiny per-language marker-word profiles; scores are marker-token hits */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** marker-word heuristic language-ID: argmax of profile hits with
    * earlier-profile preference on ties; 'und' when nothing matches. */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val Seq(sEn, sDe, sFr) = langProfiles.map { case (_, words) =>
      org.apache.spark.sql.graft.NativeVectorColumns
        .countInSet(toks, words)
    }
    when(greatest(sEn, sDe, sFr) === 0, lit("und"))
      .when(sFr > sDe && sFr > sEn, lit("fr"))
      .when(sDe > sEn, lit("de"))
      .otherwise(lit("en"))
  }

  /** content fingerprint over normalized text (md5 — stable across
    * engines; use xxhash64 for cheaper non-portable runs) */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** 60-bit integer from the md5 prefix — THE portable hash used
    * everywhere an external oracle must reproduce hash values
    * (DuckDB: `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`).
    * One definition; the oracle SQL must byte-match this construction. */
  def md5Prefix60(c: Column): Column = md5Slice60(c, 1)

  /** 60-bit integer from md5 hex chars [off, off+15) (1-based): a 128-bit
    * digest carries TWO independent 60-bit lanes (off = 1 and 16), so
    * multi-lane schemes pay half the md5 calls. DuckDB mirror:
    * `CAST(('0x' || substr(md5(x), off, 15)) AS BIGINT)`. */
  def md5Slice60(c: Column, off: Int): Column =
    conv(substring(md5(c), off, 15), 16, 10).cast("long")

  /** Order-independent content checksum of a 60-bit hash column that
    * STAYS INSIDE int64: exact decimal sum of the lanes, reduced mod
    * 2^60 and cast back to BIGINT. The driver's value hasher rejects
    * values past 2^63 even when both engines agree on them (the r5
    * ta_chunks/ta_scrub/ta_prepare failures — HUGEINT-range DECIMAL
    * sums), so every checksum gate must bound its output. The mod keeps
    * multiplicity information that a bit_xor would cancel on duplicated
    * content. DuckDB mirror (sum over BIGINT is HUGEINT — exact):
    * `CAST(sum(h) % 1152921504606846976 AS BIGINT)`. */
  val Mod60: Long = 1152921504606846976L // 2^60
  def checksum60(h: Column): Column =
    (sum(h.cast(DecimalType(28, 0))) % lit(Mod60)).cast("long")

  /** Winnowing fingerprints (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting" — the MOSS scheme): hash
    * every k-gram of the token stream, then select the minimum hash of
    * each sliding window of `w` consecutive k-gram hashes. The selected
    * set is shift-resistant — any shared run of ≥ w+k-1 tokens between
    * two documents is guaranteed to contribute a common fingerprint —
    * which plain whole-document digests are not.
    *
    * Shape (r19): k-grams from the token array carried through
    * posexplode (element_at indexing — codegen'd, no lead() window) →
    * md5-prefix hash → windowed min over the ONE doc_id exchange this
    * operator keeps; the trailing distinct and any same-key caller
    * aggregation reuse its partitioning. Returns distinct (doc_id,
    * fp); documents with fewer than w full k-grams yield no rows (no
    * full window exists). */
  /** Minimum token count for a document to own a full winnow window. */
  def winnowMinTokens(k: Int = 3, w: Int = 4): Int = k + w - 1

  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k-grams from the token ARRAY carried through posexplode:
    // element_at indexing stays codegen'd (the r18 shape paid a
    // lead(k−1) window — an Exchange + per-doc sort — just to see the
    // next k−1 tokens, and a count() window just to know the gram
    // count, which is size(__toks) − k + 1 for free). A fully
    // array-side form (transform + slice + array_min, zero exchanges)
    // was built and MEASURED SLOWER at sf0.1 (1.26 → 1.73 s min
    // paired): the md5 inside a higher-order-function lambda is
    // interpreted per element, and that tax beat the one exchange this
    // form keeps. See OPTIMIZATION_r19.md.
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= winnowMinTokens(k, w))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("__toks")) - k)
      .select(col("doc_id"), col("pos"),
        (col("pos") <= size(col("__toks")) - winnowMinTokens(k, w))
          .as("__full"),
        md5Prefix60(concat_ws(" ", (0 until k).map(j =>
          if (j == 0) col("t")
          else element_at(col("__toks"), col("pos") + lit(j + 1))): _*))
          .as("h"))
    // ONE exchange: the doc_id window. The trailing distinct reuses its
    // hash partitioning (ClusteredDistribution(doc_id, fp) is satisfied
    // by HashPartitioning(doc_id)), so no second shuffle.
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.select(col("doc_id"),
        min(col("h")).over(byPos.rowsBetween(0, w - 1)).as("m"),
        col("__full"))
      .filter(col("__full")) // windows fully inside the gram run only
      .select(col("doc_id"), col("m").as("fp"))
      .distinct()
  }

  /** Corpus-level TF-IDF: top-`k` terms per document.
    *
    * The idf is the BM25 rational form `(N - df + 0.5) / (df + 0.5)`
    * (Robertson/Spärck Jones) rather than a logarithm: every operation
    * on it (int add, divide, multiply by the integer tf) is a correctly-
    * rounded IEEE-754 primitive, so Spark and any external engine
    * compute bit-identical scores and the full ranked result is
    * hash-checkable. A log-based idf is only within-ulp reproducible —
    * rank flips at near-ties would make the operator untestable.
    *
    * Scale shape: tf = one shuffle keyed (doc_id, term) with map-side
    * combine; df = one shuffle keyed term over the (much smaller) tf
    * table; N rides a broadcast; the tf⋈df join shuffles by term; top-k
    * is a window keyed doc_id. No driver-side collection anywhere. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("raw").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("raw",
        col("tf") * (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("raw"), 6).as("score"), col("rk"))
  }

  /** Gopher-style document-quality rules (Rae et al., "Scaling Language
    * Models: … Gopher", 2021, §A1.1.2 — the de-facto standard
    * pretraining quality filter): per-document boolean flags, all pure
    * codegen'd expressions over one narrow map (zero shuffle at any
    * scale). Thresholds are the paper's; `word` = whitespace token.
    *
    * - `ok_nwords`:     50 ≤ word count ≤ 100,000
    * - `ok_wordlen`:    3 ≤ mean word length ≤ 10
    * - `ok_symbols`:    (# + …) to word ratio ≤ 0.1
    * - `ok_bullets`:    < 90% of lines start with a bullet
    * - `ok_ellipsis`:   < 30% of lines end with an ellipsis
    * - `ok_alpha`:      ≥ 80% of words contain an alphabetic character
    * - `ok_stopwords`:  ≥ 2 distinct stopwords present
    * - `ok_duplines`:   duplicate-line fraction ≤ 0.30 (§A1.1.1
    *                    repetition removal)
    * - `ok_duppara`:    duplicate-paragraph fraction ≤ 0.30
    * - `pass`:          all of the above */
  def gopherQualityFlags(c: Column): Column = {
    val words = split(trim(c), "\\s+")
    val nWords = size(words)
    val meanLen = length(regexp_replace(trim(c), "\\s+", ""))
      .cast("double") / nWords
    // occurrences via split-count (parts − 1): no regex-callback UDF,
    // stays inside codegen. Both ellipsis forms count, matching the
    // paper's (# + …) rule and ok_ellipsis's own definition below.
    val nSymbols = (size(split(c, "#", -1)) - 1) +
      (size(split(c, "\\.\\.\\.", -1)) - 1) +
      (size(split(c, "…", -1)) - 1)
    val lines = split(c, "\n")
    val nLines = size(lines)
    // codegen'd constant-regex counts (r20): value-identical to
    // size(filter(lines, l => trim(l).rlike(re))) — the ArrayFilter
    // lambda is CodegenFallback, interpreted per line per row
    val bulletLines = org.apache.spark.sql.graft.NativeVectorColumns
      .countMatching(lines, "^[-*•]", trimFirst = true)
    // \z, not $: Java's $ matches before a trailing \r, RE2's does not
    val ellipsisLines = org.apache.spark.sql.graft.NativeVectorColumns
      .countMatching(lines, "(\\.\\.\\.|…)\\z", trimFirst = true)
    val alphaWords = org.apache.spark.sql.graft.NativeVectorColumns
      .countMatching(words, "[A-Za-z]", trimFirst = false)
    // intersect against ONE tokenization — a filter lambda re-splitting
    // the document per stop word would tokenize it 10× per row
    val stopHits = size(array_intersect(
      array_distinct(split(lower(trim(c)), "\\s+")), lit(stopwords.toArray)))
    val paras = split(c, "\n\n")
    struct(
      (nWords >= 50 && nWords <= 100000).as("ok_nwords"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("ok_wordlen"),
      (nSymbols.cast("double") / nWords <= 0.1).as("ok_symbols"),
      (bulletLines.cast("double") / nLines < 0.9).as("ok_bullets"),
      (ellipsisLines.cast("double") / nLines < 0.3).as("ok_ellipsis"),
      (alphaWords.cast("double") / nWords >= 0.8).as("ok_alpha"),
      (stopHits >= 2).as("ok_stopwords"),
      ((nLines - size(array_distinct(lines))).cast("double") / nLines
        <= 0.3).as("ok_duplines"),
      ((size(paras) - size(array_distinct(paras))).cast("double")
        / size(paras) <= 0.3).as("ok_duppara"))
  }

  /** Gopher §A1.1.1 repetition-removal filters (Rae et al. 2021, Table
    * A1) — the n-gram half that [[gopherQualityFlags]]' ok_duplines /
    * ok_duppara don't cover: a document is repetitive when the MOST
    * COMMON word n-gram (n = 2, 3, 4) covers too many of its characters
    * (thresholds 0.20 / 0.18 / 0.16), or when DUPLICATED n-grams
    * (n = 5..10, count > 1) cover too many (0.15 / 0.14 / 0.13 / 0.12 /
    * 0.11 / 0.10). Character coverage uses the n-gram string length
    * over the normalized joined-token length, counting every occurrence
    * (the RedPajama/Dolma simplification of the paper's position-marked
    * variant — documented divergence, same filtering behavior on
    * natural text). Threshold comparisons are INTEGER-exact
    * (`chars·100 ≤ t100·total`), so both engines agree bit-for-bit with
    * no float division anywhere.
    *
    * Scale shape: the gram leg's token arrays are hash-partitioned by
    * doc_id — the only corpus-sized exchange; the census leg (one row
    * per document) reads the corpus without one. All nine gram
    * sizes assemble map-side from `element_at` indexing (fully codegen,
    * no lead() window, no interpreted map_filter), and both downstream
    * aggregations are keyed by supersets of doc_id, so they run on the
    * established partitioning with ZERO further exchanges of gram rows.
    * The r19 shape shuffled every gram STRING — ~9× the corpus bytes —
    * plus a window exchange and the per-gram reduce exchange; this one
    * moves the corpus once and then only (doc, n) aggregate rows.
    * Linear in corpus tokens, never quadratic, no per-size rescan.
    *
    * Returns (doc_id, n, num_chars, total, pass): one row per document
    * per n, docs with fewer than n tokens passing with num_chars 0. */
  val gopherNgramThresholds: Map[Int, Int] = Map(
    2 -> 20, 3 -> 18, 4 -> 16,
    5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  def gopherNgramStats(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ns = gopherNgramThresholds.keys.toSeq.sorted
    // `keep` columns ride the census (one row per doc) so callers don't
    // re-scan the corpus to join them back — at 100 TB a third corpus
    // pass for a source label is real money. The census needs no
    // partitioning: it meets the grams in the final (doc_id, n) join.
    val census = docs.select(
      (col("doc_id") +: keep.map(col)) :+
        length(concat_ws(" ", tokens(col("text")))).cast("long").as("total"): _*)
    // the ONE corpus exchange, on the gram leg only: token arrays keyed
    // by doc_id. The gram census and the (doc, n) reduce both cluster by
    // doc_id-supersets and reuse this partitioning instead of shuffling
    // 9× the corpus in gram strings.
    val withToks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
    val pos = withToks.select(col("doc_id"), col("toks"),
      posexplode(col("toks")).as(Seq("pos", "t")))
    // token at 0-based position pos+i is element_at(toks, pos+i+1);
    // try_element_at answers NULL past the document end (same rows the
    // lead() window produced — bit-identical grams, no Exchange/sort)
    val leads = (0 until ns.max).map(i =>
      if (i == 0) col("t")
      else try_element_at(col("toks"), col("pos") + lit(i + 1)))
    // gram_n is NULL when the gram would run off the document end; the
    // (n, gram) pairs unfold through ONE codegen explode of a struct
    // array and a null filter (the previous map_filter lambda is a
    // CodegenFallback — interpreted per token row)
    val gramStructs = ns.map { n =>
      struct(lit(n).as("n"),
        when(leads(n - 1).isNotNull,
          concat_ws(" ", leads.take(n): _*)).as("gram"))
    }
    val grams = pos
      .select(col("doc_id"), explode(array(gramStructs: _*)).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .filter(col("gram").isNotNull)
    val perGram = grams.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    // top_chars = character coverage of the MOST FREQUENT n-gram (the
    // rule's definition), NOT max over cnt·len products: lexicographic
    // struct max picks the highest count first, breaking count ties
    // toward larger coverage — deterministic and identical in DuckDB's
    // struct max
    val perDocN = perGram.groupBy(col("doc_id"), col("n"))
      .agg(
        max(struct(col("cnt"),
          (col("cnt") * length(col("gram"))).as("chars")))
          .getField("chars").as("top_chars"),
        sum(when(col("cnt") > 1, col("cnt") * length(col("gram")))
          .otherwise(0L)).as("dup_chars"))
    val sess = docs.sparkSession
    import sess.implicits._
    val thresholds = ns.map(n => (n, gopherNgramThresholds(n)))
      .toDF("n", "t100")
    val grid = census.crossJoin(broadcast(thresholds))
    grid.join(perDocN, Seq("doc_id", "n"), "left")
      .select((col("doc_id") +: keep.map(col)) ++ Seq(col("n"),
        coalesce(when(col("n") <= 4, col("top_chars"))
          .otherwise(col("dup_chars")), lit(0L)).as("num_chars"),
        col("total"), col("t100")): _*)
      .select((col("doc_id") +: keep.map(col)) ++ Seq(col("n"),
        col("num_chars"), col("total"),
        (col("num_chars") * 100 <= col("t100") * col("total"))
          .cast("bigint").as("pass")): _*)
  }

  /** Chunk structs over an ALREADY-MATERIALIZED token-array column.
    * `toks` must be a bound column (an attribute from a previous
    * projection), NOT an inline `split(...)` expression: the lambda
    * below references it once per chunk, and codegen CSE cannot hoist
    * subexpressions into higher-order-function lambdas (NOTES.md), so an
    * inlined split would re-tokenize the whole document per chunk —
    * O(doc_len × n_chunks), the r5 ta_chunks hot spot (7.1 s → the
    * materialized form is O(doc_len)). `n_toks` comes from slice
    * arithmetic, not a re-split of the joined chunk text: whitespace
    * tokens are non-empty (except the [''] of an empty document, where
    * both definitions give 1), so the two counts agree and the oracle
    * re-derives it independently by re-splitting. */
  def chunkStructs(toks: Column, chunkTokens: Int): Column = {
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
      i => struct(i.as("chunk_id"),
        concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(size(toks) - i * chunkTokens, lit(chunkTokens)).as("n_toks")))
  }

  /** Chunk documents into fixed-size token windows — the training-window
    * precursor every LLM data pipeline runs before packing. Tokenizes
    * each document EXACTLY ONCE (materialized projection, see
    * [[chunkStructs]]), then 1 row → n_chunks rows via a single explode:
    * zero shuffle at any scale. The last chunk may be short; every
    * document yields at least one chunk (whitespace split never returns
    * an empty array — '' tokenizes to ['']). Output: `keep` columns +
    * (chunk_id, chunk_text, n_toks). */
  def chunkDocs(docs: DataFrame, textCol: String, chunkTokens: Int,
      keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    docs.select(kept :+ tokens(col(textCol)).as("__toks"): _*)
      .select(kept :+ explode(chunkStructs(col("__toks"), chunkTokens))
        .as("ch"): _*)
      .select(kept ++ Seq(col("ch.chunk_id").as("chunk_id"),
        col("ch.chunk_text").as("chunk_text"),
        col("ch.n_toks").as("n_toks")): _*)
  }

  /** Greedy sequence packing: assign token chunks to training windows of
    * at most `budget` tokens, first-fit in deterministic (doc_id,
    * chunk_id) order WITHIN hash shards. Packing is inherently
    * sequential, so the scale shape is shard-then-pack: the hash spread
    * bounds every sequential run to one shard's chunks (mapPartitions —
    * the genuine per-partition imperative case), and shards pack in
    * parallel. A chunk larger than the budget gets a singleton window.
    * Deterministic: shard assignment is the portable hash, order is
    * total, so the same windows come out of every run and retry. */
  def packGreedy(chunks: DataFrame, budget: Long,
      nShards: Int): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("doc_id").cast("long"), col("chunk_id").cast("int"),
        col("n_toks").cast("long"),
        floor(Sampling.uniformHash(col("doc_id")) * nShards).cast("int")
          .as("shard"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"), col("chunk_id"))
      .as[(Long, Int, Long, Int)]
      .mapPartitions { it =>
        var curShard = -1
        var window = -1L
        var used = 0L
        it.map { case (doc, chunk, toks, shard) =>
          if (shard != curShard || used + toks > budget) {
            window += 1; used = 0L; curShard = shard
          }
          used += toks
          (doc, chunk, toks, shard, window)
        }
      }
      .toDF("doc_id", "chunk_id", "n_toks", "shard", "window")
  }

  /** BPE merge-pair census (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units", 2016 — the byte-pair-encoding
    * training step): frequency of every adjacent character pair across
    * the corpus, weighted by word frequency. This is iteration 0 of BPE
    * training; the top pair is the first merge.
    *
    * THE scale insight (what every distributed tokenizer trainer does):
    * first collapse the corpus to its WORD CENSUS — one shuffle with
    * map-side combine, 100 TB → a Zipf vocabulary of ~10⁷ rows — and
    * mine pairs over the census weighted by `freq`, never over the
    * corpus. Subsequent merge iterations then run on the census alone
    * (driver- or single-node-sized), which is why they are out of scope
    * here: the distributed part of BPE training IS this census.
    *
    * Pure integer counts — bit-identical in any engine. Words shorter
    * than 2 chars yield no pairs. Returns (pair, n) — callers top-k. */
  def bpePairCensus(docs: DataFrame): DataFrame = {
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
  }

  /** Vocabulary coverage: what fraction of corpus token OCCURRENCES the
    * top-`v` most frequent words cover — the OOV-rate metric every
    * tokenizer/vocabulary decision is evaluated on. Rides the same
    * corpus→census collapse as [[bpePairCensus]]: the census is one
    * map-side-combined shuffle; the top-v cut is a TakeOrdered over
    * census rows (deterministic tiebreak on the word); the coverage
    * numbers are two reduced aggregates. Integer counts only — the
    * caller divides if it wants a ratio. */
  def vocabCoverage(docs: DataFrame, v: Int): DataFrame = {
    // persisted: the top-v cut AND the totals aggregate both read the
    // census — unpersisted, each branch would re-scan and re-tokenize
    // the full corpus (the cost the census collapse exists to avoid)
    val census = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .persist()
    val top = census.orderBy(col("freq").desc, col("w")).limit(v)
    top.agg(count(lit(1)).as("vocab_size"),
        sum(col("freq")).as("covered_tokens"))
      .crossJoin(broadcast(
        census.agg(sum(col("freq")).as("total_tokens"),
          count(lit(1)).as("distinct_words"))))
  }

  /** PII scrubbing: regex redaction of emails and IPv4 addresses —
    * standard pre-training hygiene. Patterns avoid lookaround and
    * alternation so Java (Spark) and RE2 (DuckDB/etc.) regex engines
    * produce identical matches; replacement is a narrow codegen'd map,
    * zero shuffle at any scale. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), ipv4Re, "<IP>")

  def piiCount(c: Column, pattern: String): Column =
    size(call_function("regexp_extract_all", c, lit(pattern), lit(0)))

  /** End-to-end corpus-cleanup pipeline — the composition a training-data
    * run actually executes, wired from the individually-gated stages:
    * language filter ([[langId]]) → quality gate (token count + punct
    * ratio) → exact dedup (min doc_id per [[fingerprint]]) → deterministic
    * sample ([[Sampling.hashSample]]). Returns (cleaned docs, funnel).
    *
    * Scale shape: stages 1-2 are narrow maps fused into the scan; dedup
    * is ONE shuffle keyed by digest; the sample filter is again narrow.
    * The funnel summary here re-aggregates each stage (cheap reduced
    * aggs) for the oracle's benefit; a production run would ride
    * `Dataset.observe` accumulators on the single pass instead. */
  def cleanPipeline(docs: DataFrame, minTokens: Int = 5,
      maxPunct: Double = 0.2, sampleFraction: Double = 0.5)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"), col("n_chars"),
      langId(col("text")).as("lang"),
      size(tokens(col("text"))).as("n_tokens"),
      punctRatio(col("text")).as("punct"),
      fingerprint(col("text")).as("fp"))
    // Funnel shape (r19): every stage is a FLAG on one scored frame, so
    // the whole funnel is ONE corpus pass + ONE fp window. The old
    // crossJoin-of-four-counts recomputed the scored projection (langId,
    // tokenization, punct, fingerprint — the expensive per-row work)
    // three times and the dedup window twice. Stage values unchanged:
    //  - kept: the language/token/punct gate;
    //  - unique: first KEPT row of each fp group in doc_id order —
    //    the cumulative kept-count over the fp window equals 1 exactly
    //    where row_number over the kept subset did (doc_id is unique,
    //    so the order is total);
    //  - sampled: the same deterministic hash gate on unique rows.
    val keptCond = col("lang") === "en" &&
      col("n_tokens") >= minTokens && col("punct") < maxPunct
    val byFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val flagged = scored
      .withColumn("__kept", keptCond.cast("long"))
      .withColumn("__uniq", (col("__kept") === 1L &&
        sum(col("__kept")).over(byFp) === 1L).cast("long"))
      .withColumn("__samp", (col("__uniq") === 1L &&
        Sampling.uniformHash(col("doc_id")) < sampleFraction).cast("long"))
    val sampled = flagged.filter(col("__samp") === 1L)
      .drop("__kept", "__uniq", "__samp")
    val funnel = flagged.agg(
      count(lit(1)).as("n_raw"),
      sum(col("__kept")).as("n_kept"),
      sum(col("__uniq")).as("n_unique"),
      sum(col("__samp")).as("n_sampled"),
      coalesce(sum(when(col("__samp") === 1L, col("n_chars"))), lit(0L))
        .as("chars_sampled"))
    (sampled, funnel)
  }

  // --------------------------------------------------------- driver queries
  // ------------------------------------------- tokenizer + classifier
  // (artifact-driven scalars shared by the driver queries and the SQL
  // dialect registry — ONE definition each, lockstep by construction)

  /** The ta_bpe_apply merge table, ordered as BPE learned them (this
    * corpus's measured top pairs from [[bpePairCensus]]) — a tokenizer
    * ships exactly such an ordered list as its model artifact. */
  val bpeMerges: Seq[String] = Seq(
    "e r", "i n", "o w", "o r", "s t", "m e", "t o", "a t")

  /** Greedy sequential application of [[bpeMerges]] to one word: the
    * word is char-spaced with sentinel spaces, then each merge runs as
    * a space-anchored literal replace (boundary anchoring stops a
    * pair from matching across an already-merged token's edge, e.g.
    * 'verve' → 'v er v e', never 'v e r v e' → cross-bleed). TWO passes
    * per merge: sequential replace resumes AFTER each match, so
    * alternating overlaps ('tototo' → ' t o t o t o ') need a second
    * sweep to converge to 'to to to' — DuckDB's replace has the same
    * resume-after-match semantics, so segmentations are byte-identical
    * (pinned in OperatorsSpec and by the ta_bpe_apply oracle). */
  def bpeSegment(w: Column): Column = {
    val spaced0 = concat(lit(" "),
      trim(regexp_replace(w, "(.)", "$1 ")), lit(" "))
    val merged = bpeMerges.foldLeft(spaced0) { (c, m) =>
      val pat = lit(" " + m + " ")
      val tgt = lit(" " + m.filterNot(_ == ' ') + " ")
      replace(replace(c, pat, tgt), pat, tgt)
    }
    trim(merged)
  }

  /** The fixed-weight quality model's integer features + score over a
    * token-array column, as a struct(stop_pm, mwl100, ttr_pm, nw,
    * score) — the ONE definition behind both the ta_classifier corpus
    * query (which materializes the tokens first) and the dialect
    * `quality_score` scalar (which inlines them). Integer
    * floor-division via (a − a mod b)/b — exact for the nonnegative
    * feature counts (< 2^53), identical to SQL `div`. */
  def classifierFeatures(toks: Column): Column = {
    val stop = Seq("the", "a", "of", "and", "is")
    def nn(c: Column) = c.cast("long")
    def idiv(a: Column, b: Column) = ((a - pmod(a, b)) / b).cast("long")
    val nwRaw = nn(size(toks))
    val nw = greatest(nwRaw, lit(1L))
    val stopPm =
      idiv(nn(org.apache.spark.sql.graft.NativeVectorColumns
        .countInSet(toks, stop)) * 1000, nw)
    val mwl100 = idiv(nn(length(concat_ws("", toks))) * 100, nw)
    val ttrPm = idiv(nn(size(array_distinct(toks))) * 1000, nw)
    val score = lit(3L) * stopPm + lit(2L) * ttrPm +
      least(mwl100, lit(600L)) + lit(2L) * least(nwRaw, lit(100L))
    struct(stopPm.as("stop_pm"), mwl100.as("mwl100"), ttrPm.as("ttr_pm"),
      nwRaw.as("nw"), score.as("score"))
  }

  /** the classifier score as one scalar — the dialect-SQL face
    * (`quality_score(text)`) of [[classifierFeatures]] */
  def qualityScore(text: Column): Column =
    classifierFeatures(tokens(text)).getField("score")

  /** ppm share deltas from a (source, lang, n_a, n_b) cell table — the
    * shared tail of ta_drift and st_drift (their oracles are the SAME
    * SQL, so the two must compute the deltas identically). */
  def driftFromCells(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum(col("n_a")).as("t_a"),
      sum(col("n_b")).as("t_b"))
    cells.crossJoin(broadcast(tot))
      .withColumn("ppm_a",
        coalesce(expr("n_a * 1000000L div nullif(t_a, 0)"), lit(0L)))
      .withColumn("ppm_b",
        coalesce(expr("n_b * 1000000L div nullif(t_b, 0)"), lit(0L)))
      .select(col("source"), col("lang"), col("n_a"), col("n_b"),
        col("ppm_a"), col("ppm_b"),
        (col("ppm_b") - col("ppm_a")).as("drift_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  /** CCNet/FineWeb-style LM quality filter: score incoming documents by
    * bigram cross-entropy under an add-α-smoothed language model trained
    * on a reference corpus half (even doc_ids = "clean reference", odd =
    * "incoming dump" — the same split the drift monitor uses).
    *
    * P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V); a document's score is
    * the mean −ln P over its bigrams — the perplexity exponent, the
    * quantity CCNet thresholds on (lower = more reference-like).
    *
    * Scale shape: the model "training" is two map-side-combined count
    * shuffles (bigram + unigram census over the reference); scoring is
    * two equi joins of the exploded incoming bigrams against those count
    * tables (Catalyst broadcasts them when small; at 100 TB they shuffle
    * — both sides keyed, no skew term beyond the token distribution) and
    * a 1-row vocabulary broadcast. No driver-side model state at all —
    * the LM lives in DataFrames, exactly how a 100 TB corpus would hold
    * a trillion-row count model that no single node could. */
  def perplexity(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    // bigrams via explode(arrays_zip(slice, slice)) — the original
    // zip_with LAMBDA was the problem (higher-order-function lambdas
    // are CodegenFallback/interpreted; r17 bench had this query at
    // 1.74x the reference, its worst paired ratio). arrays_zip takes
    // no lambda: it and slice both codegen, so the whole derivation
    // stays inside one WholeStageCodegen span with ZERO added
    // shuffles (unlike the posexplode+lead window pattern, which pays
    // a doc_id exchange+sort — right for shingleRows' k-grams, wasted
    // here where k=2 slices are cheap).
    def bigrams(df: DataFrame): DataFrame = df
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ref = toks.filter(col("doc_id") % 2 === 0)
    val refBi = bigrams(ref).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val refUni = ref.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = refUni.agg(count(lit(1)).cast("double").as("v"))
    bigrams(toks.filter(col("doc_id") % 2 =!= 0))
      .join(refBi, Seq("w1", "w2"), "left")
      .join(refUni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        negate(log((coalesce(col("c2"), lit(0L)).cast("double") + lit(alpha))
          / (coalesce(col("c1"), lit(0L)).cast("double")
            + lit(alpha) * col("v")))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("avg_nll"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bigram-LM cross-entropy per incoming document (CCNet-style
    // quality filter; reference model = even-doc_id half)
    "ta_perplexity" -> ((s, dir) => {
      perplexity(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    // top-3 TF-IDF terms per document, fully hash-checked
    "ta_tfidf" -> ((s, dir) => {
      tfidfTopK(Tables.load(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rk"))
    }),
    // the full cleanup funnel, every stage DuckDB-reproduced
    "ta_pipeline" -> ((s, dir) =>
      cleanPipeline(Tables.load(s, dir, "documents"))._2),
    // fixed-window chunking: per-source chunk counts, token totals of
    // first/last chunks (pins the boundary arithmetic), and the full
    // chunk-content checksum — 64-token windows
    "ta_chunks" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      chunkDocs(docs, "text", 64, keep = Seq("source", "doc_id"))
        .select(col("source"), col("chunk_id"), col("n_toks"),
          md5Prefix60(col("chunk_text")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_toks")).as("chunk_tokens"),
          sum(when(col("chunk_id") === 0, col("n_toks")).otherwise(0L))
            .as("first_chunk_tokens"),
          checksum60(col("h")).as("chunk_checksum"))
        .orderBy(col("source"))
    }),
    // greedy packing of the 64-token chunks into 512-token windows:
    // chunk census pinned exactly (count + token total, both
    // oracle-recomputed); the packing guarantees ride as flags —
    // every window within budget or a singleton, token conservation,
    // and the window count within its provable bounds
    "ta_pack" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val chunks = chunkDocs(docs, "text", 64, keep = Seq("doc_id"))
        .select(col("doc_id"), col("chunk_id"), col("n_toks"))
      val packed = packGreedy(chunks, budget = 512, nShards = 8)
      val windows = packed.groupBy(col("shard"), col("window"))
        .agg(sum(col("n_toks")).as("wtoks"), count(lit(1)).as("wchunks"))
      val census = chunks.agg(count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).as("total_tokens"))
      windows.agg(
          count(lit(1)).as("__n_windows"),
          sum(col("wtoks")).as("__packed_tokens"),
          min((col("wtoks") <= 512 || col("wchunks") === 1)
            .cast("bigint")).as("bound_ok"))
        .crossJoin(census)
        .select(col("n_chunks"), col("total_tokens"), col("bound_ok"),
          (col("__packed_tokens") === col("total_tokens")).cast("bigint")
            .as("conserve_ok"),
          (col("__n_windows") >= ceil(col("total_tokens").cast("double") / 512)
            && col("__n_windows") <= col("n_chunks")).cast("bigint")
            .as("count_ok"))
    }),
    // PII scrub harness: deterministic emails/IPs planted per doc, then
    // redacted; gated on per-source redaction counts AND an
    // order-independent checksum of the SCRUBBED text (mod-2^60 sum of
    // 60-bit md5 prefixes — int64-bounded per the driver's hash
    // contract), so the full post-redaction content is verified, not
    // just the counts
    "ta_scrub" -> ((s, dir) => {
      val planted = Tables.load(s, dir, "documents")
        .select(col("source"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com from 10.0."), col("doc_id") % 256,
            lit(".7")).as("text"))
      planted.select(col("source"),
          piiCount(col("text"), emailRe).as("n_email"),
          piiCount(col("text"), ipv4Re).as("n_ip"),
          md5Prefix60(scrubPii(col("text"))).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("emails_redacted"),
          sum(col("n_ip")).as("ips_redacted"),
          checksum60(col("h")).as("scrub_checksum"))
        .orderBy(col("source"))
    }),
    // THE capstone composition — prepare training data end to end:
    // Gopher quality gate (9 rules) → PII scrub → exact dedup on the
    // scrubbed fingerprint → token-budget shards. Per-shard counts,
    // token totals, AND an order-independent checksum of the surviving
    // scrubbed text are all hash-checked — the complete output corpus
    // is verified, not a sample.
    "ta_prepare" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val flags = Seq("ok_nwords", "ok_wordlen", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords", "ok_duplines",
        "ok_duppara")
      val kept = docs
        .select(col("doc_id"), col("text"),
          gopherQualityFlags(col("text")).as("q"))
        .filter(flags.map(f => col(s"q.$f")).reduce(_ && _))
        .select(col("doc_id"), scrubPii(col("text")).as("stext"))
      val deduped = kept
        .withColumn("fp", fingerprint(col("stext")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
      val t = deduped.select(col("doc_id"),
        size(tokens(col("stext"))).as("n_toks"),
        md5Prefix60(col("stext")).as("h"))
      Sampling.tokenShards(t, col("n_toks"), budget = 20000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"),
          checksum60(col("h")).as("checksum"))
        .orderBy(col("shard"))
    }),
    // FUZZY prepare capstone (RefinedWeb-style): same end-to-end
    // pipeline as ta_prepare but the dedup stage is MinHash-LSH fuzzy
    // dedup — exact-fingerprint pairs ∪ portable banded-LSH near-dup
    // pairs → connected components → keep one doc per cluster — the
    // dedup real crawl pipelines run. The synthetic corpus is
    // near-dup-free, so the input is the base+80%-prefix-variant
    // harness (guaranteed true near-dups, same as dd_cluster), on the
    // src0/src1 sub-corpus to bound the oracle's recursive closure.
    // Scale shape: banded equi-joins only (plan-gated), CC driver state
    // = one label row per paired doc. Oracle rebuilds gate → scrub →
    // LSH → transitive closure → keep-set → shards end to end; the
    // surviving corpus is checksummed, not sampled.
    "ta_prepare_fuzzy" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("source"), col("text"))
      val variants = base.select((col("doc_id") + 10000000L).as("doc_id"),
        col("source"),
        expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      val corpus = base.unionAll(variants)
      val flags = Seq("ok_nwords", "ok_wordlen", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords", "ok_duplines",
        "ok_duppara")
      val kept = corpus
        .select(col("doc_id"), col("text"),
          gopherQualityFlags(col("text")).as("q"))
        .filter(flags.map(f => col(s"q.$f")).reduce(_ && _))
        .select(col("doc_id"), scrubPii(col("text")).as("stext"))
      val sim = Dedup.minhashDupPairsPortable(
          kept.select(col("doc_id"), col("stext").as("text")),
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val fp = kept.select(col("doc_id"), fingerprint(col("stext")).as("fp"))
      val ex = fp.select(col("fp"), col("doc_id").as("doc_a"))
        .join(fp.select(col("fp").as("fp_b"), col("doc_id").as("doc_b")),
          col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
      val cc = Dedup.connectedComponents(sim.unionAll(ex))
      val keep = kept.join(cc, Seq("doc_id"), "left")
        .filter(col("root").isNull || col("root") === col("doc_id"))
      val t = keep.select(col("doc_id"),
        size(tokens(col("stext"))).as("n_toks"),
        md5Prefix60(col("stext")).as("h"))
      Sampling.tokenShards(t, col("n_toks"), budget = 20000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"),
          checksum60(col("h")).as("checksum"))
        .orderBy(col("shard"))
    }),
    // Gopher §A1.1.1 n-gram repetition filters: per-(source, n) doc
    // counts, repeated-char mass, and pass counts — all integer
    // arithmetic, fully DuckDB-reproduced
    "ta_gopher_ngrams" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      gopherNgramStats(docs, keep = Seq("source"))
        .groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("num_chars")).as("rep_chars"),
          sum(col("total")).as("total_chars"),
          sum(col("pass")).as("n_pass"))
        .orderBy(col("source"), col("n"))
    }),
    // Gopher quality rules: per-source counts of every flag, all
    // DuckDB-reproduced (pure expressions, portable thresholds)
    "ta_gopher" -> ((s, dir) => {
      val q = Tables.load(s, dir, "documents")
        .select(col("source"), gopherQualityFlags(col("text")).as("q"))
      val flags = Seq("ok_nwords", "ok_wordlen", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords", "ok_duplines",
        "ok_duppara")
      val passAll = flags.map(f => col(s"q.$f")).reduce(_ && _)
      q.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          flags.map(f =>
            sum(col(s"q.$f").cast("long")).as(s"n_$f")) :+
            sum(passAll.cast("long")).as("n_pass"): _*)
        .orderBy(col("source"))
    }),
    // one-row corpus data card: the summary block a dataset release
    // ships — doc/source/lang counts, token/char totals, exact-dup
    // count, Gopher pass rate. One corpus pass (Spark's Expand handles
    // the multi-distinct); every number integer-exact.
    "ta_datacard" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val flags = Seq("ok_nwords", "ok_wordlen", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords", "ok_duplines",
        "ok_duppara")
      // the pass conjunction is collapsed to ONE long BEFORE the
      // aggregate: the three count_distincts plan through Expand (4
      // replicas of every input row), so each column carried into the
      // agg is paid four times — a 9-flag struct rode every replica
      val base = docs.select(col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        fingerprint(col("text")).as("fp"),
        gopherQualityFlags(col("text")).as("q"))
        .select(col("source"), col("lang"), col("n_chars"), col("n_toks"),
          col("fp"),
          flags.map(f => col(s"q.$f")).reduce(_ && _).cast("long")
            .as("gpass"))
      base.agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_distinct(col("fp")).as("n_unique_docs"),
        sum(col("gpass")).as("n_gopher_pass"))
    }),
    // model-based quality filter: the fasttext-style linear scorer every
    // LLM data pipeline runs after rule filters (GPT-3 / LLaMA corpus
    // construction). The model ships as an ARTIFACT — here four integer
    // features with fixed literal weights:
    //   score = 3·stopword‰ + 2·type-token‰ + min(meanwordlen·100, 600)
    //           + 2·min(n_words, 100),   keep = score ≥ 1700
    // Features are per-mille integers (div, not float division), so
    // scoring is bit-exact cross-engine. The whole operator is a narrow
    // projection — zero shuffle at any corpus size; training stays
    // offline (a model artifact), exactly as in production pipelines.
    "ta_classifier" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"), col("source"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          classifierFeatures(col("toks")).as("f"))
        .select(col("doc_id"), col("source"),
          col("f.stop_pm").as("stop_pm"), col("f.mwl100").as("mwl100"),
          col("f.ttr_pm").as("ttr_pm"), col("f.nw").as("nw"),
          col("f.score").as("score"))
        .withColumn("keep", (col("score") >= 1700).cast("bigint"))
        .orderBy(col("doc_id"))
    }),
    // corpus-composition drift between two snapshots (the even/odd
    // doc_id halves stand in for consecutive dumps): per (source, lang)
    // cell, counts in each half and the parts-per-million share delta —
    // the monitor a recurring ingestion pipeline alarms on. Integer-
    // exact (share = n·1e6 div total); one groupBy plus a broadcast of
    // the one-row totals — no sort, no corpus-wide window, so the cell
    // table is the only shuffle at any corpus size.
    "ta_drift" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val a = (col("doc_id") % 2 === 0).cast("long")
      driftFromCells(docs.groupBy(col("source"), col("lang"))
        .agg(sum(a).as("n_a"), sum(lit(1L) - a).as("n_b")))
    }),
    // vocabulary coverage of the top-200 words: OOV-rate numerators and
    // denominators, all integer-exact
    "ta_vocab_coverage" -> ((s, dir) =>
      vocabCoverage(Tables.load(s, dir, "documents"), v = 200)),
    // BPE training census: the top-20 merge candidates (adjacent char
    // pairs weighted by word frequency) — deterministic tiebreak on the
    // pair string; the top-k fuses to TakeOrderedAndProject
    "ta_bpe_pairs" -> ((s, dir) => {
      bpePairCensus(Tables.load(s, dir, "documents"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),
    // BPE merge APPLICATION — the inference half of the tokenizer story
    // (ta_bpe_pairs is training iteration 0): the 8 merges are a
    // shipped artifact (this corpus's measured top pairs), applied as
    // greedy sequential space-anchored replaces over char-spaced words.
    // Two passes per merge: a sequential replace resumes AFTER each
    // match, so alternating overlaps (' a b a b ') need a second sweep
    // — DuckDB's replace has the same resume-after-match semantics, so
    // segmentation strings are byte-identical. Cost shape: the corpus
    // collapses to the word census (one map-side-combined shuffle), the
    // top-20 cut fuses to TakeOrdered, and the merge chain runs on 20
    // rows — corpus size only ever touches the census pass.
    "ta_bpe_apply" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val census = docs.select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w")).limit(20)
      census.select(col("w"), col("freq"),
          bpeSegment(col("w")).as("segmentation"))
        .withColumn("n_subtokens",
          (length(col("segmentation"))
            - length(replace(col("segmentation"), lit(" "), lit("")))
            + 1).cast("long"))
        .orderBy(col("freq").desc, col("w"))
    }),
    "ta_token_count" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("n_words"),
          bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    "ta_quality" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("len"),
          round(stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(length(regexp_replace(normText(col("text")), "[^a-z]", ""))
            .cast("double") / size(tokens(col("text"))), 6).as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),
    "ta_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),
    "ta_fingerprint" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    // winnowing fingerprint summary (k=3 grams, w=4 windows). The
    // groupBy reuses the window's doc_id hash partitioning established
    // inside winnowFingerprints — no aggregation exchange; the output
    // sort is the only other shuffle.
    "ta_winnow" -> ((s, dir) => {
      winnowFingerprints(Tables.load(s, dir, "documents"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
        .orderBy(col("doc_id"))
    })
  )

  private val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared DuckDB CTE chain mirroring [[gopherQualityFlags]] over the
    * `documents` table: yields `f(doc_id, source, text, ok_* × 9)` —
    * used by both the flag-count gate and the prepare pipeline. */
  private lazy val gopherFlagsCteSql: String = gopherFlagsCteSqlOver("documents")

  /** Same chain over an arbitrary upstream relation with
    * (doc_id, source, text) — the fuzzy prepare capstone gates a
    * base+variant harness corpus rather than `documents` directly. */
  private def gopherFlagsCteSqlOver(table: String): String =
    s"""q AS (
      |  SELECT doc_id, source, text,
      |    len(string_split_regex(trim(text), '\\s+')) AS nwords,
      |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
      |      / len(string_split_regex(trim(text), '\\s+')) AS meanlen,
      |    (len(string_split(text, '#')) - 1)
      |      + (len(string_split(text, '...')) - 1)
      |      + (len(string_split(text, '…')) - 1) AS nsym,
      |    string_split(text, chr(10)) AS lines,
      |    string_split(text, chr(10) || chr(10)) AS paras,
      |    string_split_regex(trim(text), '\\s+') AS words,
      |    string_split_regex(lower(trim(text)), '\\s+') AS lwords
      |  FROM $table),
      |f AS (
      |  SELECT doc_id, source, text,
      |    (nwords >= 50 AND nwords <= 100000) AS ok_nwords,
      |    (meanlen >= 3.0 AND meanlen <= 10.0) AS ok_wordlen,
      |    (CAST(nsym AS DOUBLE) / nwords <= 0.1) AS ok_symbols,
      |    (CAST(len(list_filter(lines,
      |        l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
      |      / len(lines) < 0.9) AS ok_bullets,
      |    (CAST(len(list_filter(lines,
      |        l -> regexp_matches(trim(l), '(\\.\\.\\.|…)\\z'))) AS DOUBLE)
      |      / len(lines) < 0.3) AS ok_ellipsis,
      |    (CAST(len(list_filter(words,
      |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |      / nwords >= 0.8) AS ok_alpha,
      |    (len(list_filter($stopList,
      |        s -> list_contains(lwords, s))) >= 2) AS ok_stopwords,
      |    (CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
      |      / len(lines) <= 0.3) AS ok_duplines,
      |    (CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE)
      |      / len(paras) <= 0.3) AS ok_duppara
      |  FROM q)""".stripMargin

  private val gopherPassSql: String =
    """ok_nwords AND ok_wordlen AND ok_symbols AND ok_bullets
      | AND ok_ellipsis AND ok_alpha AND ok_stopwords
      | AND ok_duplines AND ok_duppara""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ta_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2)),
        |refbi AS (
        |  SELECT w1, w2, count(*) AS c2 FROM bi
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |refuni AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT doc_id, unnest(t) AS w1 FROM tok)
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM refuni),
        |sc AS (
        |  SELECT b.doc_id,
        |    -ln((CAST(coalesce(rb.c2, 0) AS DOUBLE) + 0.5)
        |        / (CAST(coalesce(ru.c1, 0) AS DOUBLE) + 0.5 * v.v)) AS nll
        |  FROM bi b
        |  LEFT JOIN refbi rb ON b.w1 = rb.w1 AND b.w2 = rb.w2
        |  LEFT JOIN refuni ru ON b.w1 = ru.w1
        |  CROSS JOIN v
        |  WHERE b.doc_id % 2 = 1)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_bpe_apply" -> bpeApplyOracleSql,
    "ta_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS nw,
        |    CAST(len(list_filter(toks,
        |      x -> list_contains(['the','a','of','and','is'], x)))
        |      AS BIGINT) AS nstop,
        |    CAST(list_sum(list_transform(toks, x -> len(x)))
        |      AS BIGINT) AS wchars,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS nuniq
        |  FROM t),
        |s AS (
        |  SELECT doc_id, source,
        |    (nstop * 1000) // greatest(nw, 1) AS stop_pm,
        |    (wchars * 100) // greatest(nw, 1) AS mwl100,
        |    (nuniq * 1000) // greatest(nw, 1) AS ttr_pm,
        |    nw
        |  FROM f)
        |SELECT doc_id, source, stop_pm, mwl100, ttr_pm, nw,
        |  3 * stop_pm + 2 * ttr_pm + least(mwl100, 600)
        |    + 2 * least(nw, 100) AS score,
        |  CASE WHEN 3 * stop_pm + 2 * ttr_pm + least(mwl100, 600)
        |    + 2 * least(nw, 100) >= 1700 THEN 1 ELSE 0 END AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "ta_drift" ->
      """WITH h AS (
        |  SELECT source, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |  FROM documents),
        |cells AS (
        |  SELECT source, lang,
        |    CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(1 - a) AS BIGINT) AS n_b
        |  FROM h GROUP BY source, lang),
        |tot AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS t_a,
        |    CAST(sum(1 - a) AS BIGINT) AS t_b
        |  FROM h)
        |SELECT c.source, c.lang, c.n_a, c.n_b,
        |  COALESCE((c.n_a * 1000000) // NULLIF(t.t_a, 0), 0) AS ppm_a,
        |  COALESCE((c.n_b * 1000000) // NULLIF(t.t_b, 0), 0) AS ppm_b,
        |  COALESCE((c.n_b * 1000000) // NULLIF(t.t_b, 0), 0)
        |    - COALESCE((c.n_a * 1000000) // NULLIF(t.t_a, 0), 0)
        |    AS drift_ppm
        |FROM cells c, tot t ORDER BY c.source, c.lang""".stripMargin,
    // the funnel mirrored stage by stage: langid CASE, token count,
    // punct ratio, md5 fingerprint row_number dedup, hash sample
    "ta_pipeline" ->
      """WITH scored AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE
        |      WHEN greatest(
        |        len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','of','and','is'], t))),
        |        len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['der','die','das','und','ist'], t))),
        |        len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['le','la','les','et','est'], t)))) = 0
        |        THEN 'und'
        |      WHEN len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['le','la','les','et','est'], t)))
        |          > len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['der','die','das','und','ist'], t)))
        |        AND len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['le','la','les','et','est'], t)))
        |          > len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','of','and','is'], t)))
        |        THEN 'fr'
        |      WHEN len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['der','die','das','und','ist'], t)))
        |          > len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','of','and','is'], t)))
        |        THEN 'de'
        |      ELSE 'en' END AS lang,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct,
        |    md5(lower(trim(text))) AS fp
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM scored
        |  WHERE lang = 'en' AND n_tokens >= 5 AND punct < 0.2),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |sampled AS (
        |  SELECT * FROM deduped
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |          AS BIGINT) / 1152921504606846976.0 < 0.5)
        |SELECT
        |  (SELECT count(*) FROM documents) AS n_raw,
        |  (SELECT count(*) FROM kept) AS n_kept,
        |  (SELECT count(*) FROM deduped) AS n_unique,
        |  (SELECT count(*) FROM sampled) AS n_sampled,
        |  (SELECT COALESCE(CAST(sum(n_chars) AS BIGINT), 0) FROM sampled)
        |    AS chars_sampled""".stripMargin,
    "ta_prepare" -> ("WITH " + gopherFlagsCteSql + s""",
        |kept AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
        |      '$ipv4Re', '<IP>', 'g') AS stext
        |  FROM f WHERE $gopherPassSql),
        |dd AS (
        |  SELECT doc_id, stext FROM (
        |    SELECT doc_id, stext,
        |      row_number() OVER (PARTITION BY md5(lower(trim(stext)))
        |                         ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(stext)), '\\s+')) AS n_toks,
        |    CAST(('0x' || substr(md5(stext), 1, 15)) AS BIGINT) AS h
        |  FROM dd),
        |tot AS (
        |  SELECT greatest(1, CAST(ceil(CAST(sum(n_toks) AS DOUBLE) / 20000)
        |    AS BIGINT)) AS n_shards FROM t),
        |sh AS (
        |  SELECT n_toks, h,
        |    CAST(floor(
        |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) / 1152921504606846976.0)
        |      * CAST(n_shards AS DOUBLE)) AS BIGINT) AS shard
        |  FROM t, tot)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tokens,
        |  CAST(sum(h) % 1152921504606846976 AS BIGINT) AS checksum
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin),
    // fuzzy prepare: gate → scrub → (exact ∪ banded-LSH pairs) →
    // recursive-CTE transitive closure → keep-one-per-cluster → shards,
    // rebuilt end to end; `src` feeds Dedup.portableMinhashVerSql
    "ta_prepare_fuzzy" -> ("WITH RECURSIVE corpus AS (" + s"""
        |  SELECT doc_id, source, text FROM documents
        |  WHERE source IN ('src0', 'src1')
        |  UNION ALL
        |  SELECT doc_id + 10000000, source,
        |    substr(text, 1, (4 * length(text)) // 5)
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |""".stripMargin + gopherFlagsCteSqlOver("corpus") + s""",
        |src AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
        |      '$ipv4Re', '<IP>', 'g') AS text
        |  FROM f WHERE $gopherPassSql),
        |""".stripMargin + Dedup.portableMinhashVerSql + s""",
        |pairs AS (
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
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.n),
        |cc AS (SELECT n AS doc_id, min(r) AS root FROM reach GROUP BY n),
        |keep AS (
        |  SELECT s.doc_id, s.text FROM src s
        |  LEFT JOIN cc ON s.doc_id = cc.doc_id
        |  WHERE cc.root IS NULL OR cc.root = s.doc_id),
        |t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_toks,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM keep),
        |tot AS (
        |  SELECT greatest(1, CAST(ceil(CAST(sum(n_toks) AS DOUBLE) / 20000)
        |    AS BIGINT)) AS n_shards FROM t),
        |sd AS (
        |  SELECT n_toks, h,
        |    CAST(floor(
        |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) / 1152921504606846976.0)
        |      * CAST(n_shards AS DOUBLE)) AS BIGINT) AS shard
        |  FROM t, tot)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tokens,
        |  CAST(sum(h) % 1152921504606846976 AS BIGINT) AS checksum
        |FROM sd GROUP BY shard ORDER BY shard""".stripMargin),
    // packing is engine-side (sequential first-fit in mapPartitions);
    // the oracle pins the chunk census exactly and asserts the three
    // packing guarantees — the sketch-gate pattern
    "ta_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(range(CAST(ceil(len(toks) / 64.0) AS BIGINT))) AS chunk_id,
        |    toks
        |  FROM d),
        |t AS (
        |  SELECT doc_id, chunk_id,
        |    len(string_split_regex(lower(trim(
        |      array_to_string(toks[chunk_id*64+1 : chunk_id*64+64], ' '))),
        |      '\s+')) AS n_toks
        |  FROM ch)
        |SELECT CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(1 AS BIGINT) AS bound_ok,
        |  CAST(1 AS BIGINT) AS conserve_ok,
        |  CAST(1 AS BIGINT) AS count_ok
        |FROM t""".stripMargin,
    "ta_chunks" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT source, doc_id, toks,
        |    unnest(range(CAST(ceil(len(toks) / 64.0) AS BIGINT))) AS chunk_id
        |  FROM d),
        |t AS (
        |  SELECT source, chunk_id,
        |    array_to_string(toks[chunk_id*64+1 : chunk_id*64+64], ' ')
        |      AS chunk_text
        |  FROM ch),
        |m AS (
        |  SELECT source, chunk_id,
        |    len(string_split_regex(lower(trim(chunk_text)), '\s+')) AS n_toks,
        |    CAST(('0x' || substr(md5(chunk_text), 1, 15)) AS BIGINT) AS h
        |  FROM t)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(sum(n_toks) AS BIGINT) AS chunk_tokens,
        |  CAST(sum(CASE WHEN chunk_id = 0 THEN n_toks ELSE 0 END) AS BIGINT)
        |    AS first_chunk_tokens,
        |  CAST(sum(h) % 1152921504606846976 AS BIGINT) AS chunk_checksum
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "ta_scrub" ->
      s"""WITH p AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '$emailRe'))) AS BIGINT)
        |    AS emails_redacted,
        |  CAST(sum(len(regexp_extract_all(text, '$ipv4Re'))) AS BIGINT)
        |    AS ips_redacted,
        |  CAST(sum(CAST(('0x' || substr(md5(
        |      regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
        |        '$ipv4Re', '<IP>', 'g')), 1, 15)) AS BIGINT))
        |    % 1152921504606846976 AS BIGINT) AS scrub_checksum
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "ta_gopher_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |census AS (
        |  SELECT doc_id, source,
        |    CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS total
        |  FROM t),
        |pos AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM t),
        |grams AS (
        |  SELECT doc_id, nn.n AS n,
        |    array_to_string(toks[i+1:i+nn.n], ' ') AS gram
        |  FROM pos, (SELECT unnest(range(2, 11)) AS n) nn
        |  WHERE i + nn.n <= len(toks)),
        |counts AS (
        |  SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
        |perdocn AS (
        |  SELECT doc_id, n,
        |    (max({'cnt': cnt, 'chars': cnt * length(gram)})).chars
        |      AS top_chars,
        |    sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
        |      AS dup_chars
        |  FROM counts GROUP BY 1, 2),
        |th AS (SELECT * FROM (VALUES (2,20),(3,18),(4,16),(5,15),(6,14),
        |  (7,13),(8,12),(9,11),(10,10)) v(n, t100)),
        |grid AS (
        |  SELECT c.doc_id, c.source, c.total, th.n, th.t100
        |  FROM census c CROSS JOIN th),
        |j AS (
        |  SELECT g.source, g.n,
        |    COALESCE(CASE WHEN g.n <= 4 THEN p.top_chars
        |             ELSE p.dup_chars END, 0) AS num_chars,
        |    g.total, g.t100
        |  FROM grid g LEFT JOIN perdocn p
        |    ON g.doc_id = p.doc_id AND g.n = p.n)
        |SELECT source, n, count(*) AS n_docs,
        |  CAST(sum(num_chars) AS BIGINT) AS rep_chars,
        |  CAST(sum(total) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN num_chars * 100 <= t100 * total
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM j GROUP BY 1, 2 ORDER BY source, n""".stripMargin,
    "ta_gopher" -> ("WITH " + gopherFlagsCteSql + s"""
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ok_nwords THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_nwords,
        |  CAST(sum(CASE WHEN ok_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_wordlen,
        |  CAST(sum(CASE WHEN ok_symbols THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_symbols,
        |  CAST(sum(CASE WHEN ok_bullets THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_bullets,
        |  CAST(sum(CASE WHEN ok_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_ellipsis,
        |  CAST(sum(CASE WHEN ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_alpha,
        |  CAST(sum(CASE WHEN ok_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_stopwords,
        |  CAST(sum(CASE WHEN ok_duplines THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_duplines,
        |  CAST(sum(CASE WHEN ok_duppara THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_duppara,
        |  CAST(sum(CASE WHEN ok_nwords AND ok_wordlen AND ok_symbols
        |    AND ok_bullets AND ok_ellipsis AND ok_alpha AND ok_stopwords
        |    AND ok_duplines AND ok_duppara
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY source ORDER BY source""".stripMargin),
    "ta_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf * (n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) AS raw
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, raw,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, round(raw, 6) AS score, rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "ta_datacard" -> ("WITH " + gopherFlagsCteSql + s""",
        |m AS (
        |  SELECT d.doc_id, d.source, d.lang, d.n_chars,
        |    len(string_split_regex(lower(trim(d.text)), '\\s+')) AS n_toks,
        |    md5(lower(trim(d.text))) AS fp,
        |    ($gopherPassSql) AS pass
        |  FROM documents d JOIN f ON d.doc_id = f.doc_id)
        |SELECT count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT fp) AS n_unique_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gopher_pass
        |FROM m""".stripMargin),
    "ta_vocab_coverage" ->
      """WITH census AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |top AS (SELECT * FROM census ORDER BY freq DESC, w LIMIT 200)
        |SELECT
        |  (SELECT count(*) FROM top) AS vocab_size,
        |  (SELECT CAST(sum(freq) AS BIGINT) FROM top) AS covered_tokens,
        |  (SELECT CAST(sum(freq) AS BIGINT) FROM census) AS total_tokens,
        |  (SELECT count(*) FROM census) AS distinct_words""".stripMargin,
    "ta_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, i, 2) AS pair, freq
        |  FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM words)),
        |census AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair)
        |SELECT pair, n FROM census ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "ta_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
        |  len(regexp_extract_all(lower(text),
        |      '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))
        |    AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      s"""SELECT doc_id, length(text) AS len,
        |  round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |        t -> list_contains($stopList, t))) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS stop_ratio,
        |  round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS punct_ratio,
        |  round(CAST(length(regexp_replace(lower(trim(text)), '[^a-z]', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_langid" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        t -> list_contains(['the','a','of','and','is'], t))) AS s_en,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        t -> list_contains(['le','la','les','et','est'], t))) AS s_fr
        |  FROM documents)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_de, s_fr) = 0 THEN 'und'
        |  WHEN s_fr > s_de AND s_fr > s_en THEN 'fr'
        |  WHEN s_de > s_en THEN 'de'
        |  ELSE 'en' END AS pred_lang
        |FROM scored ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i, toks
        |  FROM d),
        |h AS (
        |  SELECT doc_id, i,
        |    CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM g),
        |w AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM h),
        |fp AS (
        |  SELECT DISTINCT doc_id, m FROM w WHERE i <= n - 4 + 1)
        |SELECT doc_id, count(*) AS n_fp, min(m) AS min_fp, max(m) AS max_fp
        |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** DuckDB expression mirroring [[bpeSegment]] applied to `inner`
    * (a SQL expression string): same spacing, same merge order, same
    * two passes — reused by every oracle that needs a segmentation. */
  def bpeMergedSqlExpr(inner: String): String = {
    val spaced0 =
      s"' ' || trim(regexp_replace($inner, '(.)', '\\1 ', 'g')) || ' '"
    val chained = bpeMerges.foldLeft(spaced0) { (c, m) =>
      val pat = s"' $m '"
      val tgt = s"' ${m.filterNot(_ == ' ')} '"
      s"replace(replace($c, $pat, $tgt), $pat, $tgt)"
    }
    s"trim($chained)"
  }

  /** DuckDB mirror of ta_bpe_apply: [[bpeMergedSqlExpr]] over the same
    * census top-20 cut, same ordering and subtoken arithmetic. */
  private lazy val bpeApplyOracleSql: String = {
    val mergedExpr = bpeMergedSqlExpr("w")
    s"""WITH w AS (
       |  SELECT x AS w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS x
       |    FROM documents)
       |  WHERE len(x) >= 2 GROUP BY x),
       |top AS (SELECT w, freq FROM w ORDER BY freq DESC, w LIMIT 20),
       |m AS (SELECT w, freq, $mergedExpr AS segmentation FROM top)
       |SELECT w, freq, segmentation,
       |  CAST(len(segmentation) - len(replace(segmentation, ' ', '')) + 1
       |    AS BIGINT) AS n_subtokens
       |FROM m ORDER BY freq DESC, w""".stripMargin
  }
}
