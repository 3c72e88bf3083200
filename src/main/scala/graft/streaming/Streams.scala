package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Structured Streaming surface (extension — the reference is batch-only,
  * SURVEY §2.11). The same operator layer compiles to streaming plans:
  * readStream → watermark → windowed aggregation → sink.
  *
  * At scale this is the ingestion path: the identical aggregation
  * expressions used in batch (`graft.queries`) run incrementally with
  * state kept per window+key; watermarks bound that state.
  */
object Streams {

  /** The file-stream source requires an explicit schema; an explicit
    * schema that contradicts the file footer is NOT an error — the
    * parquet reader reinterprets the bytes and hands back plausible
    * garbage (round-8: µs int64 read as nanos shrank time 1000×, every
    * session collapsed, zero exceptions). So the streaming reads take
    * their schema FROM the footer: [[Tables.readParquet]] reads it on
    * the driver at plan time (Spark's own inference job only where that
    * reader falls back), nothing per-batch — and all physical-type
    * adaptation goes through the same [[Tables.withTsNanos]]
    * normalizer the batch path uses. */
  private def footerSchema(spark: SparkSession, dir: String,
      name: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.readParquet(spark, s"$dir/$name.parquet").schema
  }

  /** Streaming read of the events parquet with the (ts, ts_nanos) pair
    * surfaced — same contract as the batch [[Tables.load]]. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = footerSchema(spark, dir, "events")
    // the file-stream source wants a directory; glob-filter to the table
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Tables.withTsNanos(raw, schema("ts").dataType)
  }

  /** Streaming read of the documents parquet — the INGESTION face of the
    * text pipeline: the same pure-expression operators
    * ([[graft.operators.TextAnalysis]]) run incrementally over arriving
    * document batches. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(footerSchema(spark, dir, "documents"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming read of the embeddings parquet (footer-derived schema,
    * like every stream here). */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(footerSchema(spark, dir, "embeddings"))
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** Streaming corpus-quality monitor: per-source counts of documents
    * passing the language gate and the token/punctuation quality gate —
    * [[graft.operators.TextAnalysis]] expressions applied to a stream.
    * Stateless map + complete-mode aggregate: state is one row per
    * source, bounded regardless of corpus size; the narrow stages fuse
    * into the stream scan exactly as they do in batch (the operators
    * are ordinary Catalyst expressions, so incremental == batch by
    * construction — the invariant the driver oracle checks). */
  def qualityMonitor(docs: DataFrame, minTokens: Int = 5,
      maxPunct: Double = 0.2): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .select(col("source"),
        TextAnalysis.langId(col("text")).as("pred"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("pred") === "en").cast("long")).as("n_en"),
        sum((col("n_tokens") >= minTokens &&
          col("punct") < maxPunct).cast("long")).as("n_quality"),
        sum(col("n_tokens")).as("tokens"))
  }

  /** Tumbling-window counts/sums per event type, watermarked. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding (overlapping) windowed aggregation — `window(ts, size,
    * slide)` assigns every event to size/slide windows (4 here), the
    * monitoring shape tumbling windows can't express (a spike on a
    * window boundary is halved by tumbling, seen whole by sliding).
    * State is per-(window, type) like the tumbling case — slide only
    * multiplies live windows by size/slide, it does not buffer events —
    * and the watermark still retires windows as event time passes. */
  def slidingCounts(events: DataFrame, size: String = "2 hours",
      slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** In-stream exact dedup by key within the watermark horizon — the
    * streaming face of [[graft.operators.Dedup.exact]]. */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join: purchases attributed to
    * same-user clicks within the preceding `windowMinutes`. Both sides
    * carry watermarks and the join condition bounds event time on both,
    * so each side's buffered state is dropped once the other's watermark
    * passes — state stays O(events within the horizon), not O(stream).
    *
    * The coarse timestamp bounds (with slack) are what Spark uses for
    * state cleanup; the exact pairing predicate runs on the raw
    * nanosecond column, so results are bit-exact against an oracle
    * reading the nanosecond parquet directly (the µs-truncated `ts`
    * would admit boundary pairs the nanos exclude). */
  def clickPurchaseJoin(spark: SparkSession, dir: String,
      windowMinutes: Int = 30): DataFrame = {
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts_nanos").as("c_ns"))
      .withWatermark("c_ts", "1 hour")
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts_nanos").as("p_ns"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("interval 1 second") &&
        col("p_ts") <= col("c_ts") + expr(s"interval ${windowMinutes + 1} minutes") &&
        col("p_ns") >= col("c_ns") &&
        col("p_ns") - col("c_ns") <= lit(windowMinutes * 60L * 1000000000L),
      "inner")
  }

  /** Gap-based sessionization as a native streaming aggregation:
    * `session_window(ts, gap)` merges an event into the current session
    * while its timestamp is within the previous event's [ts, ts+gap]
    * window (boundary INCLUSIVE — verified by the StreamingSpec boundary
    * test), so a new session starts only at diff > gap. This
    * is the Spark-idiomatic form — built-in session state, no custom
    * state code — and its final table equals the batch window-function
    * sessionization (the invariant the oracle checks). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))

  /** The same sessionization through the TYPED custom-state surface
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`) — the API a
    * pipeline reaches for when session logic stops being expressible as
    * an aggregation (per-session ML features, complex emission rules).
    * Events are buffered and sorted per user inside the group function;
    * state is one user's in-flight events, dropped at emission.
    * Semantics proven equal to [[sessionAgg]] in StreamingSpec. */
  def sessionizeState(spark: SparkSession, events: DataFrame,
      gapUs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Array[(Long, Double)], (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Array[(Long, Double)]]) =>
          val buf = (state.getOption.getOrElse(Array.empty) ++
            rows.map(r => (r._2, r._3))).sortBy(_._1)
          state.remove()
          // emit all closed sessions; with the single-batch file source
          // every session closes here, mirroring run-to-completion
          val out = Seq.newBuilder[(Long, Long, Long, Double)]
          var start = -1L; var prev = -1L; var n = 0L
          var total = BigDecimal(0)
          for ((ts, v) <- buf) {
            if (start < 0) { start = ts; n = 0; total = 0 }
            else if (ts - prev > gapUs) {
              out += ((uid, start, n, total.toDouble))
              start = ts; n = 0; total = 0
            }
            prev = ts
            n += 1
            // quantize like sessionAgg's CAST(value AS DECIMAL(18,6))
            total += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }
          if (start >= 0) out += ((uid, start, n, total.toDouble))
          out.result().iterator
      }
      .toDF("user_id", "start_us", "n_events", "total_value")
  }

  /** Ingestion-time dedup against a STATIC historical corpus — the
    * complement of [[dedupedStream]]/dropDuplicatesWithinWatermark,
    * which only dedups within the stream itself: rows whose key already
    * exists in the history table are dropped. Expressed as stream-static
    * left_outer + null filter (the supported stream-static shape; a
    * bare left_anti is not in Structured Streaming's join matrix).
    * Zero streaming state; the static side is evaluated per micro-batch,
    * so by default the distinct key table is persisted (MEMORY_AND_DISK)
    * the first batch computes it — later batches probe the cached keys
    * instead of re-scanning and re-distincting the full history. At
    * 100 TB the history should instead be a bucketed or Bloom-compacted
    * key table (pass `cacheKeys = false` and pre-shape `history`) so
    * each batch's probe is a pruned read, not a cached corpus. */
  def dedupAgainstHistory(stream: DataFrame, history: DataFrame,
      key: String, cacheKeys: Boolean = true): DataFrame = {
    val keys0 = history.select(col(key)).distinct().withColumn("__seen", lit(1))
    val keys = if (cacheKeys)
      keys0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else keys0
    stream.join(keys, Seq(key), "left_outer")
      .filter(col("__seen").isNull)
      .drop("__seen")
  }

  /** Streaming near-dup dedup against a static MinHash LSH index —
    * the streaming face of [[graft.operators.Dedup.dedupAgainstLshIndex]]:
    * arriving documents sign THEMSELVES per-row (a pure projection,
    * [[graft.operators.Dedup.withPortableSignature]] — no streaming
    * state), explode into band keys, stream-static inner join against
    * the index's band rows, inline agreeing-lane confirm, and a
    * complete-mode best-match aggregate whose state is one row per
    * matched document — bounded by matches, not corpus size.
    *
    * At 100 TB the static side should be a bucketed band table so each
    * micro-batch probes co-located buckets instead of re-shaping the
    * index; the operator takes the index as-is and leaves that layout
    * choice to the caller (same contract as [[dedupAgainstHistory]]). */
  def lshDedupStream(index: DataFrame, docs: DataFrame,
      numHashes: Int = 16, bands: Int = 4, minAgree: Double = 0.5,
      shingleK: Int = 3): DataFrame = {
    import graft.operators.Dedup
    val ssig = Dedup.withPortableSignature(
      docs.select(col("doc_id"), col("text")), col("text"),
      numHashes, shingleK)
      .drop("text")
      .filter(col("h0").isNotNull)
    Dedup.lshBandRows(ssig, "batch_doc", "b", numHashes, bands)
      .join(Dedup.lshBandRows(index, "corpus_doc", "a", numHashes, bands),
        Seq("band", "bucket"))
      .select(col("batch_doc"), col("corpus_doc"),
        Dedup.laneAgreement(numHashes, "a", "b").as("est_jac"))
      .filter(col("est_jac") >= minAgree)
      .groupBy(col("batch_doc"))
      .agg(max(struct(col("est_jac"), col("corpus_doc"))).as("m"))
      .select(col("batch_doc"), col("m.corpus_doc").as("corpus_doc"),
        col("m.est_jac").as("est_jac"))
  }

  /** SELF-BUILDING incremental index: every arriving micro-batch is
    * (1) deduped against the index AS OF the previous batch, then
    * (2) its own signatures are APPENDED to the index — so day N's
    * crawl dedups against everything ingested through day N−1 without
    * any separate index-build job. `foreachBatch` gives the exactly-once
    * seam, and both sinks honor it: signatures AND matches append via
    * [[graft.sources.Sinks.appendEpoch]] (staged, epoch-tagged renames)
    * so a failed-then-replayed batch converges on exactly one copy
    * instead of double-appending.
    *
    * Matches are WRITTEN to `matchesPath` as an appended parquet sink —
    * the production shape: nothing about a match ever rides the driver
    * (columns `batch_doc`, `corpus_doc`, `est_jac`; the path appears on
    * the first batch that produces a match). Returns the started query;
    * callers run it to completion. */
  def lshDedupSelfIndexing(spark: SparkSession, docs: DataFrame,
      indexPath: String, matchesPath: String,
      numHashes: Int = 16, bands: Int = 4, minAgree: Double = 0.5,
      shingleK: Int = 3, compactEvery: Int = 0,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    // refuse the epoch-reset corruption shape LOUDLY (same contract as
    // runUpdateMonitor): a fresh checkpoint over an index that still
    // carries epoch-tagged files would restart batch ids at 0 and let
    // the replay repair delete the first lineage's epochs. Compaction
    // neutralizes the tags, so a compacted index accepts a fresh start.
    if (checkpointDir.isEmpty &&
        graft.sources.Sinks.hasRecoverableEpochFiles(spark, indexPath))
      throw new IllegalStateException(
        s"lshDedupSelfIndexing: $indexPath holds epoch-tagged files from " +
          "a prior stream but no checkpointDir was given - a fresh " +
          "checkpoint would restart epoch ids and clobber them; pass the " +
          "original checkpointDir to resume, or compact the index first")
    val sig = Dedup.withPortableSignature(
      docs.select(col("doc_id"), col("text")), col("text"),
      numHashes, shingleK)
      .drop("text")
      .filter(col("h0").isNotNull)
    val w0 = sig.writeStream
      .outputMode("append")
    // production runs pass a durable checkpoint: epoch ids are scoped
    // to one checkpoint lineage (appendEpoch's contract), so resuming
    // over an existing index REQUIRES the original checkpoint — a
    // fresh one would restart ids at 0 and clobber the first epochs
    checkpointDir.map(c => w0.option("checkpointLocation", c))
      .getOrElse(w0)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val s = batch.sparkSession
        val bsig = batch.localCheckpoint(true)
        // a compaction swap that crashed between its renames leaves the
        // index orphaned in __old with the live dir empty — restore it
        // BEFORE any "no visible data ⇒ first epoch" decision below, on
        // EVERY batch (the replayed epoch need not be a compaction
        // epoch if compactEvery changed across the restart)
        graft.sources.Sinks.recoverCompactSwap(s, indexPath)
        // INGEST-CADENCE COMPACTION (opt-in): every `compactEvery`
        // epochs, fold the accumulated per-epoch small files into one
        // file BEFORE this batch reads or appends — at batch-e start
        // every epoch < e is durably checkpoint-committed, so folding
        // them is safe, and a crashed prior attempt of e itself is
        // excluded from the rewrite (it is re-appended below; see
        // compactParquet's excludeEpoch note). Synchronous on the
        // trigger by design: compaction cost lands on 1-in-N triggers
        // instead of a separate maintenance job racing the appends.
        if (compactEvery > 0 && epochId > 0 &&
            epochId % compactEvery == 0 &&
            graft.sources.Sinks.hasVisibleData(s, indexPath))
          graft.sources.Sinks.compactParquet(s, indexPath,
            excludeEpoch = Some(epochId))
        // probe the index path EXPLICITLY: only a genuinely-absent index
        // means "first batch, nothing to dedup against". Any other read
        // failure (transient FS error, corrupt footer) must propagate and
        // fail the batch — a broad catch would silently skip dedup for
        // the micro-batch while still appending its signatures.
        // "Absent" means NO VISIBLE FILES, not bare fs.exists: a crash
        // between appendEpoch's staging write and its renames on the
        // very first epoch leaves the directory existing but holding
        // only the hidden .epoch-0 staging dir — reading that throws
        // schema-inference errors on every replay and wedges the stream.
        // REPLAY correctness: a retried epoch finds its own prior
        // attempt's signatures already in the index — matching against
        // them would turn every batch doc into an est_jac=1.0
        // self-match that clobbers the epoch's real matches. Exclude
        // this epoch's files (they carry epoch-tagged names) so the
        // replay sees exactly the pre-epoch index, like the first try.
        val idx =
          if (graft.sources.Sinks.hasVisibleData(s, indexPath))
            Some(Tables.readParquet(s, indexPath)
              .filter(!input_file_name().contains(s"epoch-$epochId-")))
          else None
        idx.foreach { index =>
          val matched = Dedup.lshBandRows(index, "corpus_doc", "a", numHashes, bands)
            .join(broadcast(
              Dedup.lshBandRows(bsig, "batch_doc", "b", numHashes, bands)),
              Seq("band", "bucket"))
            .select(col("batch_doc"), col("corpus_doc"),
              Dedup.laneAgreement(numHashes, "a", "b").as("est_jac"))
            .filter(col("est_jac") >= minAgree)
            .groupBy(col("batch_doc"))
            .agg(max(struct(col("est_jac"), col("corpus_doc"))).as("m"))
            .select(col("batch_doc"), col("m.corpus_doc").as("corpus_doc"),
              col("m.est_jac").as("est_jac"))
          graft.sources.Sinks.appendEpoch(matched, matchesPath, epochId)
        }
        // exactly-once: a replayed epoch converges instead of
        // double-appending its signatures (Sinks.appendEpoch)
        graft.sources.Sinks.appendEpoch(bsig, indexPath, epochId)
        ()
      }
      .start()
  }

  /** STREAMING ANN ingest — the IVF-PQ twin of [[lshDedupSelfIndexing]]:
    * every arriving micro-batch of embeddings is coded with the
    * persisted (frozen) model and appended into the index under its
    * `partitionBy(__cell)` layout
    * ([[graft.operators.Similarity.appendToIvfPqIndex]]). The model
    * never moves under existing codes — retraining is an explicit
    * day-0-style rebuild, exactly as in batch. Probes against the index
    * see each batch as soon as its epoch commits; the day-N index is
    * row-identical to a from-scratch coding of everything ingested
    * under the same model (st_ivfpq_ingest gates this against a batch
    * rebuild). At 100 TB this is the shape that keeps ANN serving fresh
    * without ever re-touching the archive: per-batch cost is one narrow
    * code projection + a partitioned append, no index shuffle. */
  def ivfPqIngest(spark: SparkSession, emb: DataFrame, indexPath: String,
      compactEvery: Int = 0, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // same epoch-reset refusal as lshDedupSelfIndexing: a fresh-built
    // day-0 index has only plain part files and starts fine; an index a
    // PREVIOUS stream appended epochs into requires that stream's
    // checkpoint (or a compaction) before a new lineage may touch it
    if (checkpointDir.isEmpty &&
        graft.sources.Sinks.hasRecoverableEpochFiles(spark, s"$indexPath/codes"))
      throw new IllegalStateException(
        s"ivfPqIngest: $indexPath/codes holds epoch-tagged files from a " +
          "prior stream but no checkpointDir was given - pass the " +
          "original checkpointDir to resume, or compact the index first")
    // the model is frozen by contract — load ONCE at stream start, not
    // per micro-batch (a per-trigger driver-side parquet read of
    // cells + books would tax every small trigger for immutable data)
    val model = graft.operators.Similarity.loadIvfPqModel(spark, indexPath)
    val w0 = emb.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // same crashed-swap recovery as the LSH stream, every batch:
        // the replayed epoch need not be a compaction epoch
        graft.sources.Sinks.recoverCompactSwap(
          batch.sparkSession, s"$indexPath/codes")
        // ingest-cadence compaction, same contract as the LSH stream:
        // runs BEFORE this epoch's append, over durably-committed
        // epochs only, excluding any crashed prior attempt of this one
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          graft.operators.Similarity.compactIvfPqIndex(
            batch.sparkSession, indexPath, excludeEpoch = Some(epochId))
        // epoch-tagged staged append: a replayed batch converges on
        // exactly one copy of its rows (see appendEpochToIvfPqIndex)
        graft.operators.Similarity.appendEpochToIvfPqIndex(
          batch.localCheckpoint(true), indexPath, model, epochId)
        ()
      }
    checkpointDir.map(c => w0.option("checkpointLocation", c))
      .getOrElse(w0)
      .start()
  }

  /** Raw-table lakehouse ingest: exactly-once epoch appends of the
    * arriving rows into a plain parquet table with the DATA-SKIPPING
    * MANIFEST maintained at ingest cadence — the missing piece between
    * [[graft.sources.Sinks.appendEpoch]] (durable appends) and
    * [[graft.sources.Skipping]] (pruned reads): a reader pruning
    * point/range predicates stays fresh batch-over-batch without any
    * separate maintenance job.
    *
    * Per trigger: recover a crashed compaction swap; at `compactEvery`
    * cadence fold the per-epoch small files into plain part files
    * (crashed prior attempt of the current epoch excluded — same
    * contract as the index streams); range-cluster the batch on
    * `layoutCols` into `filesPerEpoch` files (so the manifest's
    * interval stats actually bite) and append it epoch-tagged; then
    * [[graft.sources.Skipping.refreshManifest]] — which stats ONLY the
    * delta (this epoch's files; after a compaction trigger, the folded
    * set), and whose (bytes, mtime) identity gate keeps a replayed
    * epoch's rewritten files out of pruning until restatted, so a
    * reader concurrent with a crash-replay sees extra IO, never lost
    * rows. `bloomCols` adds per-file Bloom sidecars for point lookups
    * on unclustered high-cardinality columns.
    *
    * Epoch-reset refusal matches the index streams: appending into a
    * table that still carries epoch-tagged files requires the original
    * checkpoint (compaction neutralizes the tags). */
  def tableIngest(spark: SparkSession, rows: DataFrame, tablePath: String,
      indexCols: Seq[String], bloomCols: Seq[String] = Nil,
      layoutCols: Seq[String] = Nil, filesPerEpoch: Int = 0,
      compactEvery: Int = 0, checkpointDir: Option[String] = None,
      reconcileEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (checkpointDir.isEmpty &&
        graft.sources.Sinks.hasRecoverableEpochFiles(spark, tablePath))
      throw new IllegalStateException(
        s"tableIngest: $tablePath holds epoch-tagged files from a prior " +
          "stream but no checkpointDir was given - pass the original " +
          "checkpointDir to resume, or compact the table first")
    // writer lease: renewed every trigger, read by external OPTIMIZE to
    // refuse racing this stream's swaps/replay repair; token = the
    // checkpoint location so a crash-restart of the SAME lineage within
    // the TTL re-acquires, while a second concurrent writer refuses
    val leaseToken = checkpointDir.getOrElse(
      "mem:" + java.util.UUID.randomUUID())
    // per-RUN nonce, distinct from the token: the token names the
    // checkpoint lineage (shared by a restart), the nonce names THIS
    // stream object — the release path deletes only its own run's
    // lease, so a dying heartbeat can never unseat its successor
    val leaseNonce = java.util.UUID.randomUUID().toString
    graft.sources.Sinks.acquireIngestLease(spark, tablePath, leaseToken,
      leaseNonce)
    // a pre-existing manifest (e.g. OPTIMIZE WITH (index 'a,b,c') before
    // the stream attached) may index MORE columns than this stream was
    // configured with — union them in, or the first refresh would
    // rebuild the manifest narrower and silently stop pruning on the
    // extras (the same invariant Skipping.optimize holds)
    val prevManifestCols = graft.sources.Skipping
      .readManifest(spark, tablePath).map(_.columns.toSeq).getOrElse(Nil)
    val blooms = (bloomCols ++
      graft.sources.Skipping.bloomColumns(spark, tablePath)).distinct
    // blooms feed statCols too (bloom columns must be stat-indexed):
    // a crashed writeManifest can leave a sidecar with no manifest, so
    // a discovered bloom column is NOT guaranteed to appear among the
    // previous manifest's __min columns — without this union the first
    // refresh would hit writeManifest's subset require and wedge the
    // stream
    val statCols = (indexCols ++ blooms ++ prevManifestCols.collect {
      case n if n.endsWith("__min") => n.dropRight(5) }).distinct
    val w0 = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val s = batch.sparkSession
        def cluster(df: DataFrame): DataFrame =
          if (layoutCols.isEmpty) df
          else {
            val lc = layoutCols.map(col)
            val rp = if (filesPerEpoch > 0)
              df.repartitionByRange(filesPerEpoch, lc: _*)
            else df.repartitionByRange(lc: _*)
            rp.sortWithinPartitions(lc: _*)
          }
        graft.sources.Sinks.renewIngestLease(s, tablePath, leaseToken,
          leaseNonce)
        graft.sources.Sinks.recoverCompactSwap(s, tablePath)
        var compacted = false
        if (compactEvery > 0 && epochId > 0 &&
            epochId % compactEvery == 0 &&
            graft.sources.Sinks.hasVisibleData(s, tablePath)) {
          // the fold's output file count must scale with the ACCUMULATED
          // table (~128 MB bin-packing, like OPTIMIZE's default), not
          // reuse the per-epoch count — else per-file size grows without
          // bound across the stream's life and pruning granularity
          // collapses. And the fold must RE-CLUSTER, not coalesce: a
          // compaction that flattens the range layout would quietly
          // defeat the manifest it is supposed to serve.
          val fsP = new org.apache.hadoop.fs.Path(tablePath)
          val fsys = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
          val foldFiles = math.max(math.max(1L, filesPerEpoch.toLong),
            fsys.getContentSummary(fsP).getLength / (128L << 20)).toInt
          graft.sources.Sinks.compactParquet(s, tablePath,
            nFiles = foldFiles,
            excludeEpoch = Some(epochId),
            writeStaged =
              if (layoutCols.isEmpty) None
              else Some((df, staged) => {
                val lc = layoutCols.map(col)
                df.repartitionByRange(foldFiles, lc: _*)
                  .sortWithinPartitions(lc: _*)
                  // Overwrite, not the ErrorIfExists default: a crash
                  // between this write and the swap leaves `staged`
                  // populated, and the replayed epoch must be able to
                  // rewrite it (compactParquet also pre-clears it).
                  .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                  .parquet(staged)
              }))
          // the swap replaced every file AND removed the manifest with
          // the old directory: this JVM's owner state (and planning
          // caches) for the table are now about a directory that no
          // longer exists — drop them so the refresh below reconciles
          // from scratch instead of appending a bare-delta manifest
          graft.sources.Skipping.evictTable(tablePath)
          compacted = true
        }
        val clustered = cluster(batch)
        // the compaction swap carried the lease away with the old
        // directory — re-establish it before the slow append/stat work
        graft.sources.Sinks.renewIngestLease(s, tablePath, leaseToken,
          leaseNonce)
        val (addedFiles, removedNames) = graft.sources.Sinks.appendEpoch(
          clustered.localCheckpoint(true), tablePath, epochId)
        // Manifest maintenance INSIDE the exactly-once seam: the
        // checkpoint commits this batch only after its files are both
        // appended AND statted — a crash between the two replays the
        // epoch, and the identity gate handles the overlap.
        //
        // OWNER-path delta refresh (O(delta) END TO END): the lease
        // makes this stream the table's only writer, and appendEpoch
        // just reported exactly which files it moved in (with rename-
        // time identity) and which a replay repair deleted — so the
        // per-trigger refresh stats ONLY those files, with no table
        // listing and no segment-log read. A full listing reconcile
        // runs on `reconcileEvery` cadence (default: the manifest fold
        // cadence) and after a compaction swap, picking up any
        // out-of-band file — which until then is merely unindexed
        // (read, never pruned; metadata rewrites decline on it).
        val everyN = if (reconcileEvery > 0) reconcileEvery
          else graft.sources.Skipping.manifestFoldSegments
        val reconcile = compacted || epochId % everyN == 0L
        if (reconcile ||
            !graft.sources.Skipping.refreshManifestDelta(s, tablePath,
              statCols, blooms, addedFiles, removedNames))
          graft.sources.Skipping.refreshManifest(s, tablePath,
            statCols, blooms)
        ()
      }
    val q = checkpointDir.map(c => w0.option("checkpointLocation", c))
      .getOrElse(w0)
      .start()
    // heartbeat: per-batch renewal alone loses the guard during a batch
    // that outlives the TTL or while the stream idles with no incoming
    // data — a daemon renews at TTL/3 for the query's whole life, so
    // "live lease" means "stream object still running", not "a batch
    // fired recently". The loop POLLS isActive every second (renewing
    // only on the TTL/3 cadence) so a graceful q.stop() is observed
    // within ~1s and the lease RELEASED — without that, OPTIMIZE's
    // "stop the stream and retry" guidance would still refuse for up
    // to the full TTL after the stream is gone.
    val hb = new Thread(() => {
      try {
        val renewEvery = math.max(1000L,
          graft.sources.Sinks.ingestLeaseTtlMs / 3)
        var lastRenew = System.currentTimeMillis()
        while (q.isActive) {
          Thread.sleep(1000L)
          val now = System.currentTimeMillis()
          if (q.isActive && now - lastRenew >= renewEvery) {
            graft.sources.Sinks.renewIngestLease(spark, tablePath, leaseToken,
              leaseNonce)
            lastRenew = now
          }
        }
      } catch { case _: InterruptedException => ()
      } finally
        // release in finally: an interrupt mid-sleep must not strand a
        // stopped stream's lease for the full TTL — but only when the
        // query really is down (an interrupt against a LIVE stream must
        // not unseat its own lease). The nonce guard additionally makes
        // this a no-op if a successor already re-acquired.
        if (!q.isActive)
          graft.sources.Sinks.releaseIngestLease(spark, tablePath,
            leaseToken, leaseNonce)
    })
    hb.setDaemon(true)
    hb.setName(s"graft-ingest-lease-${tablePath.hashCode}")
    hb.start()
    q
  }

  /** UPDATE-MODE monitor runner — the production emission shape the
    * emission-contract docstring promises: each trigger emits ONLY the
    * cells the batch touched, where complete mode re-pays the whole
    * cell space per trigger. The sink is an epoch-tagged append log
    * plus a latest-wins view ([[latestCells]]) — the standard upsert
    * substitute on sinks without native merge (parquet, object
    * stores): [[graft.sources.Sinks.appendEpoch]] keeps the appends
    * exactly-once under replay, and the log compacts on the same
    * cadence as every other incremental artifact here (`compactEvery`,
    * below). State is still bounded by cell space (no watermark
    * eviction — monitors hold all cells by design); what update mode
    * changes is the EMISSION bill: per-trigger rows scale with the
    * batch's touched cells, not the accumulated cell count.
    *
    * INGEST-CADENCE COMPACTION (`compactEvery` > 0, requires `keys`):
    * every `compactEvery`-th trigger folds the epoch log to its
    * latest-wins rows BEFORE that epoch's own append — the compacted
    * file IS the monitor's current state, one row per cell. `__epoch`
    * is PRESERVED through the fold (each kept row carries the epoch
    * that produced it, strictly below the folding epoch), so
    * [[latestCells]]' ordering stays correct across folds and future
    * appends: without compaction the log holds one row per
    * (trigger × touched cell) forever and the latest-wins window
    * re-scans all of it — the same small-files/unbounded-scan
    * pathology the index streams' cadence compaction fixes
    * ([[lshDedupSelfIndexing]], [[ivfPqIngest]]). Same safety seams as
    * those streams: a crashed swap self-heals at the next batch
    * ([[graft.sources.Sinks.recoverCompactSwap]]), and a crashed prior
    * attempt of the folding epoch itself is EXCLUDED from the fold
    * (the batch re-appends it in full right after), keeping the
    * replay repair sound. */
  def runUpdateMonitor(spark: SparkSession, agg: DataFrame,
      dir: String, checkpointDir: Option[String] = None,
      compactEvery: Int = 0, keys: Seq[String] = Nil): Unit = {
    require(compactEvery <= 0 || keys.nonEmpty,
      "runUpdateMonitor: compactEvery needs the monitor's cell keys " +
        "(the latest-wins fold is per cell)")
    // Epoch ids are scoped to ONE checkpoint lineage (appendEpoch's
    // contract): a SECOND invocation over an existing log with a fresh
    // in-memory checkpoint would restart batch ids at 0 — its replay
    // repair would delete the first run's epoch-0 files and latestCells
    // would prefer the first run's stale higher epochs. Refuse that
    // shape loudly; resuming over an existing log requires the durable
    // checkpoint that keeps epoch ids monotone.
    if (checkpointDir.isEmpty && graft.sources.Sinks.hasRecoverableData(spark, dir))
      throw new IllegalStateException(
        s"runUpdateMonitor: log dir $dir already holds data but no " +
          "checkpointDir was given - a fresh checkpoint would restart " +
          "epoch ids at 0 and corrupt the latest-wins view; pass the " +
          "original checkpointDir to resume, or clear the log to start over")
    // same tiny-state parallelism note as runToCompletion
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val w = agg.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          val ss = batch.sparkSession
          // crashed-swap recovery every batch, same as the index streams
          graft.sources.Sinks.recoverCompactSwap(ss, dir)
          // cadence compaction BEFORE this epoch's append, over durably
          // committed epochs only; a crashed prior attempt of THIS
          // epoch is dropped from the fold (re-appended in full below)
          if (compactEvery > 0 && epochId > 0 &&
              epochId % compactEvery == 0 &&
              graft.sources.Sinks.hasVisibleData(ss, dir))
            graft.sources.Sinks.compactParquet(ss, dir,
              excludeEpoch = Some(epochId),
              fold = df => latestWins(df, keys))
          graft.sources.Sinks.appendEpoch(
            batch.withColumn("__epoch", lit(epochId)), dir, epochId)
          ()
        }
      val q = checkpointDir
        .map(c => w.option("checkpointLocation", c)).getOrElse(w)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Latest-wins view over an update-mode append log: the row each key
    * last emitted IS its current aggregate value, so one keyed window
    * resolves the monitor's present state. NULL key values group
    * together (SQL window partitioning), matching the aggregation that
    * produced them. */
  def latestCells(spark: SparkSession, dir: String,
      keys: Seq[String]): DataFrame =
    latestWins(Tables.readParquet(spark, dir), keys).drop("__epoch")

  /** The latest-wins reduction itself, `__epoch` KEPT: each cell's
    * surviving row still carries the epoch that emitted it, so the
    * result can be written back as the compacted log
    * ([[runUpdateMonitor]]'s cadence fold) and re-reduced later
    * against newer appends. Update mode emits each touched cell at
    * most once per trigger, so (keys, __epoch) is unique and the
    * row_number tie-break is never exercised. */
  def latestWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__epoch").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  private val runId = new AtomicInteger(0)

  /** Per-trigger sink emission row counts of every [[runToCompletion]]
    * query this session, in start order — the emission-contract probe:
    * StreamingSpec asserts each monitor's per-trigger emission stays
    * within its documented state bound (rows per cell space, never per
    * input volume). Complete mode re-pays the full state per trigger by
    * definition; that is acceptable exactly BECAUSE the state is cell-
    * bounded — a monitor whose emission grew with volume would fail the
    * bound. On a production sink that supports upserts, update mode +
    * watermark is the equivalent shape with per-trigger emission equal
    * to the CHANGED cells only. */
  val emissionLog =
    scala.collection.mutable.Buffer.empty[(String, Seq[Long])]

  /** Run a (complete-mode) streaming aggregation over the static parquet
    * to completion and return the final table — turns the streaming path
    * into a batch-comparable result for tests and the correctness gate. */
  def runToCompletion(spark: SparkSession, agg: DataFrame,
      mode: String = "complete"): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    // Streaming state parallelism is pinned at first start by
    // spark.sql.shuffle.partitions — and each partition is a state store
    // with per-batch commit/checkpoint overhead. The windowed-agg state
    // here is tiny (windows × event types), so a handful of stores wins;
    // on a real cluster ingesting at volume this would stay at the
    // session default instead.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
        val emitted = q.recentProgress.toSeq
          .map(p => Option(p.sink).map(_.numOutputRows).getOrElse(-1L))
        emissionLog.synchronized {
          emissionLog += ((name, emitted))
          // bounded ring: instrumentation must not grow with session age
          if (emissionLog.size > 64)
            emissionLog.remove(0, emissionLog.size - 64)
        }
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // materialize: the memory sink table is dropped when the query stops
    val out = spark.table(name).cache()
    out.count()
    out
  }

  /** Distinct-user monitor aggregation (HLL++ per event type) — shared
    * by the complete-mode and update-mode gates so both emission modes
    * maintain the identical mergeable state. */
  def hllMonitor(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("__d"))

  /** The distinct-monitor gate tail: the streamed estimate must land
    * within 5% of the batch exact, joined AFTER stream completion. */
  private def hllVsExact(s: SparkSession, dir: String,
      approx: DataFrame): DataFrame = {
    val exact = Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("d_exact"))
    approx.join(exact, "event_type")
      .select(col("event_type"), col("d_exact"),
        (abs(col("__d") - col("d_exact")) <= lit(0.05) * col("d_exact"))
          .cast("bigint").as("within_tol"))
      .orderBy(col("event_type"))
  }

  /** Embedding-drift monitor aggregation: the ARRIVING half (odd
    * vec_id) reduced to one exact (decimal-sum / count) mean per
    * dimension — state bounded by d, not volume. Shared by the
    * complete-mode and update-mode gates. */
  def emDriftMonitor(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 2 =!= 0)
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg((sum(col("v").cast("double").cast(DecimalType(27, 12)))
        .cast("double") / count(lit(1))).as("__mb"))

  /** The embedding-drift gate tail: monitored per-dimension means
    * joined against the static historical half, decimal math in
    * lockstep with the batch em_drift. */
  private def emDriftVsHistory(s: SparkSession, dir: String,
      streamHalf: DataFrame): DataFrame = {
    val hist = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 2 === 0)
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg((sum(col("v").cast("double").cast(DecimalType(27, 12)))
        .cast("double") / count(lit(1))).as("__ma"))
    hist.join(streamHalf, "i")
      .select(col("i"), round(col("__ma"), 6).as("mean_a"),
        round(col("__mb"), 6).as("mean_b"),
        round(abs(col("__ma") - col("__mb")), 6).as("shift"))
      .orderBy(col("i"))
  }

  /** Drift-cell monitor aggregation (per (source, lang) arrival counts)
    * — shared by the complete-mode and update-mode gates. */
  def driftCellMonitor(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 =!= 0)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_b"))

  /** The drift gate tail: monitored arrival cells against the static
    * historical half, through the batch ta_drift's own ppm math.
    * Union + re-group (NOT a full-outer join): a join on the cell keys
    * would split NULL-keyed cells (NULL == NULL is never true),
    * silently diverging from the batch ta_drift's single groupBy — the
    * union groups NULL keys together exactly as batch does, and the
    * shared driftFromCells tail keeps the ppm math in lockstep. */
  private def driftVsHistory(s: SparkSession, dir: String,
      streamCells: DataFrame): DataFrame = {
    val histCells = Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_a"))
    val cells = histCells
      .select(col("source"), col("lang"), col("n_a"), lit(0L).as("n_b"))
      .unionAll(streamCells.select(col("source"), col("lang"),
        lit(0L).as("n_a"), col("n_b")))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
    graft.operators.TextAnalysis.driftFromCells(cells)
  }

  /** Fresh per-(query, sf-dir) epoch-log directory under tmp for the
    * update-mode driver gates — cleared up front so every driver run
    * starts a new checkpoint lineage legally. */
  private def updateLogDir(s: SparkSession, name: String,
      dir: String): String = {
    val tag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    val out =
      s"${System.getProperty("java.io.tmpdir")}/graft_${name}_upd_$tag"
    // clear the compaction siblings too: a crashed swap's __old
    // survivor would otherwise be "recovered" INTO the fresh lineage's
    // log at the first batch (and the recoverable-data refusal would
    // reject the fresh start outright)
    for (d <- Seq(out, out + "__old", out + "__compact")) {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    out
  }

  // --------------------------------------------------------- driver queries
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the streaming plan's final state must hash-match DuckDB running the
    // equivalent batch SQL — incremental == batch is the core invariant
    "st_window_counts" -> ((s, dir) => {
      runToCompletion(s, windowedCounts(readEvents(s, dir)))
        .orderBy(col("window_start"), col("event_type"))
    }),
    // the windowed-count monitor in UPDATE mode WITH its watermark
    // live: this is the bounded-state-over-unbounded-time production
    // shape — the watermark retires window state an hour behind event
    // time, per-trigger emission is the windows the batch touched, and
    // the epoch log's latest-wins view still reconstructs every window
    // ever emitted (retired windows keep their final emitted row). In-
    // order ingestion has no late data, so the final view must equal
    // the batch expansion — st_window_counts' oracle verbatim.
    "st_window_update" -> ((s, dir) => {
      val out = updateLogDir(s, "stw", dir)
      runUpdateMonitor(s, windowedCounts(readEvents(s, dir)), out,
        compactEvery = 2, keys = Seq("window_start", "event_type"))
      latestCells(s, out, Seq("window_start", "event_type"))
        .orderBy(col("window_start"), col("event_type"))
    }),
    // sliding 2h windows every 30min: each event counted in exactly 4
    // overlapping windows; final state must equal the batch expansion
    "st_sliding_counts" -> ((s, dir) => {
      runToCompletion(s, slidingCounts(readEvents(s, dir)))
        .orderBy(col("window_start"), col("event_type"))
    }),
    // stream-stream join run to completion (append mode: inner-join
    // matches emit as they arrive), then batch-aggregated per hour —
    // streaming == batch is the invariant the oracle checks
    // native session_window sessionization run to completion; the final
    // table must equal DuckDB's batch window-function sessionization —
    // per-user gap-based sessions with event counts and decimal-exact
    // value sums
    "st_sessions" -> ((s, dir) => {
      runToCompletion(s, sessionAgg(readEvents(s, dir)))
        .orderBy(col("user_id"), col("session_start"))
    }),
    // streaming exact dedup: the same file read as TWO streams unioned
    // (every event arrives twice), dropDuplicatesWithinWatermark keeps
    // one occurrence per event_id with state bounded by the watermark
    // horizon; the deduped stream feeds a complete-mode aggregation whose
    // final table must equal the batch aggregate over distinct events
    "st_dedup" -> ((s, dir) => {
      val doubled = readEvents(s, dir).unionAll(readEvents(s, dir))
      val deduped = doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").as("total_value"))
      runToCompletion(s, deduped, mode = "complete")
        .orderBy(col("event_type"))
    }),
    // dedup against a static history (every 3rd event_id pre-registered):
    // only unseen events survive; the final aggregate must equal the
    // batch result over events not in the history — incremental == batch
    "st_dedup_static" -> ((s, dir) => {
      val hist = Tables.load(s, dir, "events")
        .filter(col("event_id") % 3 === 0).select(col("event_id"))
      val cleaned = dedupAgainstHistory(readEvents(s, dir), hist, "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6)))
            .cast("double").as("total_value"))
      runToCompletion(s, cleaned, mode = "complete")
        .orderBy(col("event_type"))
    }),
    // streaming near-dup against the static LSH index: same corpus /
    // batch split as dd_lsh_incremental (src2 + planted 80%-prefix
    // variants probe the src0/src1 index), so the final table must
    // equal the batch probe row for row — incremental == batch for the
    // whole sign → band → confirm pipeline
    "st_lsh_dedup" -> ((s, dir) => {
      val corpus = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("doc_id"), col("text"))
      val index = graft.Checkpoints.materialize(
        graft.operators.Dedup.buildLshIndex(corpus))
      val src2 = readDocuments(s, dir).filter(col("source") === "src2")
        .select(col("doc_id"), col("text"))
      val planted = readDocuments(s, dir)
        .filter(col("source").isin("src0", "src1") &&
          col("doc_id") % 10 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("substring(text, 1, (4 * length(text)) div 5)").as("text"))
      runToCompletion(s, lshDedupStream(index, src2.unionAll(planted)))
        .orderBy(col("batch_doc"))
    }),
    // streaming face of em_drift: the ARRIVING embedding half (odd
    // vec_id) monitored dimension by dimension against the static
    // historical half. One incremental aggregation whose state is one
    // exact (decimal sum, count) pair per dimension — bounded by d, not
    // volume; the historical side is a d-row batch table joined after
    // stream completion. Output (and oracle) identical to em_drift.
    "st_em_drift" -> ((s, dir) => {
      val streamHalf = runToCompletion(s,
        emDriftMonitor(readEmbeddings(s, dir)))
      emDriftVsHistory(s, dir, streamHalf)
    }),
    // the same embedding-drift monitor in UPDATE mode: one cell per
    // dimension, per-trigger emission = dimensions the batch touched,
    // exactly-once epoch log with cadence compaction, latest-wins view
    // through the identical historical-join tail — st_em_drift's (=
    // em_drift's) oracle verbatim
    "st_em_drift_update" -> ((s, dir) => {
      val out = updateLogDir(s, "emd", dir)
      runUpdateMonitor(s, emDriftMonitor(readEmbeddings(s, dir)), out,
        compactEvery = 2, keys = Seq("i"))
      emDriftVsHistory(s, dir, latestCells(s, out, Seq("i")))
    }),
    // streaming distinct-user monitor: HLL++ is a MERGEABLE aggregate,
    // so Structured Streaming maintains it incrementally with one
    // fixed-size register set per group — the only way a distinct-ish
    // count works on an unbounded stream (exact DISTINCT aggregation
    // isn't streamable). Gate: the streamed estimate lands within 5% of
    // the batch exact, joined AFTER stream completion.
    "st_distinct_hll" -> ((s, dir) => {
      val approx = runToCompletion(s, hllMonitor(readEvents(s, dir)))
      hllVsExact(s, dir, approx)
    }),
    // the same HLL distinct monitor in UPDATE mode: approx_count_distinct
    // is mergeable, so update mode re-emits only the cells the batch
    // touched; the sink is the exactly-once epoch log with cadence
    // compaction (the log folds to one row per event_type every
    // compactEvery triggers) and the latest-wins view must pass the
    // same 5%-of-exact gate as the complete-mode run — hence the
    // oracle is st_distinct_hll's verbatim
    "st_distinct_hll_update" -> ((s, dir) => {
      val out = updateLogDir(s, "hll", dir)
      runUpdateMonitor(s, hllMonitor(readEvents(s, dir)), out,
        compactEvery = 2, keys = Seq("event_type"))
      hllVsExact(s, dir, latestCells(s, out, Seq("event_type")))
    }),
    // the text-pipeline quality gate run as a STREAM over the documents
    // parquet; final table must equal DuckDB's batch computation —
    // incremental == batch for the ingestion-path operators
    "st_quality" -> ((s, dir) => {
      runToCompletion(s, qualityMonitor(readDocuments(s, dir)))
        .orderBy(col("source"))
    }),
    // the same quality monitor in UPDATE mode: per-trigger emission is
    // the touched cells only, the sink is the exactly-once epoch log,
    // and the latest-wins view must equal the complete-mode/batch
    // result — hence the oracle is st_quality's verbatim
    "st_quality_update" -> ((s, dir) => {
      val out = updateLogDir(s, "stq", dir)
      runUpdateMonitor(s, qualityMonitor(readDocuments(s, dir)), out,
        compactEvery = 2, keys = Seq("source"))
      latestCells(s, out, Seq("source")).orderBy(col("source"))
    }),
    // streaming face of ta_drift: the ARRIVING corpus half (odd doc_ids
    // — today's dump) monitored cell by cell against the static
    // historical half. The streaming side is one complete-mode
    // aggregate whose state is one row per (source, lang) cell —
    // bounded by corpus vocabulary, not volume; the historical side is
    // a small batch cell table. Output (and oracle) are identical to
    // the batch ta_drift: incremental == batch is the invariant.
    "st_drift" -> ((s, dir) => {
      val streamCells = runToCompletion(s,
        driftCellMonitor(readDocuments(s, dir)))
      driftVsHistory(s, dir, streamCells)
    }),
    // the same drift-cell monitor in UPDATE mode: per-trigger emission
    // is the (source, lang) cells the batch touched, the sink is the
    // exactly-once epoch log with cadence compaction, and the
    // latest-wins view feeds the identical driftFromCells tail — the
    // oracle is st_drift's (= ta_drift's) verbatim
    "st_drift_update" -> ((s, dir) => {
      val out = updateLogDir(s, "std", dir)
      runUpdateMonitor(s, driftCellMonitor(readDocuments(s, dir)), out,
        compactEvery = 2, keys = Seq("source", "lang"))
      driftVsHistory(s, dir, latestCells(s, out, Seq("source", "lang")))
    }),
    // streaming ANN ingest: day-0 index built on even vec_ids (model
    // frozen there), the odd half STREAMS in and appends per batch; the
    // final probe must be row-identical to a batch rebuild of the full
    // corpus under the same model — streaming ingest == batch rebuild
    // is the invariant, same shape as the LSH incremental gate
    "st_ivfpq_ingest" -> ((s, dir) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, dir, "embeddings")
      val day0 = e.filter(col("vec_id") % 2 === 0)
      val q = e.filter(col("vec_id") < 5)
      val tag = dir.replaceAll("[^0-9a-zA-Z.]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val incDir = s"$tmp/graft_ivfpq_st_$tag"
      val refDir = s"$tmp/graft_ivfpq_stref_$tag"
      Similarity.buildIvfPqIndex(day0, incDir, dim = 64, nCells = 16,
        m = 16, codebookSize = 16)
      val ingest = ivfPqIngest(s,
        readEmbeddings(s, dir).filter(col("vec_id") % 2 =!= 0), incDir)
      try ingest.processAllAvailable() finally ingest.stop()
      Similarity.buildIvfPqIndex(e, refDir, dim = 64, nCells = 16,
        m = 16, codebookSize = 16, trainOn = Some(day0))
      val inc = Similarity.knnIvfPqIndexed(s, incDir, q, k = 10,
        nProbe = 4, refine = 150)
      val ref = Similarity.knnIvfPqIndexed(s, refDir, q, k = 10,
        nProbe = 4, refine = 150)
      inc.agg(count_distinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
        .crossJoin(inc.exceptAll(ref).agg(count(lit(1)).as("__d1")))
        .crossJoin(ref.exceptAll(inc).agg(count(lit(1)).as("__d2")))
        .select(col("n_queries"), col("n_results"),
          (col("__d1") + col("__d2") === 0).cast("bigint")
            .as("same_as_rebuild"))
    }),
    // lakehouse ingest end-to-end: stream the events table into a
    // range-clustered parquet table whose skipping manifest (interval
    // stats on the layout key + a Bloom sidecar on the high-cardinality
    // id) is maintained INSIDE each trigger — then gate a pruned range
    // read and a Bloom point lookup against plain SQL, with
    // `pruning_effective`/`bloom_effective` making a layout or manifest
    // regression a hash failure, not a silent slowdown
    "st_skip_ingest" -> ((s, dir) => {
      import graft.sources.Skipping
      val tbl = updateLogDir(s, "skipingest", dir)
      val src = readEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          (col("user_id") % 100).as("uid_bucket"))
      val q = tableIngest(s, src, tbl,
        indexCols = Seq("uid_bucket", "event_id"),
        bloomCols = Seq("event_id"),
        layoutCols = Seq("uid_bucket"), filesPerEpoch = 16)
      try q.processAllAvailable() finally q.stop()
      val range = Seq(Skipping.RangePred("uid_bucket", Some(10L), Some(19L)))
      val (kept, total) = Skipping.prunedFiles(s, tbl, range)
      val (keptB, totalB) = Skipping.prunedFiles(s, tbl,
        Seq(Skipping.EqPred("event_id", 77L)))
      Skipping.readSkipping(s, tbl, range)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          lit(kept.size * 2 <= total).as("pruning_effective"),
          lit(keptB.size * 2 <= totalB).as("bloom_effective"))
    }),
    "st_join_attribution" -> ((s, dir) => {
      runToCompletion(s, clickPurchaseJoin(s, dir), mode = "append")
        .groupBy(date_format(
          timestamp_seconds(floor(unix_timestamp(col("p_ts")) / 3600) * 3600),
          "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("p_user")).as("n_users"),
          sum(col("p_value").cast(DecimalType(18, 6))).cast("double")
            .as("total_value"))
        .orderBy(col("hour"))
    })
  )

  /** The st_quality oracle, shared verbatim by the complete-mode and
    * update-mode gates: incremental == batch regardless of emission
    * mode. */
  private val oracleSqlQuality: String =
    """WITH s AS (
        |  SELECT source,
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
        |      ELSE 'en' END AS pred,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  CAST(sum(CASE WHEN n_tokens >= 5 AND punct < 0.2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_quality,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM s GROUP BY source ORDER BY source""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // identical split, identical portable pipeline → identical oracle
    "st_lsh_dedup" -> graft.operators.Dedup.oracleSql("dd_lsh_incremental"),
    // verdict row: streamed ingest must equal the same-model batch rebuild
    "st_ivfpq_ingest" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_results,
        |  CAST(1 AS BIGINT) AS same_as_rebuild""".stripMargin,
    // the streamed table IS the events table (exactly-once appends),
    // so the pruned read must equal plain SQL over the source; the
    // effectiveness flags are pinned true
    "st_skip_ingest" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(1 AS BOOLEAN) AS pruning_effective,
        |  CAST(1 AS BOOLEAN) AS bloom_effective
        |FROM events WHERE user_id % 100 BETWEEN 10 AND 19""".stripMargin,
    // identical halves, identical decimal-exact math → identical oracle
    "st_em_drift" -> graft.operators.Similarity.oracleSql("em_drift"),
    // update-mode incremental == complete-mode == batch: same oracle
    "st_em_drift_update" -> graft.operators.Similarity.oracleSql("em_drift"),
    // exact side reproduced; the streamed-HLL tolerance flag asserted
    "st_distinct_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS d_exact,
        |  CAST(1 AS BIGINT) AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // update-mode incremental == complete-mode == batch: same oracle
    "st_distinct_hll_update" ->
      """SELECT event_type, count(DISTINCT user_id) AS d_exact,
        |  CAST(1 AS BIGINT) AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st_window_counts" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // update-mode + watermark == complete mode == batch for in-order
    // ingestion: same oracle
    "st_window_update" ->
      """SELECT strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // batch expansion of the sliding assignment: an event at second t
    // belongs to window starts (t//1800)*1800 - k*1800 for k=0..3 (size
    // 7200 / slide 1800 → 4 windows, no boundary filter needed: the
    // k-th start is at most 5400+rem < 7200 behind t)
    "st_sliding_counts" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000000000 AS sec, event_type, value
        |  FROM events),
        |w AS (
        |  SELECT (sec // 1800) * 1800 - k * 1800 AS ws, event_type, value
        |  FROM e, unnest(range(0, 4)) AS r(k))
        |SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // batch sessionization: boundary flag via lag, session id via running
    // sum, grouped. Gap math on µs-truncated timestamps (Spark's ts is
    // µs); a new session starts at diff > gap (session_window's boundary
    // is inclusive: an event at exactly ts+gap merges).
    "st_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
        |b AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (
        |  SELECT user_id, ts_us, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id,
        |  strftime(to_timestamp(min(ts_us) // 1000000),
        |           '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // each event_id counted once despite arriving on two streams
    "st_dedup" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st_dedup_static" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the incremental==batch invariant stated literally: the streaming
    // drift monitor's oracle IS the batch ta_drift oracle
    "st_drift" -> graft.operators.TextAnalysis.oracleSql("ta_drift"),
    // update-mode incremental == complete-mode == batch: same oracle
    "st_drift_update" -> graft.operators.TextAnalysis.oracleSql("ta_drift"),
    "st_quality" -> oracleSqlQuality,
    // update-mode incremental == complete-mode == batch: same oracle
    "st_quality_update" -> oracleSqlQuality,
    "st_join_attribution" ->
      """SELECT strftime(to_timestamp(floor(epoch(p.ts) / 3600) * 3600),
        |         '%Y-%m-%d %H:%M:%S') AS hour,
        |  count(*) AS n_pairs, count(DISTINCT p.user_id) AS n_users,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.user_id = p.user_id
        | AND epoch_ns(p.ts) >= epoch_ns(c.ts)
        | AND epoch_ns(p.ts) - epoch_ns(c.ts) <= 1800000000000
        |GROUP BY 1 ORDER BY hour""".stripMargin
  )
}
