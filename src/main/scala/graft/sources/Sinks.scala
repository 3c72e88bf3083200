package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side helpers: the storage layout decisions that make 100 TB
  * reads cheap.
  *
  * - `writePartitioned`: hive-style directory partitioning — readers
  *   touching a partition-pruned slice (e.g. one day) read only that
  *   directory. Use low-cardinality columns (date, source, label).
  * - `writeBucketed`: pre-shuffled, sorted buckets on a join/agg key —
  *   joins and aggregations on the bucket key skip the shuffle entirely
  *   (bucketed table metadata requires `saveAsTable`).
  * - `writeSortedParquet`: per-partition sort so min/max row-group stats
  *   make range predicates skippable at the footer level.
  * - `writeZOrdered`: Morton-interleaved clustering on TWO dimensions —
  *   a single sort key localizes BOTH columns per file/row-group, so
  *   min/max stats skip data for predicates on either or both (the
  *   multi-dimensional layout Delta/Iceberg expose as OPTIMIZE ZORDER,
  *   here as plain Spark: a codegen'd bit-interleave expression plus a
  *   range repartition + sort before write).
  */
object Sinks {

  /** Morton (Z-order) code: interleave the low `bits` bits of two
    * non-negative ints — bit i of `a` lands at position 2i+1, of `b` at
    * 2i, so Z-curve locality holds in both dimensions. Pure built-in
    * bit ops → whole-stage codegen. Caller maps values into [0, 2^bits)
    * first (rank, scale, or truncate). */
  def mortonCode(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Z-order-clustered parquet: range-partition and sort by the Morton
    * code of (ca, cb) so every output file covers a small box in BOTH
    * dimensions — a 2-D box predicate then touches few files' row
    * groups instead of a full-dimension stripe. `nFiles` bounds output
    * file count (at scale: pick from target file size). */
  def writeZOrdered(df: DataFrame, path: String, ca: String, cb: String,
      nFiles: Int, bits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("__z", mortonCode(col(ca), col(cb), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  def writeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .write.mode(mode).parquet(path)

  /** EXACTLY-ONCE epoch append of a micro-batch into a parquet
    * directory — the foreachBatch sink-idempotence contract. Plain
    * `mode("append")` is at-least-once: a failed-then-replayed epoch
    * double-appends. Here the batch is staged into a dot-prefixed
    * subdirectory (invisible to Spark readers), any files a prior
    * attempt of the SAME epoch moved in are deleted, and the staged
    * files are renamed in under `epoch-<id>-` names — replays converge
    * on exactly one copy. A crash mid-move leaves a partial epoch, but
    * the streaming checkpoint has not committed that batch, so restart
    * replays and repairs it.
    *
    * Epoch ids are scoped to ONE checkpoint lineage: re-attaching a
    * stream with a FRESH checkpoint to an existing directory restarts
    * batch ids at 0, and epoch 0's replay-repair would delete the old
    * stream's epoch-0 files. Run [[compactParquet]] first — compaction
    * renames everything to plain part files, which no future epoch
    * touches. */
  /** Returns the epoch's file DELTA, root-relative to `dir`: the files
    * moved in — with the `(bytes, mtime)` identity captured at rename
    * time, the exact key the skipping manifest needs — and the names a
    * replay repair deleted. The OWNER-path manifest maintenance
    * ([[graft.sources.Skipping.refreshManifestDelta]]) consumes this so
    * a per-trigger refresh never lists the accumulated table. Callers
    * that don't maintain a manifest simply ignore the value. */
  def appendEpoch(df: DataFrame, dir: String, epochId: Long,
      partitionCols: Seq[String] = Nil)
      : (Seq[(String, Long, Long)], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val staging = s"$dir/.epoch-$epochId"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val addedB = Seq.newBuilder[(String, Long, Long)]
    val removedB = Seq.newBuilder[String]
    def relOf(rel: String, name: String): String =
      if (rel.isEmpty) name else s"$rel/$name"
    // Replay repair happens BY NAME, per destination directory the
    // staged epoch touches — NOT by listing the destination (a listing
    // of the accumulated table per batch is exactly the O(total)
    // object-store cost class per-trigger maintenance must avoid).
    // Sound because foreachBatch replays the same batch data and the
    // write is deterministic, so a replay stages the same file count
    // into the same partition set as the failed attempt: the prior
    // attempt's files are `epoch-<id>-0..k-1` right here, and one probe
    // past the end catches the should-be-impossible longer prior
    // attempt (renames are sequential, so prior names are a contiguous
    // prefix).
    def moveFiles(from: Path, to: Path, rel: String): Unit = {
      fs.mkdirs(to)
      val staged = fs.listStatus(from) // the staging dir: O(delta)
      val parts = staged.filter(f =>
        !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
      var k = 0
      var more = true
      while (more) {
        val old = new Path(to, s"epoch-$epochId-$k.parquet")
        if (k < parts.length) {
          // blind delete: one RPC whether or not a prior attempt left
          // the name (absent-key deletes are cheap no-ops everywhere)
          if (fs.delete(old, false)) removedB += relOf(rel, old.getName)
          k += 1
        } else if (fs.exists(old)) {
          if (fs.delete(old, false)) removedB += relOf(rel, old.getName)
          k += 1
        } else more = false
      }
      var i = 0
      for (f <- parts) {
        val dest = new Path(to, s"epoch-$epochId-$i.parquet")
        // Hadoop reports most rename failures as `false`, not an
        // exception — swallowing it would commit an epoch with
        // silently missing rows. Throw so the batch fails and replays.
        if (!fs.rename(f.getPath, dest))
          throw new IllegalStateException(
            s"appendEpoch: rename ${f.getPath} -> $dest failed")
        val st = fs.getFileStatus(dest)
        addedB += ((relOf(rel, dest.getName), st.getLen,
          st.getModificationTime))
        i += 1
      }
      for (d <- staged if d.isDirectory)
        moveFiles(d.getPath, new Path(to, d.getPath.getName),
          relOf(rel, d.getPath.getName))
    }
    moveFiles(new Path(staging), dirPath, "")
    fs.delete(new Path(staging), true)
    (addedB.result(), removedB.result())
  }

  /** Compact a parquet directory in place: streaming/incremental appends
    * leave one small file per (batch × partition) — the classic
    * small-files pathology that turns a 100 TB index scan into millions
    * of opens. Reads the directory, rewrites it with one file per
    * hive partition (or `nFiles` total when unpartitioned) into a
    * staging sibling, then swaps directories. Row content is preserved
    * exactly (the IVF-PQ compaction gate asserts probe equality).
    *
    * The swap is two renames, not atomic as a unit: a reader racing the
    * swap can see the index briefly missing. Run compaction in the same
    * maintenance window that owns appends (the ingest job is the
    * natural owner); object-store deployments would publish a new
    * versioned prefix instead — this helper keeps the single-directory
    * contract the rest of the index code uses. */
  /** `excludeEpoch`: files of that [[appendEpoch]] epoch are DROPPED
    * from the rewrite rather than folded into plain part files. Used
    * when compaction runs inside the foreachBatch of epoch e (the
    * ingest-cadence shape): a crashed prior attempt of e may have
    * left `epoch-e-*` files, and folding them would hide them from the
    * replay repair — dropping them is safe because the current batch
    * re-appends epoch e in full right after.
    *
    * `fold`: applied to the surviving rows before the rewrite — the
    * hook for logs whose compacted form is a REDUCTION of the appends
    * rather than their concatenation (the update-monitor epoch log
    * folds to its latest-wins rows: the compacted file IS the current
    * state). Identity for plain index compaction.
    *
    * `writeStaged`: replaces the default coalesce/partitionBy write of
    * the staging directory — the hook for rewrites that change LAYOUT,
    * not content (Z-order clustering via [[Skipping.optimize]]). The
    * swap/recovery machinery is identical either way. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCols: Seq[String] = Nil, nFiles: Int = 1,
      excludeEpoch: Option[Long] = None,
      fold: DataFrame => DataFrame = identity,
      writeStaged: Option[(DataFrame, String) => Unit] = None): Unit =
    withTableMaintenance(spark, path, "compact") {
    val p = new org.apache.hadoop.fs.Path(path)
    val staged = path + "__compact"
    val ps = new org.apache.hadoop.fs.Path(staged)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // self-heal a prior crashed swap before reading — the shared helper
    // also covers the live-dir-present-with-only-hidden-debris shape an
    // inline `!fs.exists` test would miss
    recoverCompactSwap(spark, path)
    // A crash AFTER the staged write but BEFORE the swap leaves `staged`
    // fully populated on disk (recoverCompactSwap only restores `__old`).
    // Clear it up front so the rewrite below never trips over the debris:
    // the default writes use SaveMode.Overwrite, but a caller-supplied
    // `writeStaged` closure may not — and a closure that throws
    // "path already exists" on every replay wedges its stream permanently.
    if (fs.exists(ps)) fs.delete(ps, true)
    val df0 = Tables.readParquet(spark, path)
    val df = fold(excludeEpoch match {
      case Some(e) => df0.filter(!input_file_name().contains(s"epoch-$e-"))
      case None => df0
    })
    writeStaged match {
      case Some(w) => w(df, staged)
      case None if partitionCols.nonEmpty =>
        df.repartition(partitionCols.map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCols: _*).parquet(staged)
      case None =>
        df.coalesce(nFiles).write.mode(SaveMode.Overwrite).parquet(staged)
    }
    // Re-point the directory via rename-aside, not delete-then-rename:
    // a crash at ANY point leaves a recoverable directory on disk
    // (either the original at `path`/`path__old` or the compacted copy
    // at `path__compact`), never a window where the data exists only
    // under an undocumented sibling after the original is gone.
    if (fs.exists(old)) fs.delete(old, true) // stale debris from a prior crash
    if (!fs.rename(p, old))
      throw new IllegalStateException(
        s"compactParquet: could not move $path aside to $old; " +
        s"original intact, compacted copy staged at $staged")
    if (!fs.rename(ps, p))
      throw new IllegalStateException(
        s"compactParquet: could not move $staged into $path; " +
        s"original preserved at $old, compacted copy at $staged — " +
        s"rename $old back to $path to recover")
    fs.delete(old, true)
    // the swap just carried the lease FILE away with the old directory
    // — re-establish the holder's lease immediately, not at the next
    // heartbeat, or the table sits unfenced for up to TTL/3
    renewHeldLease(spark, path)
  }

  /** Re-write whatever lease THIS JVM holds on `dir` (no-op when none)
    * — called after directory swaps that carry the lease file away. */
  private def renewHeldLease(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Option(heldLeases.get(leaseKey(spark, dir))).foreach {
      case (token, nonce) => renewIngestLease(spark, dir, token, nonce)
    }

  /** True iff `dir` exists AND holds at least one non-hidden entry —
    * i.e. a Spark `read.parquet(dir)` would actually see data. A
    * directory containing only dot/underscore-prefixed debris (a
    * crashed [[appendEpoch]] staging dir, a bare `_SUCCESS`) reads as
    * ABSENT: incremental consumers use this to decide "first epoch,
    * nothing to read yet" without wedging on schema inference. */
  def hasVisibleData(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same rule as Spark's file listing: dot/underscore prefixes are
    // hidden EXCEPT names containing '=' — hive partition directories
    // like `__cell=3` are data, not metadata
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      (!n.startsWith(".") && !n.startsWith("_")) || n.contains("=")
    }
  }

  /** True iff `dir` (recursively) holds any [[appendEpoch]]-tagged
    * file. Epoch ids are scoped to one checkpoint lineage, so a stream
    * re-attaching with a FRESH checkpoint to a directory that still
    * carries epoch tags would clobber them — the streams use this to
    * refuse that shape loudly ([[compactParquet]] neutralizes the tags:
    * compacted files are plain part files no future epoch touches). */
  def hasEpochFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) false
    else {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.startsWith("epoch-")
      found
    }
  }

  /** True iff `dir` OR its crashed-compaction survivor (`dir__old`)
    * holds visible data. The survivor IS the artifact —
    * [[recoverCompactSwap]] restores it on the next batch — so a
    * consumer deciding "does existing state live here" must count it:
    * checking only the live dir would let a FRESH checkpoint lineage
    * start over an empty-looking directory and then have a previous
    * lineage's data restored underneath it, corrupting epoch ordering. */
  def hasRecoverableData(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean =
    hasVisibleData(spark, dir) || hasVisibleData(spark, dir + "__old")

  /** [[hasEpochFiles]], survivor-aware — same rationale as
    * [[hasRecoverableData]]. */
  def hasRecoverableEpochFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean =
    hasEpochFiles(spark, dir) || hasEpochFiles(spark, dir + "__old")

  // ------------------------------------------------- ingest lease
  // A heartbeat lease the streaming table ingest holds while live, so a
  // CONCURRENT external rewrite (OPTIMIZE) fails loudly instead of
  // racing the stream's epoch-replay repair through the staged swap.
  // This is a loud-failure aid on the single-writer contract, not a
  // distributed lock: the owner renews it every trigger (one tiny
  // overwrite RPC), readers treat it as live within a TTL, and a
  // crashed stream's lease simply expires — no cleanup protocol.

  /** Underscore-prefixed: invisible to data listings, travels with the
    * directory through compaction swaps. */
  val IngestLeaseFile = "_graft_ingest_lease"

  /** Default 10 min — several trigger intervals of headroom. Override
    * with `-Dgraft.ingest.leaseTtlMs=n`. */
  def ingestLeaseTtlMs: Long =
    sys.props.get("graft.ingest.leaseTtlMs").map(_.toLong)
      .getOrElse(10L * 60 * 1000)

  private def leasePath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, IngestLeaseFile)

  /** The (token, ageMs) of a LIVE lease on `dir`, if one exists within
    * the TTL. Staleness is judged from TWO clocks and the lease is live
    * if EITHER says fresh — refusal is the safe direction: the file's
    * filesystem modification time (server-assigned on object stores)
    * AND the renewing driver's own timestamp written into the lease
    * body. Driver/server clock skew can therefore only make a dead
    * lease linger toward the TTL, never make a LIVE writer's lease read
    * as expired (the direction that would let OPTIMIZE race a live
    * stream). An unreadable-but-fresh lease file reports token "?" —
    * refusal again. A listing failure reports None (degrades to the
    * pre-lease contract). */
  def liveIngestLease(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(String, Long)] =
    try {
      val lp = leasePath(dir)
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(lp)) None
      else {
        val now = System.currentTimeMillis()
        val mtimeAge = now - fs.getFileStatus(lp).getModificationTime
        val body =
          try {
            val in = fs.open(lp)
            try Some(new String(
              org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
            finally in.close()
          } catch { case _: Exception => None }
        val token = body.flatMap(_.linesIterator.nextOption()).getOrElse("?")
        val bodyAge = body.flatMap(_.linesIterator.toSeq.lift(1))
          .flatMap(_.toLongOption).map(ts => now - ts)
        val age = math.min(mtimeAge, bodyAge.getOrElse(mtimeAge))
        if (age >= ingestLeaseTtlMs) None else Some((token, age))
      }
    } catch { case _: Exception => None }

  /** Write/refresh the lease as `token` (body lines: token, the
    * renewing driver's timestamp — see [[liveIngestLease]] — and the
    * owning RUN's nonce — see [[releaseIngestLease]]). One
    * overwrite-create RPC; parents are created as needed (first
    * trigger may run before the table directory exists). */
  def renewIngestLease(spark: org.apache.spark.sql.SparkSession,
      dir: String, token: String, runNonce: String = ""): Unit =
    try {
      val lp = leasePath(dir)
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(lp, true)
      try out.write(
        s"$token\n${System.currentTimeMillis()}\n$runNonce"
          .getBytes("UTF-8"))
      finally out.close()
    } catch { case _: Exception => () } // heartbeat loss must not fail a batch

  /** Delete the lease iff it still carries THIS RUN's nonce — called by
    * the owning stream's heartbeat when it observes the query has
    * stopped, so a GRACEFULLY stopped stream frees the table
    * immediately instead of making OPTIMIZE wait out the TTL (the
    * error message says "stop the stream and retry" — that has to
    * actually work). The nonce, not the token, gates the delete: the
    * token is the checkpoint lineage, which a RESTARTED stream shares —
    * a token-only guard would let the old run's dying heartbeat delete
    * its successor's live lease and reopen the OPTIMIZE race for a
    * renewal interval. A lease with a different or missing nonce is
    * left alone (it expires via TTL if truly orphaned). Failures are
    * swallowed: an undeleted lease just expires.
    *
    * The conditional delete is RENAME-FENCED (closes the r15/r16
    * check-then-delete race): the Hadoop FS API has no compare-and-
    * delete, but rename IS atomic, so the release first renames the
    * lease aside to a releaser-unique claim name, inspects the CLAIMED
    * copy (which no renewal can touch — [[renewIngestLease]] only ever
    * overwrite-creates the canonical lease path), and then either
    * deletes it (it was this run's) or renames it back (a successor
    * renewed first — its live lease is RESTORED instead of being lost
    * for up to a renewal interval). If the successor re-created the
    * lease while it was claimed, the restore rename fails against the
    * fresh file — the claim is dropped only after CONFIRMING a fresh
    * lease is actually present (a restore rename can also fail for
    * transient FS reasons, and deleting the claim then would destroy
    * the only live copy of a successor's lease; when no fresh lease is
    * confirmed the claim is left in place — the next release attempt's
    * crashed-prior-claim sweep retries the restore). A releaser that
    * finds the lease ABSENT retries once after a short pause: another
    * run's releaser may be holding it claimed aside at this instant,
    * and without the retry this run's legitimate release would no-op,
    * the other releaser would restore the stale lease, and the table
    * would stay locked until TTL expiry. Residual: a crash between
    * claim and restore leaves the lease absent until the successor's
    * next renew (≤ TTL/3) — crash-only, vs the old any-release race. */
  def releaseIngestLease(spark: org.apache.spark.sql.SparkSession,
      dir: String, token: String, runNonce: String): Unit =
    try {
      val lp = leasePath(dir)
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // underscore-prefixed like the lease itself: invisible to data
      // listings; suffixed with this run's nonce hash so concurrent
      // releasers never collide on the claim name
      val claim = new org.apache.hadoop.fs.Path(lp.getParent,
        s"${IngestLeaseFile}.releasing-${Integer.toHexString(
          (token + " " + runNonce).hashCode)}")
      var attempt = 0
      var done = false
      while (!done && attempt < 2) {
        attempt += 1
        if (fs.exists(claim)) {
          // crashed prior claim from THIS (token, nonce): put it back
          // BEFORE the lease-existence check (the claim may be the only
          // live copy of a lease — restoring first also recovers the
          // lease-absent crash state); if the lease was re-created
          // meanwhile the restore fails and the stale copy is safe to
          // drop — but ONLY once a fresh lease is CONFIRMED present
          // (the same guard as the inspection branch below): a
          // transient rename failure with the lease absent must keep
          // the claim, which may be the only live copy of a
          // successor's lease, for the next attempt's retry
          if (!fs.rename(claim, lp) && fs.exists(lp))
            fs.delete(claim, false)
        }
        if (fs.exists(lp)) {
          done = true
          if (fs.rename(lp, claim)) {
            val lines =
              try {
                val in = fs.open(claim)
                try new String(org.apache.commons.io.IOUtils.toByteArray(in),
                  "UTF-8").linesIterator.toSeq
                finally in.close()
              } catch { case _: Exception => Seq.empty[String] }
            if (lines.headOption.contains(token) &&
                runNonce.nonEmpty && lines.lift(2).contains(runNonce))
              fs.delete(claim, false) // this run's lease: released
            else if (!fs.rename(claim, lp)) {
              // restore failed: EITHER a successor re-created the lease
              // (claim is stale, drop it) OR the FS hiccuped (claim is
              // the only live copy — keep it; the sweep above retries
              // the restore on the next release attempt)
              if (fs.exists(lp)) fs.delete(claim, false)
            }
          }
        } else if (attempt == 1 &&
            fs.listStatus(lp.getParent).exists(st =>
              st.getPath.getName.startsWith(
                s"$IngestLeaseFile.releasing-") &&
              st.getPath.getName != claim.getName)) {
          // lease absent but another releaser's claim exists: it may be
          // mid-inspection and about to restore — wait briefly and retry
          Thread.sleep(50)
        } else done = true
      }
      heldLeases.remove(leaseKey(spark, dir), (token, runNonce))
    } catch { case _: Exception => () }

  /** Take the lease at stream start: a LIVE lease under a DIFFERENT
    * token means another writer owns the table right now — refuse
    * loudly (the same token re-acquires: a crash-restart of the same
    * checkpoint lineage within the TTL is the owner coming back, and
    * its fresh `runNonce` fences out the previous run's release). */
  def acquireIngestLease(spark: org.apache.spark.sql.SparkSession,
      dir: String, token: String, runNonce: String = ""): Unit = {
    liveIngestLease(spark, dir).foreach { case (t, age) =>
      if (t != token)
        throw new IllegalStateException(
          s"acquireIngestLease: $dir is held by another live writer " +
          s"(token '$t', ${age / 1000}s old, ttl " +
          s"${ingestLeaseTtlMs / 1000}s) — two concurrent writers on " +
          "one table would corrupt the epoch lineage; stop the other " +
          "stream / let the other maintenance finish, or wait for its " +
          "lease to expire")
    }
    renewIngestLease(spark, dir, token, runNonce)
    heldLeases.put(leaseKey(spark, dir), (token, runNonce))
  }

  /** Leases THIS JVM currently holds (registered by
    * [[acquireIngestLease]], dropped by [[releaseIngestLease]] under
    * the same (token, nonce)), keyed by qualified table path. This is
    * what lets a lease-holding writer's own maintenance calls
    * ([[withTableMaintenance]]) recognize the lease as theirs instead
    * of refusing against it — "this JVM's view" is authoritative
    * because the lease itself guarantees a single writer. */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Canonical lease-registry / maintenance-lock key for `dir`:
    * filesystem-qualified so `optimize("/t")` and a stream started on
    * `"file:/t"` agree. Pure client-side resolution — no RPC. */
  private def leaseKey(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    } catch { case _: Exception => dir }

  /** True iff this JVM holds a live-registered lease on `dir` — the
    * owner fast-path test for [[withTableMaintenance]]. */
  def jvmHoldsLease(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = heldLeases.containsKey(leaseKey(spark, dir))

  /** Per-table maintenance locks: serialize same-JVM maintainers (two
    * threads of one JVM interleaving a staged swap is the same
    * corruption as two JVMs). ReentrantLock so nested maintenance
    * frames (optimize → compactParquet → writeManifest → fold) pass
    * straight through. One lock object per table path ever maintained
    * by this JVM — the same driver-memory class as the planning
    * caches. */
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()

  /** Run `body` as the table's exclusive writer. The WRITER-RACE FENCE
    * for batch maintenance (OPTIMIZE / manifest refresh / fold /
    * rebuild / compaction):
    *
    *  - Same JVM: a per-table [[ReentrantLock]] serializes concurrent
    *    maintainers outright (reentrant, so nested frames of one
    *    operation run inline).
    *  - This JVM already holds the table's ingest lease (a live
    *    [[graft.streaming.Streams.tableIngest]] calling its own cadence
    *    maintenance, or an enclosing maintenance frame): run directly —
    *    the existing lease is the fence, and releasing it here would
    *    unseat the owner.
    *  - Otherwise: acquire the SAME lease the streaming ingest uses
    *    under a fresh `maintenance:` token + run nonce — a live foreign
    *    lease (stream or another JVM's maintenance) refuses loudly via
    *    [[acquireIngestLease]] — heartbeat it at TTL/3 for the
    *    operation's duration (a table rewrite can outlive the 10 min
    *    TTL), and release on exit so the table frees immediately.
    *
    * Like the ingest lease itself this is a loud-failure aid on the
    * single-writer contract, not a distributed lock — the check-then-
    * write acquire has the same tiny race the stream path has, and
    * [[graft.sources.Skipping.foldManifest]]'s duplicate-(file,seq)
    * detection is the backstop that repairs a collision that slips
    * through. */
  def withTableMaintenance[T](spark: org.apache.spark.sql.SparkSession,
      dir: String, what: String)(body: => T): T = {
    val key = leaseKey(spark, dir)
    val lock = maintenanceLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try {
      if (heldLeases.containsKey(key)) body
      else {
        val token = s"maintenance:$what:" +
          java.util.UUID.randomUUID().toString
        val nonce = java.util.UUID.randomUUID().toString
        acquireIngestLease(spark, dir, token, nonce)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val hb = new Thread(() => {
          try {
            val renewEvery = math.max(1000L, ingestLeaseTtlMs / 3)
            var lastRenew = System.currentTimeMillis()
            while (!stop.get()) {
              Thread.sleep(1000L)
              val now = System.currentTimeMillis()
              if (!stop.get() && now - lastRenew >= renewEvery) {
                renewIngestLease(spark, dir, token, nonce)
                lastRenew = now
              }
            }
          } catch { case _: InterruptedException => () }
        })
        hb.setDaemon(true)
        hb.setName(s"graft-maintenance-lease-${dir.hashCode}")
        hb.start()
        try body
        finally {
          stop.set(true)
          hb.interrupt()
          releaseIngestLease(spark, dir, token, nonce)
        }
      }
    } finally lock.unlock()
  }

  /** Self-heal a [[compactParquet]] swap that crashed between its two
    * renames: the live dir holds no visible data but the rename-aside
    * survivor (`dir__old`) does — restore it. Idempotent; returns true
    * when a recovery happened. Incremental consumers call this BEFORE
    * interpreting "no visible data" as "first epoch": without it the
    * whole accumulated index would sit orphaned in `__old` while the
    * stream restarts from scratch. */
  def recoverCompactSwap(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hasVisibleData(spark, dir) || !fs.exists(old)) false
    else {
      // the live dir may exist holding only staging debris — clear it
      // so the survivor can take its place
      if (fs.exists(p)) fs.delete(p, true)
      if (!fs.rename(old, p))
        throw new IllegalStateException(
          s"recoverCompactSwap: could not restore $old to $dir")
      true
    }
  }
}
