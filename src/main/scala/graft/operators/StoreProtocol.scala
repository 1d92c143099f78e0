package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem protocol for the three persisted stores — the
  * postings index in [[Search]], the IVF and the IVF-PQ indexes in
  * [[Similarity]]: one staged-append entry ([[append]], with
  * [[commitSteps]] and [[repairStaged]]) that is CRASH-RETRY-SAFE, and
  * the one preserve-aside directory swap ([[swapSteps]] /
  * [[repairSwap]]) that every store, table and export replaces a live
  * copy with — all but the IVF per-cell delete, whose absent staging
  * cell means "drop".
  *
  * The problem every append shares: a bare parquet `Append` re-run
  * after a crash duplicates the delta's rows (double tf/df in the
  * postings → silently wrong BM25; double vectors in the IVF cells),
  * and nothing detects the half-applied state. The protocol here is
  * the classic staged-commit:
  *
  *   1. the delta lands under `_staging/<batchId>/` (underscore
  *      prefix → invisible to every parquet read of the store);
  *   2. its data files are RENAMED into the live relation dirs with a
  *      `b<batchId>-` name prefix (renames, never copies — and the
  *      prefix makes every moved file attributable to its batch);
  *   3. a `_commits/<batchId>` marker seals the batch;
  *   4. the staging dir is dropped.
  *
  * Idempotence: a re-run of a COMMITTED batch sees the marker and
  * no-ops (exactly-once for Structured Streaming's stable batch ids).
  * A re-run after a crash finds the staging dir WITHOUT a marker,
  * deletes every live file carrying that batch's prefix (undoing the
  * half-applied move), restores any derived state (the postings store
  * recomputes its stats row — a pure function of the data), and
  * re-applies the batch from scratch. Batch ids therefore must not
  * contain `-` (the prefix terminator) or path separators —
  * [[requireBatchId]] pins the alphabet.
  *
  * Each store has ONE entry repair, run by every one of its
  * maintenance entries (append, delete, compact, rebuild): debris one
  * op leaves is then repaired before a DIFFERENT op runs over it, not
  * only by the crashed op's own retry.
  *
  * All paths go through the filesystem OWNING the store path — never
  * the default FS (the Compact.scala / FilePattern.scala rule: a
  * store on s3a:// or hdfs:// with a file:// default would otherwise
  * run the protocol against the wrong filesystem). Note the rename
  * caveat: on object stores without atomic rename (raw S3), renames
  * are copies — run maintenance against an HDFS-compatible FS or an
  * S3 committer layer, as with every rename-based Spark committer.
  */
private[graft] object StoreProtocol {

  def fsOf(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------
  // The preserve-aside swap. A rewrite lands in a staging dir (or
  // file), then: rename live aside to `<live>__old`, rename staging
  // in, drop the aside copy. Live is never deleted before its
  // replacement is in place, so a crash between the two renames
  // leaves the old copy under its aside name; `repairSwap` puts it
  // back. Callers repair BEFORE they read live — a reader that took
  // the missing live copy for "no table yet" would rebuild from
  // nothing, and the next swap's repair would then drop the only
  // copy of the old data as a completed swap's leftover.
  // ---------------------------------------------------------------

  /** The path a swap sets `live` aside to while its replacement moves in. */
  def aside(live: Path): Path = live.suffix("__old")

  /** The copy of `live` a reader can use mid-crash: its aside copy
    * while a torn swap has set it aside, else `live` itself — how a
    * health report stays readable in exactly the state it exists to
    * surface. */
  def readable(fs: FileSystem, live: Path): Path =
    if (!fs.exists(live) && fs.exists(aside(live))) aside(live) else live

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"swap: rename $src -> $dst failed")

  /** Roll a torn swap back to a readable state: live missing with its
    * aside copy present means a crash hit between the two renames —
    * restore the aside copy (every caller recomputes its rewrite from
    * data, so rolling back only defers it); an aside copy next to a
    * live one is a completed swap's leftover — drop it. A rename that
    * returns false throws. */
  def repairSwap(fs: FileSystem, live: Path): Unit = {
    val old = aside(live)
    if (fs.exists(old)) {
      if (fs.exists(live)) { fs.delete(old, true); () }
      else rename(fs, old, live)
    }
  }

  /** The swap of `staging` into `live` as named steps (`<name>-aside`,
    * `<name>-swap-in`, `<name>-drop-old`), so crash specs can kill it
    * at every boundary. The aside step runs [[repairSwap]] first, so
    * a swap never sets aside over the only copy of a torn prior one. */
  def swapSteps(fs: FileSystem, live: Path, staging: Path,
                name: String): Seq[(String, () => Unit)] = {
    val old = aside(live)
    Seq(
      s"$name-aside" -> { () =>
        repairSwap(fs, live)
        if (fs.exists(live)) rename(fs, live, old)
      },
      s"$name-swap-in" -> { () =>
        if (!fs.rename(staging, live)) {
          repairSwap(fs, live) // put the old copy back before failing
          throw new java.io.IOException(s"swap: rename $staging -> $live failed")
        }
      },
      s"$name-drop-old" -> { () => fs.delete(old, true); () },
    )
  }

  /** All of [[swapSteps]] in one call. */
  def swap(fs: FileSystem, live: Path, staging: Path): Unit =
    swapSteps(fs, live, staging, live.getName).foreach(_._2())

  /** `-` terminates the file prefix (`b<batchId>-`), so a batch id
    * containing it could alias another batch's files; bare `.`/`..`
    * are path components — `_staging/..` resolves to the STORE ROOT,
    * and the replay branch's staging cleanup would recursively delete
    * the whole store; a LEADING `.`/`_` would make the marker
    * invisible to (or collide with the `.crc` sidecars of) the
    * pruning filter below. */
  private def requireBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z0-9][A-Za-z0-9._]*"),
      s"batch id must match [A-Za-z0-9][A-Za-z0-9._]* (got '$batchId')")

  /** Retention slack: markers within this window of the newest are
    * kept, so filesystem mtime granularity, small clock steps, and
    * rapid batches can never prune the genuinely-redeliverable batch's
    * marker (whose loss would turn its redelivery into a silent
    * double-apply — the exact failure markers exist to prevent). */
  val markerRetentionMs: Long = 60L * 60 * 1000

  /** Drop every commit marker older than the newest by more than
    * [[markerRetentionMs]] — called from maintenance entries
    * (append / delete / compact) so the marker set stays bounded over
    * months of streaming (one marker per micro-batch otherwise
    * accumulates forever and every listing / content summary pays for
    * it). Only batches not yet folded into the stream checkpoint can
    * be redelivered — the newest, by the per-batch-checkpoint
    * contract — and everything within the slack of it survives.
    * Every marker's evidence is FOLDED into the durable `_applied`
    * ledger before anything is pruned (see [[foldMarkersIntoLedger]]):
    * replay protection for batch ids older than the slack therefore
    * survives both the pruning and any later compaction that rewrites
    * the prefixed live files — a re-used old id fails loudly at the
    * [[wasApplied]] entry guard, never silently applies twice. */
  def pruneCommitMarkers(fs: FileSystem, path: String): Unit = {
    foldMarkersIntoLedger(fs, path)
    val markers = listMarkers(fs, path)
    if (markers.length > 1) {
      val newest = markers.map(_.getModificationTime).max
      markers.filter(_.getModificationTime < newest - markerRetentionMs)
        .foreach(m => fs.delete(m.getPath, false))
    }
  }

  /** Only real markers: a ChecksumFileSystem writes .<name>.crc
    * sidecars whose mtimes must neither count as "newest" nor be
    * deleted out from under their marker (fs.delete of the marker
    * drops its crc itself); [[requireBatchId]] pins the first char
    * alphanumeric, so the filter cannot hide a real batch. */
  private def listMarkers(fs: FileSystem, path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(s"$path/_commits")
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
  }

  // ---------------------------------------------------------------
  // The `_applied` ledger: durable replay protection that outlives
  // marker pruning AND compaction. Markers are pruned by retention
  // slack, and maintenance rewrites (postings compact, IVF cell
  // rewrites) fold the `b<batchId>-` prefixed files into unprefixed
  // ones — after both, a redelivered old batch (e.g. a reset stream
  // checkpoint restarting at id 0) used to find neither marker nor
  // prefixed files and silently applied TWICE. The ledger is a tiny
  // root-level file persisting what the markers proved before they
  // were pruned: the HIGH-WATER numeric batch id (streaming ids are
  // monotone longs — one integer covers the unbounded stream) plus
  // the set of non-numeric ids (manual one-off appends — bounded by
  // human usage). Written ONLY from live markers, always BEFORE any
  // pruning, via a preserve-aside swap — so no crash point can lose
  // evidence that markers no longer hold.
  //
  // Contract this pins: numeric batch ids form a monotone sequence
  // (Structured Streaming's guarantee); an out-of-order numeric id is
  // indistinguishable from reuse and is rejected loudly.
  // ---------------------------------------------------------------

  private def ledgerPath(path: String) = new Path(s"$path/_applied")
  private def ledgerTmpPath(path: String) = new Path(s"$path/_applied__tmp")

  /** A batch id parsed as the streaming sequence number it is, when it
    * is one (all digits, fits a long); longer/mixed ids are tracked by
    * name in the ledger's set half. */
  private def numericId(batchId: String): Option[Long] =
    if (batchId.nonEmpty && batchId.length <= 18 && batchId.forall(_.isDigit))
      Some(batchId.toLong)
    else None

  /** Pre-r14 stream twins prefixed batch ids as `stream<N>`; stores
    * written under that format hold markers/ledger entries by that
    * name. Treat them as the numeric sequence ids they were, so the
    * high-water mark covers them after upgrade — otherwise a
    * redelivered in-flight batch N (now passed as plain "N") would
    * find no marker "N", no "bN-" files, and no ledger coverage, and
    * silently apply twice. The `stream<digits>` name space is
    * therefore reserved alongside the all-digit space. */
  private def legacyNumericId(batchId: String): Option[Long] =
    if (batchId.startsWith("stream")) numericId(batchId.stripPrefix("stream")) else None

  /** Numeric (current) or legacy-stream-format sequence number. */
  private def sequenceId(batchId: String): Option[Long] =
    numericId(batchId).orElse(legacyNumericId(batchId))

  /** All-digit ids (and the legacy `stream<N>` spelling) are the
    * stream twins' monotone sequence — [[wasApplied]] compares them
    * against a single high-water mark, so ONE manual append with a
    * large numeric id (say "900") would permanently wedge a live
    * stream whose intact checkpoint is about to deliver batch 3.
    * Manual append entry points call this to keep the numeric space
    * reserved; callers driving the protocol the way a stream does
    * (monotone ids from a checkpoint) opt out via their
    * `streamBatch` parameter. */
  private def requireManualBatchId(batchId: String): Unit =
    require(sequenceId(batchId).isEmpty,
      s"batch id '$batchId' is in the numeric id space reserved for stream batches " +
        "(the ledger's high-water rule would wedge a live stream's next batch); " +
        "use a named id like 'crawlA', or pass streamBatch = true when deliberately " +
        "driving the protocol with a stream's monotone sequence")

  /** (high-water numeric id, non-numeric applied ids) — (-1, empty)
    * when no ledger exists. Falls back to the preserved `__old` copy
    * of a torn swap (markers are only pruned AFTER a completed fold,
    * so the stale copy plus the still-live markers covers every id).
    * A ledger file that EXISTS but cannot be parsed throws — the
    * protocol's swap writes make a half-written live ledger
    * impossible, so unparseable means external corruption, and
    * silently reading it as "no history" would drop replay protection
    * (the requireSameReplay truncated-marker rule). */
  private[graft] def readLedger(fs: FileSystem, path: String): (Long, Set[String]) = {
    def readAt(p: Path): Option[(Long, Set[String])] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        val lines = txt.split("\n").filter(_.nonEmpty)
        val parsed = scala.util.Try((lines.head.toLong, lines.tail.toSet))
        if (parsed.isFailure)
          throw new java.io.IOException(s"applied-batch ledger $p is corrupt — cannot " +
            "read replay history; restore it (or rebuild the store) before appending")
        parsed.toOption
      }
    readAt(ledgerPath(path)).orElse(readAt(aside(ledgerPath(path))))
      .getOrElse((-1L, Set.empty[String]))
  }

  /** Persist every live marker's batch id into the ledger (idempotent;
    * skips the write when nothing is new). Runs at the top of
    * [[pruneCommitMarkers]] — the invariant is "no marker is ever
    * pruned whose id the ledger does not hold". The write is the
    * preserve-aside [[swap]] of a tmp file, with any torn prior swap
    * repaired first, so a crash at any point leaves a readable ledger
    * whose union with the (unpruned) markers still covers every
    * applied id. */
  def foldMarkersIntoLedger(fs: FileSystem, path: String): Unit = {
    val names = listMarkers(fs, path).map(_.getPath.getName)
    val live = ledgerPath(path)
    repairSwap(fs, live)
    fs.delete(ledgerTmpPath(path), false)
    if (names.isEmpty && !fs.exists(live)) return
    val (hw, ids) = readLedger(fs, path)
    // fold legacy `stream<N>` evidence (marker names AND by-name set
    // entries written by a pre-upgrade ledger) into the high-water
    // mark, migrating the set entries out — see legacyNumericId
    val newHw = (Seq(hw) ++ names.toSeq.flatMap(sequenceId) ++
      ids.toSeq.flatMap(legacyNumericId)).max
    val newIds = (ids ++ names.filter(n => sequenceId(n).isEmpty))
      .filter(n => legacyNumericId(n).isEmpty)
    if (newHw == hw && newIds == ids && fs.exists(live)) return
    if (newHw == -1L && newIds.isEmpty) return
    val out = fs.create(ledgerTmpPath(path), true)
    try out.write((newHw.toString +: newIds.toSeq.sorted).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    swap(fs, live, ledgerTmpPath(path))
  }

  /** True when the ledger proves `batchId` was committed before — the
    * append-entry guard that stays loud AFTER marker pruning and
    * compaction (the live-marker replay no-op runs first, so this only
    * ever sees ids whose marker is gone). Numeric ids compare against
    * the high-water mark (monotone-sequence contract); others against
    * the recorded set. */
  def wasApplied(fs: FileSystem, path: String, batchId: String): Boolean = {
    val (hw, ids) = readLedger(fs, path)
    sequenceId(batchId).exists(_ <= hw) || ids.contains(batchId)
  }

  /** Drop the ledger (with its swap debris) — a REBUILD defines a
    * fresh store: replay protection resets with the rest of the
    * maintenance state (`_commits`, `_staging`), deliberately, so a
    * rebuilt store accepts a restarted stream's batch 0. */
  def clearLedger(fs: FileSystem, path: String): Unit =
    Seq(ledgerPath(path), aside(ledgerPath(path)), ledgerTmpPath(path))
      .foreach(p => fs.delete(p, false))

  def stagingDir(path: String, batchId: String): Path =
    new Path(s"$path/_staging/$batchId")

  def commitMarker(path: String, batchId: String): Path =
    new Path(s"$path/_commits/$batchId")

  def isCommitted(fs: FileSystem, path: String, batchId: String): Boolean =
    fs.exists(commitMarker(path, batchId))

  /** Seal a batch. The marker RECORDS the batch's content fingerprint
    * (row count + order-free hash-sum — see [[contentFingerprint]]) so
    * a later redelivery under the same id can be verified, not just
    * assumed: a reset checkpoint re-batches the source, and its new
    * "batch 0" may hold MORE data than the one the marker sealed —
    * a bare existence check would silently no-op it (data loss). */
  def markCommitted(fs: FileSystem, path: String, batchId: String,
                    fingerprint: Option[(Long, Long, Long)] = None): Unit = {
    fs.mkdirs(new Path(s"$path/_commits"))
    // write-then-rename: a crash mid-write of the fingerprint would
    // otherwise leave either a TRUNCATED marker (every retry then
    // throws 'corrupt' forever — the store wedges despite a correctly
    // applied batch, breaking retry-converges) or an EMPTY one (the
    // replay is accepted with NO content verification — reopening the
    // reset-checkpoint loss hole). Rename is the protocol's atomic
    // primitive; the `_tmp-` name is invisible to listMarkers (leading
    // underscore) and a crashed leftover is overwritten on retry.
    val tmp = new Path(s"$path/_commits/_tmp-$batchId")
    val out = fs.create(tmp, true)
    try fingerprint.foreach { case (n, lo, hi) =>
      out.write(s"$n\n$lo\n$hi".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    val dst = commitMarker(path, batchId)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"commit: rename $tmp -> $dst failed")
  }

  /** Order-free content fingerprint of a delta batch: (row count,
    * Σ low-32-bits, Σ high-32-bits of per-row xxhash64 over every
    * hashable column). Two 32-bit lanes keep each sum under 2^63 for
    * any batch below 2^31 rows — exact under ANSI arithmetic, no
    * wraparound needed (the corpus_manifest lane recipe). Partition-
    * and order-independent, so the recomputation on a redelivered
    * batch cannot depend on shuffle layout. One O(batch) map-side
    * aggregate — paid once per append and once per replay. Contract:
    * the delta is a DETERMINISTIC relation (the streaming-source
    * guarantee within one checkpoint lineage) — a delta carrying a
    * non-deterministic column (current_timestamp, rand) would refuse
    * its own legitimate replay; fail-loud, never silent. */
  def contentFingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, shiftrightunsigned, sum, xxhash64}
    val cols = df.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name)).toSeq
    // a delta whose every column is map-typed (unhashable) degrades to
    // a count-only fingerprint rather than a zero-arg analysis error
    val h = if (cols.isEmpty) xxhash64(lit(0L)) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)).cast("long"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Verify a committed replay redelivers the SAME content the marker
    * sealed — throws loudly on a mismatch (the reset-checkpoint
    * re-batching case) instead of letting the no-op branch drop the
    * extra rows. Markers without a recorded fingerprint (none are
    * written by this code; a hand-made marker) are accepted on the
    * bare stable-batch-id contract. */
  private def corruptMarker(batchId: String, nLines: Int) =
    new java.io.IOException(s"append: commit marker for batch id '$batchId' is " +
      s"corrupt ($nLines lines) — cannot verify the replay's content; " +
      "rebuild the store or restart batch ids past the old range")

  def requireSameReplay(fs: FileSystem, path: String, batchId: String,
                        fingerprint: (Long, Long, Long)): Unit = {
    val p = commitMarker(path, batchId)
    val in = fs.open(p)
    val txt = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val lines = txt.split("\n").filter(_.nonEmpty)
    // 0 lines = a hand-made marker (accepted on the bare stable-id
    // contract); anything other than a PARSEABLE 3-line record is a
    // corrupt marker (crash-truncated writes are ruled out by
    // markCommitted's write-then-rename, so this is external damage)
    // — refuse rather than silently downgrade the content check
    val sealed3 =
      if (lines.length == 0) None
      else if (lines.length != 3) throw corruptMarker(batchId, lines.length)
      else Some(scala.util.Try((lines(0).toLong, lines(1).toLong, lines(2).toLong))
        .getOrElse(throw corruptMarker(batchId, lines.length)))
    sealed3.filter(_ != fingerprint).foreach { s =>
      throw new java.io.IOException(s"append: batch id '$batchId' was redelivered with " +
        s"DIFFERENT content than its commit recorded (got $fingerprint, sealed $s) — " +
        "the stream checkpoint was reset and re-batched the source; rebuild the store " +
        "or restart batch ids past the old range")
    }
  }

  /** Staged batches, committed or not — the repair worklist. */
  private def stagedBatches(fs: FileSystem, path: String): Seq[String] = {
    val root = new Path(s"$path/_staging")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Rename every data file under `staging` into `live`, mirroring
    * partition subdirectories (`name=value`) and prefixing each file
    * with `b<batchId>-`. Metadata files (`_SUCCESS`, dot-files) are
    * skipped. Rename failures throw — a silent skip would lose rows. */
  private def moveStagedFiles(fs: FileSystem, staging: Path, live: Path, batchId: String): Unit = {
    if (!fs.exists(staging)) return
    fs.mkdirs(live)
    fs.listStatus(staging).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.contains("="))
        moveStagedFiles(fs, s.getPath, new Path(live, n), batchId)
      else if (s.isFile && !n.startsWith("_") && !n.startsWith(".")) {
        val dst = new Path(live, s"b$batchId-$n")
        // unreachable in the protocol (staged part names carry a fresh
        // write-job UUID, and a retry's repair deletes the batch's
        // prefixed files before the steps re-run) — defensive only
        if (fs.exists(dst))
          throw new java.io.IOException(s"append: $dst already exists")
        if (!fs.rename(s.getPath, dst))
          throw new java.io.IOException(s"append: rename ${s.getPath} -> $dst failed")
      }
    }
  }

  /** True when any live file under `dir` carries `batchId`'s prefix.
    * Used at append entry AFTER the marker check and the repair of
    * uncommitted batches: surviving prefixed files can then only
    * belong to a COMMITTED batch whose marker aged out of retention —
    * a re-used batch id (e.g. a reset stream checkpoint restarting at
    * batch 0). Staged part names carry fresh write-job UUIDs, so
    * without this guard the re-use would silently APPLY AGAIN
    * (duplicate rows) rather than collide. Fail loudly; recover by
    * rebuilding the store or restarting ids past the old range. */
  def hasBatchFiles(fs: FileSystem, dir: Path, batchId: String): Boolean = {
    if (!fs.exists(dir)) return false
    val prefix = s"b$batchId-"
    fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && n.contains("=") && hasBatchFiles(fs, s.getPath, batchId)) ||
        (s.isFile && n.startsWith(prefix))
    }
  }

  /** Delete every live file carrying `batchId`'s prefix under `dir`
    * (recursing through partition subdirectories). Returns true when
    * anything was deleted — the signal that the crashed batch had
    * progressed past staging and derived state must be recomputed. */
  private def deleteBatchFiles(fs: FileSystem, dir: Path, batchId: String): Boolean = {
    if (!fs.exists(dir)) return false
    val prefix = s"b$batchId-"
    var touched = false
    fs.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.contains("="))
        touched = deleteBatchFiles(fs, s.getPath, batchId) || touched
      else if (s.isFile && n.startsWith(prefix)) {
        fs.delete(s.getPath, true)
        touched = true
      }
    }
    touched
  }

  // ---------------------------------------------------------------
  // The staged append, written once for every store. A store names
  // the live relations a batch moves into as (step name, dir under
  // the store root) pairs — dir "" is the root itself (the IVF cells).
  // ---------------------------------------------------------------

  private def relDir(root: String, dir: String): Path =
    if (dir.isEmpty) new Path(root) else new Path(root, dir)

  /** The append entry of every store:
    *   1. pin the batch id's alphabet, and keep the numeric id space
    *      for stream batches (`streamBatch` false reserves it — one
    *      manual numeric append would raise the ledger's high-water
    *      mark past a live stream's next batch and wedge it);
    *   2. a COMMITTED batch is a replay: verify the redelivered
    *      content against the marker's fingerprint (a reset
    *      checkpoint re-batches the source, and its recycled id may
    *      now hold more rows a bare no-op would drop), drop leftover
    *      staging of a crash between the marker and the cleanup, and
    *      return;
    *   3. the store's entry `repair`;
    *   4. [[pruneCommitMarkers]] — the fold into the `_applied` ledger
    *      runs first, so no evidence is lost;
    *   5. refuse a re-used id whose marker aged out — LOUDLY, not by
    *      applying it twice: the ledger survives marker pruning AND
    *      the rewrites (compact, cell deletes) that fold away prefixed
    *      files; the file probe over `rels` stays as defense-in-depth
    *      for a store whose ledger was hand-deleted;
    *   6. run `steps` — built only now, since they read live state
    *      the repair may have restored.
    * `delta` is the relation the marker fingerprints; its aggregate
    * runs only on a replay or at `mark-commit`. */
  def append(fs: FileSystem, path: String, batchId: String, streamBatch: Boolean,
             delta: org.apache.spark.sql.DataFrame, rels: Seq[(String, String)],
             repair: () => Unit)(steps: => Seq[(String, () => Unit)]): Unit = {
    requireBatchId(batchId)
    if (!streamBatch) requireManualBatchId(batchId)
    if (isCommitted(fs, path, batchId)) {
      requireSameReplay(fs, path, batchId, contentFingerprint(delta))
      fs.delete(stagingDir(path, batchId), true)
      return
    }
    repair()
    pruneCommitMarkers(fs, path)
    if (wasApplied(fs, path, batchId) ||
        rels.exists { case (_, dir) => hasBatchFiles(fs, relDir(path, dir), batchId) })
      throw new java.io.IOException(s"append: batch id '$batchId' was already applied " +
        "under a since-pruned marker; re-using old batch ids is not supported")
    steps.foreach(_._2())
  }

  /** The tail every append's steps end in: `move-<name>` per relation
    * (staged `_staging/<batchId>/<dir>` renamed into `<path>/<dir>`),
    * then `beforeCommit` (the postings stats swap), `mark-commit`
    * sealing the batch with `delta`'s fingerprint, and
    * `clean-staging`, which is cosmetic. */
  def commitSteps(fs: FileSystem, path: String, batchId: String,
                  delta: org.apache.spark.sql.DataFrame, rels: Seq[(String, String)],
                  beforeCommit: Seq[(String, () => Unit)] = Nil): Seq[(String, () => Unit)] = {
    val stage = stagingDir(path, batchId)
    rels.map { case (name, dir) =>
      s"move-$name" -> (() => moveStagedFiles(fs, relDir(stage.toString, dir),
        relDir(path, dir), batchId))
    } ++ beforeCommit ++ Seq(
      "mark-commit" -> (() => markCommitted(fs, path, batchId, Some(contentFingerprint(delta)))),
      "clean-staging" -> (() => { fs.delete(stage, true); () }))
  }

  /** Undo every half-applied (staged but uncommitted) batch: delete
    * its prefixed files from the live `rels`, then call `undone` with
    * whether any were deleted — the signal for a store with derived
    * state to recompute it. Every staging dir, committed or not, is
    * dropped. */
  def repairStaged(fs: FileSystem, path: String, rels: Seq[(String, String)],
                   undone: Boolean => Unit = _ => ()): Unit =
    stagedBatches(fs, path).foreach { batchId =>
      if (!isCommitted(fs, path, batchId))
        undone(rels.map { case (_, dir) => deleteBatchFiles(fs, relDir(path, dir), batchId) }
          .contains(true))
      fs.delete(stagingDir(path, batchId), true)
    }

  /** Staged batches with no commit marker — a health report's count of
    * appends a crash left for the next entry repair. */
  def uncommittedBatches(fs: FileSystem, path: String): Long =
    stagedBatches(fs, path).count(b => !isCommitted(fs, path, b)).toLong
}
