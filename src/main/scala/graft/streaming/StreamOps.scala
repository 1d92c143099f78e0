package graft.streaming

import graft.operators.StoreProtocol
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming forms of the batch operators.
  *
  * eel processes a `DataStream` as an in-process push pipeline
  * (reference: eel-core .../datastream/DataStreamPublisher.scala); the
  * Spark-native equivalent of "unbounded stream in, incremental result
  * out" is Structured Streaming: `readStream` → the same DataFrame
  * transforms → `writeStream` with watermarked state.
  */
object StreamOps {

  /** File-backed stream over a directory of parquet (the standard
    * replayable local source; swap for kafka on a real bus). */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Watermarked tumbling-window count/sum per event_type — streaming
    * twin of TimeSeries.tumblingAgg. */
  def windowedAgg(events: DataFrame, tsCol: String, widthMinutes: Int,
                  watermarkMinutes: Int, groupCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, s"$watermarkMinutes minutes")
      .groupBy(window(col(tsCol), s"$widthMinutes minutes") +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))

  /** One sessionization event: key + event time (the watermarked
    * column must survive into the grouped Dataset, hence a real
    * timestamp field alongside the micros used by the state logic). */
  final case class KeyedEvent(key: Long, eventTime: java.sql.Timestamp, tsMicros: Long)
  /** Open-session state carried between micro-batches. */
  final case class SessionState(start: Long, last: Long, n: Long)
  /** A closed session. */
  final case class ClosedSession(key: Long, startMicros: Long, endMicros: Long, n_events: Long)

  /** Streaming gap sessionization via `flatMapGroupsWithState` — the
    * stateful twin of TimeSeries.sessionize. Sessions close when the
    * gap between consecutive events of a key exceeds `gapMinutes`
    * (emitted as soon as the closing event arrives) or when the
    * event-time watermark passes the open session's last event + gap
    * (timeout path, so idle keys still flush with bounded state).
    *
    * State per key is three longs — at 1000 executors the state store
    * holds |active keys| × 24 bytes, independent of event volume. */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
                       gapMinutes: Int, watermarkMinutes: Int): Dataset[ClosedSession] = {
    val gapMicros = gapMinutes * 60L * 1000000L
    implicit val keyEnc = Encoders.product[KeyedEvent]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val longEnc = Encoders.scalaLong
    val keyed = events
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("eventTime"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsMicros"))
      .withWatermark("eventTime", s"$watermarkMinutes minutes")
      .as[KeyedEvent]
      .groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: Long, it: Iterator[KeyedEvent], state: GroupState[SessionState]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
        if (it.isEmpty && state.hasTimedOut) {
          state.getOption.foreach(s => out += ClosedSession(key, s.start, s.last, s.n))
          state.remove()
        } else {
          var cur = state.getOption.orNull
          it.toSeq.sortBy(_.tsMicros).foreach { e =>
            cur match {
              case null => cur = SessionState(e.tsMicros, e.tsMicros, 1)
              case s if e.tsMicros - s.last > gapMicros =>
                out += ClosedSession(key, s.start, s.last, s.n)
                cur = SessionState(e.tsMicros, e.tsMicros, 1)
              case s => cur = SessionState(s.start, math.max(s.last, e.tsMicros), s.n + 1)
            }
          }
          if (cur != null) {
            state.update(cur)
            state.setTimeoutTimestamp(cur.last / 1000L + gapMinutes * 60L * 1000L)
          }
        }
        out.iterator
      })
  }

  /** Streaming MERGE into a parquet table — the lakehouse upsert sink
    * (the streaming twin of [[graft.core.Gds.upsert]]). Each
    * micro-batch is merged with LATEST-WINS semantics ordered by
    * `orderCols`: within the batch a bounded per-key window keeps the
    * newest row (this is what makes the batch key-unique — the
    * documented upsert contract); against the table a full-outer join
    * on `keys` takes the batch row only when it is at least as new as
    * the stored one, so OUT-OF-ORDER batches can never regress a key
    * to an older state (plain anti-join+union upsert would).
    * `orderCols` must be non-null in the data — they double as the
    * join-side presence probes.
    *
    * Scale shape per batch: one key-shuffle of table ∪ batch (both
    * sides hash-partitioned on `keys` — no global sort; the per-key
    * window runs over the BATCH only), then a staging write + the
    * [[graft.operators.StoreProtocol.swap]] directory swap. Crash-safe:
    * each batch first repairs a swap torn by a crash, so it merges into
    * the restored table instead of taking the missing table for an
    * empty one. At 100 TB the table side is a partitioned columnar
    * store and the same recipe applies per partition; here it is the
    * honest local form. */
  def upsertStream(updates: DataFrame, tablePath: String, keys: Seq[String],
                   orderCols: Seq[String], checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keys.nonEmpty && orderCols.nonEmpty, "keys and orderCols required")
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val tbl = new org.apache.hadoop.fs.Path(tablePath)
        // the table's OWN filesystem, not the default FS — a store on
        // s3a:///hdfs:// with a file:// default would otherwise swap
        // against the wrong scheme
        val fs = StoreProtocol.fsOf(spark, tablePath)
        StoreProtocol.repairSwap(fs, tbl)
        val merged =
          if (!fs.exists(tbl)) {
            // first batch: just resolve in-batch duplicates latest-wins
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*)
              .orderBy(orderCols.map(c => col(c).desc): _*)
            batch.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          } else
            // the batch form of this exact merge (in-batch dedup +
            // full-outer conditional take, regression-safe)
            graft.core.Gds(spark.read.parquet(tablePath))
              .upsertLatest(graft.core.Gds(batch.toDF()), keys, orderCols).toDF
        val staging = new org.apache.hadoop.fs.Path(tablePath + "__staging")
        merged.write.mode("overwrite").parquet(staging.toString)
        StoreProtocol.swap(fs, tbl, staging)
        } // empty batch: skip the rewrite entirely (idle-trigger no-op)
        ()
      }
  }

  /** Streaming corpus preparation — the nightly-crawl pipeline as a
    * Structured Streaming job (the streaming face of
    * [[graft.operators.Pipeline.prepareCorpusIncremental]]): every
    * micro-batch of newly crawled docs is processed O(batch) against
    * the on-disk state (seed it once with
    * [[graft.operators.Pipeline.writeCorpusState]]) — quality gate +
    * scrub map-side, exact dedup vs the fingerprint store, near-dup
    * dedup vs the signature store with bridge retraction — and the
    * refreshed export lands at `stateDir/export` via the
    * [[graft.operators.StoreProtocol.swap]] directory swap, which
    * repairs a swap torn by a crash before it sets the export aside.
    * Batch ids must be previously unseen and increasing (the
    * incremental contract); on replay the final export equals a full
    * [[graft.operators.Pipeline.prepareCorpus]] rebuild over
    * everything ever crawled (spec-pinned). */
  def corpusStream(crawl: DataFrame, stateDir: String, idCol: String, textCol: String,
                   checkpoint: String, nShards: Int = 16,
                   tokenHash: graft.operators.Dedup.TokenHash = graft.operators.Dedup.xxTokenHash,
                   hashedShard: Boolean = true,
                   minTokens: Int = 20, maxTokens: Int = 1000,
                   minStopwordRatio: Double = 0.05, maxRepetition: Double = 0.2,
                   maxHamming: Int = 3): DataStreamWriter[org.apache.spark.sql.Row] =
    crawl.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val export = graft.operators.Pipeline.prepareCorpusIncremental(
            spark, stateDir, batch.toDF(), idCol, textCol, nShards,
            minTokens, maxTokens, minStopwordRatio, maxRepetition,
            maxHamming, tokenHash, hashedShard)
          val fs = StoreProtocol.fsOf(spark, stateDir)
          val staging = new org.apache.hadoop.fs.Path(s"$stateDir/export__staging")
          export.write.mode("overwrite").parquet(staging.toString)
          StoreProtocol.swap(fs, new org.apache.hadoop.fs.Path(s"$stateDir/export"), staging)
        }
        ()
      }

  /** Streaming token-budget mixture construction — the streaming twin
    * of [[graft.operators.Pipeline.tokenMixToBudget]], completing the
    * mixture constructor's parity: as document metadata streams in,
    * `stateDir/mix` always holds the mixture over EVERYTHING seen so
    * far — each source's hash-priority prefix up to its token budget.
    *
    * Selection is global by nature (a later high-priority doc
    * displaces an earlier low-priority one), so the operator keeps an
    * id-only state relation at `stateDir/rows` — (id, source, tokens)
    * per doc, never text — and re-ranks it per batch. That is the
    * corpus_incremental layout-stage contract: a hash+sort pass over
    * ~16-byte rows, paid per trigger; in exchange the mixture stays a
    * pure function of the corpus (identical to the one-shot batch
    * operator on arbitrary replays — spec-pinned), where a greedy
    * remaining-budget consumer would be O(batch) but arrival-order
    * dependent, which a training mixture cannot be.
    *
    * Crash-safe and replay-idempotent: state and mix land via the
    * upsertStream swap, each batch repairs a torn `rows` swap before
    * it reads the state, and the merge dedupes on id, so a crash-retry
    * re-delivering a committed batch is a no-op (ids re-merge to the
    * same rows — stronger than ivfIndexStream's at-least-once).
    * Re-delivered ids are assumed to carry identical (source, tokens)
    * — the append-only crawl contract; latest-wins re-crawl merging
    * is [[upsertStream]] composed upstream. */
  def tokenMixStream(docs: DataFrame, stateDir: String, idCol: String,
                     stratumCol: String, tokensCol: String,
                     budgets: Seq[(String, Long)], checkpoint: String,
                     seed: String = "mix"): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val fs = StoreProtocol.fsOf(spark, stateDir)
          val rowsPath = new org.apache.hadoop.fs.Path(s"$stateDir/rows")
          StoreProtocol.repairSwap(fs, rowsPath)
          val slim = batch.toDF().select(col(idCol), col(stratumCol), col(tokensCol))
          // sealed once (eager localCheckpoint), consumed twice: the
          // state rewrite AND the mix input — re-reading the freshly
          // swapped dir would pay a second full state scan per trigger
          val merged =
            (if (fs.exists(rowsPath))
               spark.read.parquet(rowsPath.toString).unionByName(slim)
             else slim)
              .dropDuplicates(Seq(idCol))
              .localCheckpoint(true)
          val staging = new org.apache.hadoop.fs.Path(s"$stateDir/rows__staging")
          merged.write.mode("overwrite").parquet(staging.toString)
          StoreProtocol.swap(fs, rowsPath, staging)
          val mix = graft.operators.Pipeline.tokenMixToBudget(
            merged, idCol, stratumCol, tokensCol, budgets, seed)
          val mixStaging = new org.apache.hadoop.fs.Path(s"$stateDir/mix__staging")
          mix.write.mode("overwrite").parquet(mixStaging.toString)
          StoreProtocol.swap(fs, new org.apache.hadoop.fs.Path(s"$stateDir/mix"), mixStaging)
        }
        ()
      }

  /** Streaming embedding-store maintenance — the streaming twin of
    * [[graft.operators.Similarity.appendIvfIndex]], completing ANN's
    * streaming parity the way corpusStream does for the document
    * pipeline: each micro-batch of new embeddings is assigned map-side
    * against the FROZEN coarse quantizer (pass the centroids returned
    * by buildIvfIndex) and appended into the same cell partitions —
    * O(batch) per trigger, the existing index files never rewritten,
    * and [[graft.operators.Similarity.queryIvfIndex]] serves queries
    * against the growing store unchanged. On clean replay the index
    * equals a one-shot build of everything streamed under the same
    * centroids (spec-pinned — assignment is a pure function of
    * (vector, centroids)). EXACTLY-ONCE on the store: Structured
    * Streaming's stable batch ids feed the append's staged-commit
    * protocol, so a crash-retry of a committed batch is a marker-
    * checked no-op and a half-applied batch is repaired (its staged
    * files removed) before the retry re-applies it — never a double
    * append. Re-clustering (new centroids) is a rebuild by
    * definition, not a stream operation. */
  def ivfIndexStream(embeddings: DataFrame, indexPath: String,
                     centroidsFlat: Array[Double], vecCol: String, dim: Int,
                     checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    embeddings.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // PLAIN numeric ids: Structured Streaming's batch ids are a
        // monotone long sequence, which is exactly what the protocol's
        // `_applied` ledger compresses into one high-water integer —
        // a string prefix would instead grow the ledger's by-name set
        // by one entry per micro-batch, forever
        if (!batch.isEmpty)
          graft.operators.Similarity.appendIvfIndex(batch.toDF(), indexPath,
            centroidsFlat, vecCol, dim, batchId = batchId.toString, streamBatch = true)
        ()
      }

  /** Streaming search-index maintenance — the postings twin of
    * [[ivfIndexStream]], completing text retrieval's streaming parity:
    * each micro-batch of crawled docs is tokenized and appended into
    * its term-hash bucket partitions with
    * [[graft.operators.Search.appendPostingsIndex]] (O(batch) per
    * trigger, old postings never re-read, the exact integer stats row
    * advanced), and [[graft.operators.Search.queryPostingsIndex]]
    * serves queries against the growing store unchanged. On clean
    * replay the index equals a one-shot build of everything streamed
    * (spec-pinned — postings are a pure function of the doc, stats an
    * exact integer sum). Doc ids must be previously unseen (the
    * appendPostingsIndex contract). EXACTLY-ONCE on the store (the
    * ivfIndexStream contract): the stream's stable batch ids feed the
    * staged-commit protocol — committed batches replay as no-ops,
    * half-applied ones are repaired at the retry's entry. */
  def postingsIndexStream(docs: DataFrame, indexPath: String, idCol: String,
                          textCol: String, checkpoint: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // plain numeric ids — the ivfIndexStream rationale: the
        // ledger's high-water mark absorbs the whole monotone sequence
        if (!batch.isEmpty)
          graft.operators.Search.appendPostingsIndex(batch.toDF(), indexPath,
            idCol, textCol, batchId = batchId.toString, streamBatch = true)
        ()
      }

  /** Streaming embedding-drift monitor — [[profileDriftStream]]'s
    * vector-space sibling: every micro-batch of embeddings is scored
    * against a FIXED baseline snapshot with
    * [[graft.operators.Quality.embeddingDrift]] (centroid cosine +
    * spread), one drift row per batch appended with its batch_id. The
    * baseline side's per-dim sums and norm stats are recomputed per
    * batch from the sealed baseline relation — dim+1 rows of state, so
    * sealing (localCheckpoint) the small baseline once is the whole
    * optimization; state-free beyond the checkpoint bookkeeping. */
  def embeddingDriftStream(updates: DataFrame, baseline: DataFrame,
                           vecCol: String, outPath: String, checkpoint: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    driftStream(updates, baseline, outPath, checkpoint)(
      graft.operators.Quality.embeddingDrift(_, _, vecCol))

  /** The drift monitors' shared body: `baseline` is sealed once
    * (localCheckpoint — it is small), then every non-empty micro-batch
    * is scored against it, tagged with its batch_id and appended to
    * `outPath`. */
  private def driftStream(updates: DataFrame, baseline: DataFrame, outPath: String,
                          checkpoint: String)(score: (DataFrame, DataFrame) => DataFrame)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    val sealedBaseline = baseline.localCheckpoint(true)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          score(sealedBaseline, batch.toDF())
            .withColumn("batch_id", lit(id))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
        ()
      }
  }

  /** Streaming data-quality monitor — the streaming twin of
    * [[graft.operators.Quality.profileDrift]] (completing the quality
    * family's streaming parity the way scd2Stream did for SCD2): every
    * micro-batch is profiled (ONE partial-agg scan of the batch — the
    * same single-aggregate shape as the batch profiler) and compared
    * against a FIXED baseline profile computed once by the caller
    * (pass `Quality.profileNumeric(baseline, cols)` — the baseline
    * corpus is never re-scanned per batch). Per-batch drift rows are
    * appended to `outPath` tagged with the batch id; on replay of the
    * same batches the rows equal the batch
    * [[graft.operators.Quality.profileDrift]] per batch (spec-pinned).
    * State-free: the profile is a pure function of the batch, so the
    * only streaming state is the checkpoint's file bookkeeping. */
  def profileDriftStream(updates: DataFrame, baselineProfile: DataFrame,
                         cols: Seq[String], outPath: String, checkpoint: String,
                         exactDistinct: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    driftStream(updates, baselineProfile, outPath, checkpoint) { (base, batch) =>
      graft.operators.Quality.driftFromProfiles(base,
        graft.operators.Quality.profileNumeric(batch, cols, exactDistinct))
    }

  /** Streaming script/PII-composition monitor — the content sibling of
    * [[profileDriftStream]] (that one watches numeric columns; this
    * one watches what a TEXT crawl is made of): every micro-batch of
    * documents is profiled with
    * [[graft.operators.Quality.contentProfile]] (ONE partial-agg scan
    * of the batch — per-script dominance + email/phone/IP/Luhn-card
    * incidence) and compared against a FIXED baseline profile computed
    * once by the caller, one drift row per (batch, metric) appended
    * with the batch id. The incident this catches is exactly what a
    * nightly needs flagged before the corpus ships: a source flipping
    * to mojibake (script shares move) or starting to leak card-bearing
    * pages (pii:card_valid rate moves). State-free beyond checkpoint
    * bookkeeping — the baseline is a sealed ~10-row relation; on
    * replay the rows equal the batch
    * [[graft.operators.Quality.contentDriftFromProfiles]] per batch
    * (spec-pinned, the profileDriftStream contract). */
  def contentDriftStream(updates: DataFrame, baselineProfile: DataFrame,
                         textCol: String, outPath: String, checkpoint: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    driftStream(updates, baselineProfile, outPath, checkpoint) { (base, batch) =>
      graft.operators.Quality.contentDriftFromProfiles(base,
        graft.operators.Quality.contentProfile(batch, textCol))
    }

  /** One typed SCD2 change-stream event. */
  final case class Scd2Event(key: Long, state: Option[String],
                             tsMicros: Long, tie: Long)
  /** Open run per key: the current state + when it started (micros). */
  final case class Scd2State(state: Option[String], validFromMicros: Long)
  /** Emitted when a run CLOSES — the batch scd2History row minus the
    * open-run (is_current) row, which lives in the state store. */
  final case class Scd2Closed(key: Long, state: Option[String],
                              valid_from: Long, valid_to: Long)

  /** Streaming SCD2 — the incremental twin of
    * [[graft.operators.TimeSeries.scd2History]]: the state store holds
    * ONE open run per key (current state + start); a state CHANGE
    * closes the run and emits its validity interval. On in-order
    * replay the emitted rows equal the batch history's closed
    * (is_current = false) rows — spec-pinned; the open run per key IS
    * the batch history's is_current row, queryable from the state
    * store's last update. Option equality makes NULL states
    * first-class runs (the batch null-safe `<=>` contract). No
    * timeout: runs close only on an observed change, and state is one
    * (Option[String], long) per key — bounded by |keys|, independent
    * of event volume, the same bound as the batch change relation. */
  def scd2Stream(events: DataFrame, keyCol: String, stateCol: String,
                 tsCol: String, tieCol: String): Dataset[Scd2Closed] = {
    implicit val evEnc = Encoders.product[Scd2Event]
    implicit val stEnc = Encoders.product[Scd2State]
    implicit val outEnc = Encoders.product[Scd2Closed]
    implicit val longEnc = Encoders.scalaLong
    val keyed = events
      .select(col(keyCol).cast("long").as("key"),
        col(stateCol).cast("string").as("state"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsMicros"),
        col(tieCol).cast("long").as("tie"))
      .as[Scd2Event]
      .groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: Long, it: Iterator[Scd2Event], state: GroupState[Scd2State]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
        var cur = state.getOption.orNull
        it.toSeq.sortBy(e => (e.tsMicros, e.tie)).foreach { e =>
          cur match {
            case null => cur = Scd2State(e.state, e.tsMicros)
            case s if s.state != e.state => // Option equality == null-safe <=>
              out += Scd2Closed(key, s.state, s.validFromMicros, e.tsMicros)
              cur = Scd2State(e.state, e.tsMicros)
            case _ => () // same state: the run continues
          }
        }
        if (cur != null) state.update(cur)
        out.iterator
      })
  }

  /** One typed funnel event. */
  final case class FunnelEvent(key: Long, etype: String,
                               eventTime: java.sql.Timestamp, tsMicros: Long)
  /** Furthest stage reached + when (micros); stage == stages.length is
    * the done tombstone. */
  final case class FunnelState(stage: Int, reachedAt: Long)
  /** Emitted once per user per stage advance. */
  final case class StageReached(user_id: Long, stage_idx: Int, stage: String,
                                reached_at: Long)

  /** Streaming conversion funnel — the incremental twin of
    * TimeSeries.funnel: each user advances through `stages` in order,
    * each step strictly after the previous and (optionally) within
    * `withinSeconds` of it; one StageReached row is emitted per
    * advance, so per-stage counts equal the batch funnel's when the
    * stream replays in event-time order.
    *
    * State is ONE tiny (int, long) record per user and is kept
    * deliberately (done/stuck users hold a tombstone): evicting on
    * timeout would let a late event re-run the funnel from stage 0 and
    * double-count the user. Memory is bounded by |users| — the same
    * bound as the batch funnel's per-user relation — not by the event
    * volume. */
  def funnelStream(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   withinSeconds: Option[Long],
                   watermarkMinutes: Int): Dataset[StageReached] = {
    require(stages.nonEmpty, "at least one stage")
    implicit val evEnc = Encoders.product[FunnelEvent]
    implicit val outEnc = Encoders.product[StageReached]
    implicit val stEnc = Encoders.product[FunnelState]
    implicit val longEnc = Encoders.scalaLong
    val windowMicros = withinSeconds.map(_ * 1000000L)
    val keyed = events
      .filter(col(typeCol).isin(stages: _*))
      .select(col(userCol).cast("long").as("key"),
        col(typeCol).cast("string").as("etype"),
        col(tsCol).cast("timestamp").as("eventTime"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsMicros"))
      .withWatermark("eventTime", s"$watermarkMinutes minutes")
      .as[FunnelEvent]
      .groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[StageReached]
        var cur = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
        it.toSeq.sortBy(_.tsMicros).foreach { e =>
          if (cur.stage < stages.length && e.etype == stages(cur.stage)) {
            val ok = cur.stage == 0 ||
              (e.tsMicros > cur.reachedAt &&
                windowMicros.forall(w => e.tsMicros - cur.reachedAt <= w))
            if (ok) {
              cur = FunnelState(cur.stage + 1, e.tsMicros)
              out += StageReached(key, cur.stage, stages(cur.stage - 1), e.tsMicros)
            }
          }
        }
        state.update(cur)
        out.iterator
      })
  }

  final case class TouchEvent(key: Long, isView: Boolean, tsMicros: Long,
                              value: Double, eventTime: java.sql.Timestamp)
  /** Per-user last-view timestamp (µs). */
  final case class LastTouchState(viewTs: Long)
  /** One attributed purchase; touch_ts is None when no view preceded
    * the purchase inside the lookback window. */
  final case class AttributedPurchase(user_id: Long, purchase_ts: Long,
                                      touch_ts: Option[Long], value: Double)

  /** Streaming last-touch attribution — the incremental twin of the
    * batch as-of join in evt_attribution: each purchase credits its
    * value to the user's most recent view at-or-before it (equal
    * timestamps match, like the batch as-of where right rows sort
    * before left at a tie), provided the view is within
    * `lookbackHours`.
    *
    * State is ONE long per user (the last view time) — bounded by
    * |active users|, not event volume. Unlike funnelStream's
    * tombstones (where eviction would let a late event restart the
    * funnel and double-count), eviction here is SEMANTICALLY correct:
    * the state expires exactly when the view leaves the attribution
    * window, i.e. when it could no longer be credited anyway — so the
    * timeout is the lookback horizon, enforced with an event-time
    * timer against the watermark.
    *
    * In-order replay reproduces the batch result exactly (spec-pinned).
    * Out-of-order arrival within the watermark degrades safely: a
    * purchase never credits a view that is AFTER it (the viewTs <=
    * purchase guard), at worst reporting unattributed where the batch
    * would have found an older view. */
  def attributionStream(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, valueCol: String,
                        viewType: String = "view", purchaseType: String = "purchase",
                        lookbackHours: Long = 24 * 365, watermarkMinutes: Int = 0): Dataset[AttributedPurchase] = {
    implicit val evEnc = Encoders.product[TouchEvent]
    implicit val stEnc = Encoders.product[LastTouchState]
    implicit val outEnc = Encoders.product[AttributedPurchase]
    implicit val longEnc = Encoders.scalaLong
    val lookbackMicros = lookbackHours * 3600L * 1000000L
    val keyed = events
      .filter(col(typeCol).isin(viewType, purchaseType))
      .select(col(userCol).cast("long").as("key"),
        (col(typeCol) === viewType).as("isView"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsMicros"),
        coalesce(col(valueCol).cast("double"), lit(0.0)).as("value"),
        col(tsCol).cast("timestamp").as("eventTime"))
      .withWatermark("eventTime", s"$watermarkMinutes minutes")
      .as[TouchEvent]
      .groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: Long, it: Iterator[TouchEvent], state: GroupState[LastTouchState]) => {
        if (state.hasTimedOut) {
          // the stored view aged out of the lookback window — it can
          // never be credited again, so removal loses nothing
          state.remove()
          Iterator.empty
        } else {
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributedPurchase]
          var last = state.getOption.map(_.viewTs)
          // views before purchases at equal ts — the batch as-of's
          // side ordering
          it.toSeq.sortBy(e => (e.tsMicros, !e.isView)).foreach { e =>
            if (e.isView) {
              if (!last.exists(_ > e.tsMicros)) last = Some(e.tsMicros)
            } else {
              val touch = last.filter(v =>
                v <= e.tsMicros && e.tsMicros - v <= lookbackMicros)
              out += AttributedPurchase(key, e.tsMicros, touch, e.value)
            }
          }
          last.foreach { v =>
            state.update(LastTouchState(v))
            // expire when the view leaves the window; never set a
            // timer behind the watermark (Spark rejects it)
            state.setTimeoutTimestamp(
              math.max(v / 1000L + lookbackMicros / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
        }
      })
  }

  final case class ActivityEvent(key: Long, day: Long)
  /** Per-user running state: the OPEN day's (day, count) plus exact
    * integer moments (n, Σ, Σ²) over the CLOSED days — 5 longs. */
  final case class ActivityState(curDay: Long, curCount: Long,
                                 n: Long, s: Long, ssq: Long)
  final case class DayAnomaly(user_id: Long, day: Long, n_events: Long, z: Double)

  /** Streaming activity-spike detection — the stateful twin of the
    * batch [[graft.operators.TimeSeries.activityAnomaly]]: per user,
    * daily event counts are z-scored against the user's OWN exact
    * integer moments. A day is scored when it CLOSES (the first event
    * of a later day arrives), against the moments of all days up to
    * and including itself — so on in-order replay the z emitted for a
    * user's final closed day is bit-identical to the batch z computed
    * over that same prefix (spec-pinned, including the 6dp HALF_UP
    * rounding); earlier days use prefix moments where the batch uses
    * full-history moments (the inherent batch/stream semantic gap —
    * a stream cannot consult days it hasn't seen).
    *
    * State is FIVE longs per user — the open day's count plus (n, Σ,
    * Σ²) over closed days — bounded by |users|, never by event or day
    * volume (no per-day map; the moments fold is the whole point).
    * Late events for an already-closed day are dropped (documented
    * degradation: within-day disorder is safe, cross-day disorder
    * would need the closed day re-opened — the watermark bounds it
    * upstream). */
  def anomalyStream(events: DataFrame, userCol: String, tsCol: String,
                    minPeriods: Int = 3, zThreshold: Double = 2.0,
                    periodDays: Int = 1,
                    watermarkMinutes: Int = 0): Dataset[DayAnomaly] = {
    implicit val evEnc = Encoders.product[ActivityEvent]
    implicit val stEnc = Encoders.product[ActivityState]
    implicit val outEnc = Encoders.product[DayAnomaly]
    implicit val longEnc = Encoders.scalaLong
    val periodUs = periodDays.toLong * 86400L * 1000000L
    val keyed = events
      .select(col(userCol).cast("long").as("key"),
        expr(s"unix_micros(CAST($tsCol AS TIMESTAMP)) div ${periodUs}L").as("day"),
        col(tsCol).cast("timestamp").as("eventTime"))
      .withWatermark("eventTime", s"$watermarkMinutes minutes")
      .as[ActivityEvent]
      .groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: Long, it: Iterator[ActivityEvent], state: GroupState[ActivityState]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[DayAnomaly]
        var st = state.getOption.getOrElse(ActivityState(Long.MinValue, 0L, 0L, 0L, 0L))
        // close the open day: fold it into the moments and z-score it
        // against the post-fold prefix — the batch formula verbatim
        // ((c·n − s) / (n · sqrt((n·ssq − s²) / n²)), round 6 HALF_UP)
        def close(): Unit = {
          val n = st.n + 1
          val s = st.s + st.curCount
          val ssq = st.ssq + st.curCount * st.curCount
          val disc = n * ssq - s * s
          if (n >= minPeriods && disc > 0) {
            val z = (st.curCount * n - s).toDouble /
              (n.toDouble * math.sqrt(disc.toDouble / (n * n).toDouble))
            if (math.abs(z) > zThreshold)
              out += DayAnomaly(key, st.curDay, st.curCount,
                BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          st = ActivityState(st.curDay, 0L, n, s, ssq)
        }
        it.toSeq.sortBy(_.day).foreach { e =>
          if (st.curDay == Long.MinValue) st = ActivityState(e.day, 1L, 0L, 0L, 0L)
          else if (e.day == st.curDay) st = st.copy(curCount = st.curCount + 1)
          else if (e.day > st.curDay) {
            close()
            st = ActivityState(e.day, 1L, st.n, st.s, st.ssq)
          } // e.day < st.curDay: late event for a closed day — dropped
        }
        state.update(st)
        out.iterator
      })
  }

  /** Streaming exact dedup: drop rows whose `idCols` were already seen
    * within the watermark horizon — the streaming twin of Dedup.exact.
    * State is bounded by the watermark (expired keys are evicted), so
    * this runs indefinitely on an unbounded stream. */
  def dedupStream(df: DataFrame, idCols: Seq[String], tsCol: String,
                  watermarkMinutes: Int): DataFrame =
    df.withWatermark(tsCol, s"$watermarkMinutes minutes")
      .dropDuplicatesWithinWatermark(idCols)

  /** One banded doc observation: state key is (band << 16 | bucket). */
  final case class BucketDoc(bucketKey: Long, id: Long, sig: Long,
                             eventTime: java.sql.Timestamp, tsMillis: Long)
  /** Per-bucket membership carried between micro-batches. */
  final case class BucketState(ids: Array[Long], sigs: Array[Long])
  /** An emitted near-duplicate match (id_l < id_r). */
  final case class NearDupMatch(id_l: Long, id_r: Long, hamming: Int,
                                eventTime: java.sql.Timestamp)

  /** Streaming NEAR-duplicate detection — the streaming twin of
    * Dedup.simhashPairs, built on the same one-pass SimHashSignature
    * expression and 4×16-bit banding, Dedup.simhashBands (hamming ≤ 3
    * exact by pigeonhole).
    *
    * Shape: signature+banding are stateless map-side expressions; the
    * only state is per-(band,bucket) membership — at most
    * `maxBucketSize` (id, sig) pairs of 16 bytes each, keyed by a
    * 2^18-value space, evicted wholesale when the event-time watermark
    * passes a bucket's last activity (a doc can only pair with docs
    * inside the watermark horizon — same contract as [[dedupStream]]).
    * A doc landing in a full bucket still pairs against the stored
    * members but is not added (cap = the batch skew guard).
    *
    * Match emission is AT-LEAST-ONCE: a pair colliding in k>1 bands is
    * reported once per band (buckets are independent state keys; a
    * second stateful dedup stage downstream of
    * flatMapGroupsWithState is rejected by Spark's watermark
    * correctness checker, and rightly — emitted matches can trail the
    * global watermark). Exactly-once is one `dropDuplicates(id_l,
    * id_r)` in the consumer's `foreachBatch` sink — batch-local,
    * stateless, and cheap because double-reports only occur for pairs
    * already similar enough to collide twice. */
  def nearDupStream(df: DataFrame, idCol: String, textCol: String, tsCol: String,
                    watermarkMinutes: Int, maxHamming: Int = 3,
                    maxBucketSize: Int = 1000): DataFrame = {
    import graft.functions.{TextExpressions => X, TextFunctions => T}
    implicit val docEnc = Encoders.product[BucketDoc]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[NearDupMatch]
    implicit val longEnc = Encoders.scalaLong
    val horizonMs = watermarkMinutes * 60000L
    val banded = df
      .select(col(idCol).cast("long").as("id"),
        X.simhashSignature(T.normText(col(textCol)), useMd5 = false).as("sig"),
        col(tsCol).cast("timestamp").as("eventTime"))
      .select(col("id"), col("sig"), col("eventTime"),
        unix_millis(col("eventTime")).as("tsMillis"),
        posexplode(graft.operators.Dedup.simhashBands(col("sig"))).as(Seq("band", "bucket")))
      .select((col("band").cast("long") * 65536L + col("bucket")).as("bucketKey"),
        col("id"), col("sig"), col("eventTime"), col("tsMillis"))
      .withWatermark("eventTime", s"$watermarkMinutes minutes")
      .as[BucketDoc]
      .groupByKey(_.bucketKey)
    val matches = banded.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (_: Long, it: Iterator[BucketDoc], state: GroupState[BucketState]) => {
        if (it.isEmpty && state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val prev = state.getOption
          val ids = scala.collection.mutable.ArrayBuffer.from(prev.fold(Array.empty[Long])(_.ids))
          val sigs = scala.collection.mutable.ArrayBuffer.from(prev.fold(Array.empty[Long])(_.sigs))
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupMatch]
          var maxTs = 0L
          it.toSeq.sortBy(d => (d.tsMillis, d.id)).foreach { d =>
            if (!ids.contains(d.id)) {
              var i = 0
              while (i < ids.length) {
                val h = java.lang.Long.bitCount(d.sig ^ sigs(i))
                if (h <= maxHamming) {
                  val (l, r) = if (ids(i) < d.id) (ids(i), d.id) else (d.id, ids(i))
                  out += NearDupMatch(l, r, h, d.eventTime)
                }
                i += 1
              }
              if (ids.length < maxBucketSize) { ids += d.id; sigs += d.sig }
            }
            maxTs = math.max(maxTs, d.tsMillis)
          }
          state.update(BucketState(ids.toArray, sigs.toArray))
          state.setTimeoutTimestamp(maxTs + horizonMs + 1)
          out.iterator
        }
      })
    matches.toDF().drop("eventTime")
  }

  /** Exactly-once sink for [[nearDupStream]]: per micro-batch,
    * collapse the at-least-once multi-band reports (stateless,
    * batch-local dropDuplicates) and append to parquet. Cross-batch
    * re-reports cannot occur — a pair is only emitted by the batch
    * that completes it. */
  def nearDupSink(matches: DataFrame, path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    matches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.dropDuplicates("id_l", "id_r")
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
      }

  /** Streaming trending top-k: watermarked tumbling-window counts per
    * key, maintained as a per-window top-k table as each micro-batch
    * lands. Streaming allows one aggregation per query, so the rank
    * runs INSIDE the sink (foreachBatch). Update mode emits only the
    * CHANGED (window, key) rows — ranking the batch alone would drop
    * a window's unchanged keys from its top-k — so the sink keeps a
    * counts store partitioned by window: merge = stored rows of the
    * touched windows anti-joined on the changed keys, union the batch
    * (its values ARE the current totals), localCheckpoint to sever
    * lineage from the files about to be overwritten (the incremental-
    * dedup pattern), dynamic-overwrite ONLY the touched window
    * partitions of both the store and the ranked output. Epoch replay
    * re-merges the same totals — idempotent, the exactly-once shape.
    *
    * Scale: streaming state = |windows in watermark| × |active keys|
    * longs (watermark-evicted); each epoch touches only the changed
    * windows' partitions, and TopKAggregate feeds ≤k rows per window
    * per map task into the rank. */
  def trendingTopK(events: DataFrame, tsCol: String, keyCol: String,
                   widthMinutes: Int, watermarkMinutes: Int, k: Int,
                   path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val counts = events
      .withWatermark(tsCol, s"$watermarkMinutes minutes")
      .groupBy(window(col(tsCol), s"$widthMinutes minutes"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
    val countsPath = s"$path/__counts"
    val rankedPath = s"$path/ranked"
    counts.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val cur = batch
          .select(col("window.start").as("window_start"), col(keyCol), col("n_events"))
          .localCheckpoint(true)
        if (!cur.isEmpty) {
          val touched = cur.select("window_start").distinct()
          val existing =
            try spark.read.parquet(countsPath)
              .join(touched, Seq("window_start"), "left_semi")
            catch { case _: org.apache.spark.sql.AnalysisException => cur.limit(0) }
          val merged = existing.join(cur, Seq("window_start", keyCol), "left_anti")
            .unionByName(cur)
            .localCheckpoint(true)
          val dyn = Map("partitionOverwriteMode" -> "dynamic")
          merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).options(dyn)
            .partitionBy("window_start").parquet(countsPath)
          // TopKAggregate ids are longs; a non-numeric key (string
          // hashtag — the canonical trending key) would cast to NULL
          // and corrupt the ranking. Integral keys ride through as
          // themselves; anything else ranks by xxhash64(key) and
          // joins the key text back after the top-k.
          val keyIsIntegral = merged.schema(keyCol).dataType match {
            case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
            case _ => false
          }
          val keyed = merged.withColumn("__kid",
            if (keyIsIntegral) col(keyCol).cast("long") else xxhash64(col(keyCol)))
          val ranked = keyed
            .groupBy(col("window_start"))
            .agg(graft.functions.TopKAggregate.topK(
              col("n_events").cast("double"), col("__kid"), k).as("__top"))
            .select(col("window_start"), posexplode(col("__top")).as(Seq("__r", "__e")))
            .select(col("window_start"), col("__e.id").as("__kid"),
              col("__e.score").cast("long").as("n_events"),
              (col("__r") + 1).cast("int").as("rank"))
          val out =
            if (keyIsIntegral)
              ranked.select(col("window_start"), col("__kid").as(keyCol),
                col("n_events"), col("rank"))
            else
              ranked.join(
                  keyed.select(col("window_start"), col("__kid"), col(keyCol)).distinct(),
                  Seq("window_start", "__kid"))
                .select(col("window_start"), col(keyCol), col("n_events"), col("rank"))
          out.write.mode(org.apache.spark.sql.SaveMode.Overwrite).options(dyn)
            .partitionBy("window_start").parquet(rankedPath)
        }
        ()
      }
  }

  /** Drain a stream synchronously into an in-memory table and return
    * the batch result — test/verify harness helper. */
  def runToMemory(df: DataFrame, queryName: String, outputMode: String = "update"): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(queryName).outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** Continuous writer to partitioned parquet with checkpointing —
    * the production sink shape (exactly-once per epoch). */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
}
