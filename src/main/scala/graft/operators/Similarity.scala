package graft.operators

import graft.functions.{TopKAggregate, VectorExpressions, VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale shape: the query set is small and broadcast; the corpus is
  * streamed once; ranking is a bounded-heap partial aggregate
  * ([[graft.functions.TopKAggregate]]) so each map task emits at most
  * k rows per query into the shuffle — a window formulation would
  * shuffle every scored row. Ranking uses (rounded score, id) so
  * ordering is total and reproducible across engines/partitionings.
  */
object Similarity {

  /** groupBy(qid) -> bounded-heap topK -> explode to ranked rows.
    * Ids must be integral (the heap stores longs) — a silent cast of
    * string ids to null would drop every row, so reject up front. */
  private def rankTopK(scored: DataFrame, idCol: String, qidCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = scored.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"top-k ranking requires an integral id column, $idCol is $idType")
    scored
      .groupBy(col(qidCol))
      .agg(TopKAggregate.topK(col("score"), col(idCol).cast("long"), k).as("__top"))
      .select(col(qidCol), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col(qidCol), col("__e.id").cast(idType).as(idCol), col("__e.score").as("score"),
        (col("__r") + 1).cast("int").as("rank"))
  }

  /** Exact top-k by cosine for each query vector. `queries` must be
    * small (broadcast). Output: (qid, vec_id, score, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col(vecCol), col(qvecCol)).as("score"))
    rankTopK(scored, idCol, qidCol, k)
  }

  /** LSH-bucketed ANN: score only corpus vectors sharing a bucket with
    * the query in ANY of `nTables` independent `nBits`-bit hash tables
    * (multi-table OR-probing — single-table sign-LSH recall decays as
    * cos^nBits). Cost ~ nTables * corpus/2^nBits per query. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, qidCol: String, qvecCol: String,
              k: Int, dim: Int, nBits: Int = 8, nTables: Int = 8,
              planes: Option[Array[Double]] = None): DataFrame = {
    def buckets(v: org.apache.spark.sql.Column) = planes match {
      case Some(p) => VectorExpressions.lshBucketsWith(v, p, dim, nBits, nTables)
      case None    => V.lshBuckets(v, dim, nBits, nTables)
    }
    val cb = corpus.select(col(idCol), col(vecCol),
      posexplode(buckets(col(vecCol))).as(Seq("__table", "__bucket")))
    val qb = broadcast(queries.select(col(qidCol), col(qvecCol),
      posexplode(buckets(col(qvecCol))).as(Seq("__table", "__bucket"))))
    // score in place, then dedup multi-table hits on (qid, id): the
    // dedup shuffle carries 3 scalars, never the vectors
    val scored = cb.join(qb, Seq("__table", "__bucket"))
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col(vecCol), col(qvecCol)).as("score"))
      .groupBy(col(qidCol), col(idCol)).agg(max(col("score")).as("score"))
    rankTopK(scored, idCol, qidCol, k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCentroids`
    * deterministically hash-sampled corpus vectors partitions the
    * corpus into cells; each query probes its `nProbe` nearest cells
    * and scores only those vectors — cost ~ nProbe/nCentroids of
    * brute force.
    *
    * Scale shape: centroid selection is one tiny driver collect
    * (nCentroids vectors); assignment is a codegen'd map-side
    * expression (no shuffle); the probe is an equi-join on cell id
    * with the query side broadcast; ranking is the bounded-heap
    * partial aggregate. The cell relation can be written out
    * partitioned by `__cell` to make repeated query batches prune
    * whole files. */
  /** Deterministic "kmeans-lite" coarse quantizer: hash-sample
    * `nCentroids` corpus vectors (one tiny driver collect — the
    * sanctioned exception). `sampleKey` overrides the xxhash64
    * sampling order (the gate query passes an md5-of-id key so the
    * DuckDB oracle can derive the identical centroid set). Returns the
    * centroids flattened [c][dim] row-major. */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nCentroids: Int, seed: Long = 42L,
                      sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): Array[Double] = {
    val keyOf = sampleKey.getOrElse((id: org.apache.spark.sql.Column) => xxhash64(id, lit(seed)))
    val sampled = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(keyOf(col("__id")))
      .limit(nCentroids)
      .collect()
    val flat = new Array[Double](sampled.length * dim)
    sampled.zipWithIndex.foreach { case (r, ci) =>
      val v = r.getSeq[Double](1)
      var d = 0
      while (d < math.min(dim, v.length)) { flat(ci * dim + d) = v(d); d += 1 }
    }
    flat
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, qidCol: String, qvecCol: String,
              k: Int, dim: Int, nCentroids: Int = 16, nProbe: Int = 4,
              seed: Long = 42L,
              sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): DataFrame = {
    val flat = sampleCentroids(corpus, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val c = flat.length / dim
    val cell1 = VectorExpressions.nearestCentroids(col(vecCol), flat, dim, c, 1)
    val cb = corpus.withColumn("__cell", element_at(cell1, 1))
    val scored = probeCells(cb, queries, idCol, vecCol, qidCol, qvecCol, flat, dim, nProbe)
    rankTopK(scored, idCol, qidCol, k)
  }

  private def probeCells(cells: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, qidCol: String, qvecCol: String,
                         centroidsFlat: Array[Double], dim: Int, nProbe: Int): DataFrame = {
    val c = centroidsFlat.length / dim
    val qb = broadcast(queries.select(col(qidCol), col(qvecCol),
      explode(VectorExpressions.nearestCentroids(col(qvecCol), centroidsFlat, dim, c, nProbe)).as("__cell")))
    cells.join(qb, "__cell")
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col(vecCol), col(qvecCol)).as("score"))
  }

  /** All-corpus kNN graph: for EVERY vector, its k nearest neighbors
    * among LSH-bucket candidates — the self-join generalization of
    * [[lshTopK]] (whose query side must be small enough to broadcast;
    * here the query set IS the corpus). The kNN graph is the input
    * relation for graph-based semantic dedup, cluster seeding, and
    * diversity sampling.
    *
    * Scale shape: candidate generation is the bucketed self-join from
    * [[Dedup.embeddingPairs]] — the exchange carries (id, table,
    * bucket) longs, never vectors, with per-bucket caps against skew;
    * each undirected candidate pair is scored once and emitted in both
    * directions (two 3-scalar rows); ranking is the bounded-heap
    * partial aggregate, k rows per vector per map task into the final
    * shuffle. Output: (qid, vec_id, score, rank). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
               nBits: Int = 8, nTables: Int = 8, maxBucketSize: Int = 1000,
               planes: Option[Array[Double]] = None): DataFrame = {
    // threshold -2 < any cosine: keep every candidate pair. With a
    // keep-everything verify the cross-table dedup must run BEFORE the
    // verify joins (duplicates would otherwise ride the vector-carrying
    // pair exchange and bloat the top-k heaps for nothing) — the
    // opposite placement from the selective-threshold dedup paths.
    val pairs = Dedup.embeddingPairs(corpus, idCol, vecCol, dim, threshold = -2.0,
      nBits, nTables, maxBucketSize, planes, dedupBeforeVerify = true)
    // both directions from ONE read of the pairs: a union of two reads
    // ran the verify joins and cosines twice
    val directed = pairs
      .select(explode(array(
        struct(col("id_l").as("qid"), col("id_r").as("vec_id"), col("cosine").as("score")),
        struct(col("id_r").as("qid"), col("id_l").as("vec_id"), col("cosine").as("score"))))
        .as("__d"))
      .select(col("__d.qid"), col("__d.vec_id"), col("__d.score"))
      .filter(!isnan(col("score")))
    rankTopK(directed, "vec_id", "qid", k)
  }

  /** Materialize the IVF index as parquet PARTITIONED BY cell id:
    * at 100 TB the corpus is assigned once (map-side codegen'd
    * expression, no shuffle) and every later query batch reads ONLY
    * its probed cells — the broadcast cell join plants a dynamic
    * partition-pruning filter on the scan, so ~nProbe/nCentroids of
    * the files are touched (proven via the scan's numFiles metric in
    * SimilaritySpec). Returns the flattened centroids; persist them
    * next to the index for query-time reuse. */
  def buildIvfIndex(corpus: DataFrame, path: String, idCol: String, vecCol: String,
                    dim: Int, nCentroids: Int = 16, seed: Long = 42L,
                    sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): Array[Double] = {
    val flat = sampleCentroids(corpus, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val c = flat.length / dim
    val cell1 = VectorExpressions.nearestCentroids(col(vecCol), flat, dim, c, 1)
    // The cell-partitioned index write and the two `_driftbase`
    // evidence aggregates (see ivfMaintenanceDecision) are three
    // independent passes over the same corpus — overlapped from driver
    // threads (guide §2.6) so the build pays ~one corpus-pass wall
    // instead of three sequential ones. A fresh build has no crash
    // contract between them (a crash = rerun the build; `_driftbase`
    // has no `=` in its name, so partition discovery skips it). The old
    // store is deleted up front and the index APPENDS into the empty
    // path: an Overwrite would delete the base path at its start and
    // could wipe a `_driftbase` write that landed first.
    StoreProtocol.fsOf(corpus.sparkSession, path).delete(new org.apache.hadoop.fs.Path(path), true)
    val writeIndex = () => {
      corpus.withColumn("__cell", element_at(cell1, 1))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("__cell").parquet(path)
      ()
    }
    Pipeline.inParallel(writeIndex +: driftBaseWrites(corpus, path, vecCol): _*)
    flat
  }

  /** Append a delta batch to a persisted IVF index (see
    * [[buildIvfIndex]]) — the nightly shape of an embedding store:
    * the coarse quantizer is FROZEN (standard IVF maintenance — only
    * the inverted lists grow; re-clustering is a rebuild, not an
    * append), so the delta is assigned map-side against the stored
    * centroids and lands in the same cell partitions. Because
    * assignment depends only on (vector, centroids), the appended
    * index is bit-identical to a fresh build of old ∪ delta under the
    * same centroids — query results cannot tell them apart
    * (spec-pinned; gated as sim_ivf_append). Old vectors are never
    * re-read or re-written: the append costs O(delta).
    *
    * CRASH-RETRY-SAFE via the [[StoreProtocol]] staged commit (the
    * appendPostingsIndex shape): the delta stages under
    * `_staging/<batchId>/`, files rename into the live cells with a
    * `b<batchId>-` prefix, a `_commits/<batchId>` marker seals.
    * Re-running a committed batch is a no-op (the streaming twin is
    * exactly-once on the store); a retry after a crash first deletes
    * the batch's half-moved prefixed files, then applies it once —
    * a bare parquet `Append` would instead duplicate the vectors. */
  def appendIvfIndex(delta: DataFrame, path: String, centroidsFlat: Array[Double],
                     vecCol: String, dim: Int, batchId: String,
                     streamBatch: Boolean = false): Unit = {
    val fs = StoreProtocol.fsOf(delta.sparkSession, path)
    StoreProtocol.append(fs, path, batchId, streamBatch, delta, ivfRels, () => repairIvf(fs, path))(
      appendIvfSteps(delta, path, centroidsFlat, vecCol, dim, batchId))
  }

  /** An IVF append moves a batch into the cell dirs under the root. */
  private val ivfRels = Seq("cells" -> "")

  /** The IVF append protocol as named steps — package-visible so the
    * crash-property spec can kill the run at every step boundary. */
  private[graft] def appendIvfSteps(delta: DataFrame, path: String,
                                    centroidsFlat: Array[Double], vecCol: String,
                                    dim: Int, batchId: String): Seq[(String, () => Unit)] = {
    val fs = StoreProtocol.fsOf(delta.sparkSession, path)
    val c = centroidsFlat.length / dim
    val cell1 = VectorExpressions.nearestCentroids(col(vecCol), centroidsFlat, dim, c, 1)
    val stage = StoreProtocol.stagingDir(path, batchId)
    Seq(
      "stage-delta" -> (() =>
        delta.withColumn("__cell", element_at(cell1, 1))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__cell").parquet(stage.toString)),
    ) ++ StoreProtocol.commitSteps(fs, path, batchId, delta, ivfRels)
  }

  /** The IVF store's entry repair, run by append, delete and rebuild:
    * roll a crashed rebuild to a consistent root, undo every
    * half-applied append (no derived state to recompute — the index IS
    * the data files), then settle half-finished per-cell delete swaps.
    * An append that skipped the last would `mkdirs` a torn delete's
    * `__cell=N` next to its `_old__cell=N`, and the delete's retry
    * would then drop the aside copy — every survivor of that cell —
    * as a completed swap's leftover. */
  private def repairIvf(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    repairIvfRebuild(fs, path)
    StoreProtocol.repairStaged(fs, path, ivfRels)
    repairIvfDelete(fs, path)
  }

  /** Delete vectors from a persisted IVF index without a rebuild —
    * the retire third of embedding-store maintenance ([[buildIvfIndex]]
    * / [[appendIvfIndex]] / ivfIndexStream cover build/append/stream):
    * when dedup retraction or a takedown drops documents, their
    * vectors must leave the index while the quantizer stays frozen.
    *
    * Scale shape: touched cells are discovered from an (id, cell)-only
    * projection (two columns off the columnar scan, vectors never
    * read) semi-joined with the broadcast delete set — the touched
    * list is ≤ nCentroids values, a by-construction-tiny collect (the
    * queryIvfIndex probed-cells contract). Survivors of ONLY those
    * cells are anti-joined and rewritten through a staging dir, then
    * each touched cell partition is swapped in with delete+rename —
    * the dynamic-partition-overwrite shape made explicit, because a
    * cell EMPTIED by the delete writes no staging partition and
    * dynamic overwrite would silently keep its old files; here absence
    * = drop. Untouched cells are never read and never written: cost is
    * O(touched cells), not O(index).
    *
    * Idempotent at-least-once (the appendIvfIndex contract):
    * re-running the same delete finds no surviving target ids in pass
    * 2 (no touched cells, no-op), and a crash at ANY point is
    * repaired by [[repairIvf]] at the next maintenance entry —
    * append, delete or rebuild (property-pinned: the specs kill the
    * protocol at every step boundary) — cell dirs are
    * renamed aside (`_old__cell=N`) before being replaced, never
    * deleted first. While an `_old` lingers, a root read fails LOUDLY
    * on the conflicting partition name (never silently resurrects);
    * [[ivfStoreStats]] stays readable and surfaces it as
    * pending_cell_swaps. Entry repair disambiguates a leftover by the
    * staging dir the crashed run left behind (staging outlives every
    * per-cell swap by construction): a survivor cell (staging holds
    * its replacement) rolls BACK — the re-run re-touches it; an
    * EMPTIED cell (no staged replacement — absence is the delete)
    * rolls FORWARD, completing the drop, so a later UNRELATED delete
    * can never resurrect the dead vectors. Rename failures throw
    * instead of silently losing a cell. delete ∘ append == rebuild of
    * the surviving set under the same centroids — spec-pinned, and
    * gated (sim_ivf_delete) against the sim_ivf_topk oracle over the
    * filtered corpus. Returns the number of touched cells. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         deleteIds: DataFrame, idCol: String): Int = {
    val fs = StoreProtocol.fsOf(spark, path)
    repairIvf(fs, path)
    // the store's stop-the-world window: bound the commit-marker set
    // (the compactPostingsIndex discipline — only the newest streamed
    // batch can ever be redelivered)
    StoreProtocol.pruneCommitMarkers(fs, path)
    val (touched, steps) = deleteFromIvfSteps(spark, fs, path, deleteIds, idCol)
    steps.foreach(_._2())
    touched.length
  }

  /** Roll half-finished per-cell swaps to a consistent state — see
    * [[deleteFromIvfIndex]] for the staging-presence disambiguation.
    * Clears any stale staging afterwards (a re-run stages afresh). */
  private[graft] def repairIvfDelete(fs: org.apache.hadoop.fs.FileSystem,
                                     path: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + "__delstage")
    val stagingExists = fs.exists(staging)
    if (fs.exists(base)) fs.listStatus(base).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("_old__cell=")) {
        val cell = n.stripPrefix("_old")
        val live = new org.apache.hadoop.fs.Path(base, cell)
        if (fs.exists(live)) { fs.delete(s.getPath, true); () } // completed swap leftover
        else if (stagingExists && !fs.exists(new org.apache.hadoop.fs.Path(staging, cell))) {
          // crashed mid-drop of an EMPTIED cell: complete the drop —
          // restoring would resurrect the deleted vectors
          fs.delete(s.getPath, true); ()
        } else if (!fs.rename(s.getPath, live)) { // survivor cell: roll back, re-run re-touches
          throw new java.io.IOException(s"ivf delete repair: rename ${s.getPath} -> $live failed")
        }
      }
    }
    if (stagingExists) { fs.delete(staging, true); () }
  }

  /** The delete protocol as named steps (the crash-property surface):
    * one staging write, then per touched cell aside → swap-in (absent
    * for emptied cells) → drop-old, staging cleanup last — staging
    * must outlive every swap, it is what entry repair disambiguates
    * with. Returns (touched cells, steps). */
  private[graft] def deleteFromIvfSteps(spark: org.apache.spark.sql.SparkSession,
                                        path: String, deleteIds: DataFrame, idCol: String)
      : (Array[Int], Seq[(String, () => Unit)]) =
    deleteFromIvfSteps(spark, StoreProtocol.fsOf(spark, path), path, deleteIds, idCol)

  private[graft] def deleteFromIvfSteps(spark: org.apache.spark.sql.SparkSession,
                                        fs: org.apache.hadoop.fs.FileSystem, path: String,
                                        deleteIds: DataFrame, idCol: String)
      : (Array[Int], Seq[(String, () => Unit)]) = {
    val idx = spark.read.parquet(path)
    val dels = broadcast(deleteIds.select(col(idCol)).distinct())
    val touched = idx.select(col(idCol), col("__cell"))
      .join(dels, Seq(idCol), "left_semi")
      .select(col("__cell")).distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return (touched, Seq.empty)
    val staging = path + "__delstage"
    val stageStep = "stage-survivors" -> (() =>
      idx.filter(col("__cell").isin(touched.map(Int.box): _*))
        .join(dels, Seq(idCol), "left_anti")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("__cell").parquet(staging))
    val cellSteps = touched.toSeq.flatMap { c =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/__cell=$c")
      val old = new org.apache.hadoop.fs.Path(s"$path/_old__cell=$c")
      val src = new org.apache.hadoop.fs.Path(s"$staging/__cell=$c")
      Seq(
        s"cell-$c-aside" -> (() => {
          if (fs.exists(dst) && !fs.rename(dst, old))
            throw new java.io.IOException(s"ivf delete: rename $dst -> $old failed")
        }),
        s"cell-$c-swap-in" -> (() => {
          // no staging dir = cell emptied: dropping old IS the delete
          if (fs.exists(src) && !fs.rename(src, dst)) {
            val e = new java.io.IOException(s"ivf delete: rename $src -> $dst failed")
            if (!fs.rename(old, dst))
              e.addSuppressed(new java.io.IOException(s"ivf delete: restore rename $old -> $dst failed"))
            throw e
          }
        }),
        s"cell-$c-drop-old" -> (() => { if (fs.exists(old)) { fs.delete(old, true) }; () }),
      )
    }
    val cleanStep = "clean-staging" -> (() => {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true); ()
    })
    (touched, (stageStep +: cellSteps) :+ cleanStep)
  }

  /** One-row health report for a persisted IVF index — the
    * postingsStoreStats twin: row/file counts come from parquet
    * metadata and directory listings, never a vector scan. Output:
    * (n_vectors, n_cells, n_files, bytes, uncommitted_batches,
    * pending_cell_swaps, replay_hw, replay_named) — the last two
    * surface the `_applied` replay ledger (the postingsStoreStats
    * columns: what an operator checks before resetting a stream
    * checkpoint). */
  def ivfStoreStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val fs = StoreProtocol.fsOf(spark, path)
    // a rebuild crash between swap-aside and swap-in leaves the live
    // root momentarily absent — report over the preserved `__old` copy
    // (identical data pre-swap) instead of failing in exactly the
    // state the probe exists to surface; `pending_rebuild` flags it
    val pendingRebuild = fs.exists(new org.apache.hadoop.fs.Path(path + "__rebuild"))
    val base = StoreProtocol.readable(fs, new org.apache.hadoop.fs.Path(path))
    val statsRoot = base.toString
    val cellDirs = fs.listStatus(base).filter(_.getPath.getName.startsWith("__cell="))
    val pendingOld = fs.listStatus(base).count(_.getPath.getName.startsWith("_old__cell="))
    val nFiles = cellDirs.map(d => fs.listStatus(d.getPath)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))).sum
    val bytes = fs.getContentSummary(base).getLength
    // count from the LIVE cell dirs explicitly (basePath keeps the
    // partition column): a root read would trip over a pending
    // _old__cell dir's conflicting partition name — the health report
    // must stay readable in exactly the state it exists to surface
    val nVectors =
      if (cellDirs.isEmpty) 0L
      else spark.read.option("basePath", statsRoot)
        .parquet(cellDirs.map(_.getPath.toString).toSeq: _*).count()
    val (replayHw, replayIds) = StoreProtocol.readLedger(fs, statsRoot)
    spark.createDataFrame(Seq((nVectors,
        cellDirs.length.toLong, nFiles.toLong, bytes, StoreProtocol.uncommittedBatches(fs, statsRoot),
        pendingOld.toLong, replayHw, replayIds.size.toLong, pendingRebuild)))
      .toDF("n_vectors", "n_cells", "n_files", "bytes",
        "uncommitted_batches", "pending_cell_swaps", "replay_hw", "replay_named",
        "pending_rebuild")
  }

  /** Query a persisted IVF index (see [[buildIvfIndex]]). The probed
    * cell set (≤ nQueries × nProbe values — tiny by the small-query-
    * batch contract, one driver collect like the centroids) is applied
    * as a STATIC partition filter on the index scan, so only those
    * cells' files are read (`PartitionFilters` in the plan — proven
    * via numFiles in the spec). Static beats relying on dynamic
    * partition pruning here: DPP's cost heuristic can decline exactly
    * when the batch is small, which is the common case. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    centroidsFlat: Array[Double], queries: DataFrame,
                    idCol: String, vecCol: String, qidCol: String, qvecCol: String,
                    k: Int, dim: Int, nProbe: Int = 4): DataFrame = {
    val c = centroidsFlat.length / dim
    val probed = queries
      .select(explode(VectorExpressions.nearestCentroids(col(qvecCol), centroidsFlat, dim, c, nProbe)).as("__cell"))
      .distinct().collect().map(_.getInt(0))
    val cells = spark.read.parquet(path).filter(col("__cell").isin(probed.map(Int.box): _*))
    val scored = probeCells(cells, queries, idCol, vecCol, qidCol, qvecCol,
      centroidsFlat, dim, nProbe)
    rankTopK(scored, idCol, qidCol, k)
  }

  /** IVF+PQ ANN — the memory-bounded composition every large vector
    * store runs: the index holds only (id, cell, m PQ codes) — ~5 B/
    * vector instead of 4·dim — so a 100 TB float corpus compresses to
    * an index that fits cluster memory. Query = IVF probe (broadcast
    * equi-join on cell) → approximate scoring against the PQ-DECODED
    * candidate vectors (a map-side transform with the codebooks
    * inlined as literals — no lookup join) → top-`rescore` candidates
    * fetched by id from the full-precision corpus (the only touch of
    * the raw vectors, |queries|·rescore rows) → exact top-k.
    *
    * Recall loss comes only from quantization distortion inside the
    * probed cells; `rescore ≥ 4·k` recovers most of it (spec measures
    * recall vs [[bruteForceTopK]] on clustered data). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, qidCol: String, qvecCol: String,
                k: Int, dim: Int, nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 4, codes: Int = 16, rescore: Int = 20,
                seed: Long = 42L,
                sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): DataFrame = {
    val flat = sampleCentroids(corpus, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val c = flat.length / dim
    val cbs = Quantize.pqCodebooks(corpus, idCol, vecCol, dim, m, codes,
      iters = 2, seed = seed, sampleKey = sampleKey)
    // the compressed index relation: (id, codes, cell) in ONE map-side
    // projection — codes and cell assignment are both codegen'd
    // nearest-centroid expressions over the same row (r15: this was a
    // self-join of two projections of the same corpus scan — one whole
    // Exchange+join removed, exactly the fused shape the persisted
    // store's ivfPqCodesRel already used; same (id, codes, cell)
    // tuples by construction)
    val index = corpus.select(col(idCol),
      Quantize.pqCodes(col(vecCol), dim, cbs).as("codes"),
      element_at(VectorExpressions.nearestCentroids(col(vecCol), flat, dim, c, 1), 1)
        .as("__cell"))
    val qb = broadcast(queries.select(col(qidCol), col(qvecCol),
      explode(VectorExpressions.nearestCentroids(col(qvecCol), flat, dim, c, nProbe))
        .as("__cell")))
    val approx = Quantize.pqDecodeCol(index.join(qb, "__cell"), "codes", cbs, dim)
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col("__dec"), col(qvecCol)).as("score"))
    // shortlist is ≤ |queries|·rescore rows BY CONSTRUCTION (the same
    // small-query-batch contract that broadcasts qb above) — broadcast
    // it so the corpus side of the exact rescore is never shuffled
    // (the persisted queryIvfPqIndex already did; r15 aligns this path)
    val shortlist = broadcast(rankTopK(approx, idCol, qidCol, rescore)
      .select(col(qidCol), col(idCol)))
    // exact rescore: fetch full-precision vectors ONLY for the shortlist
    val exact = corpus.select(col(idCol), col(vecCol))
      .join(shortlist, idCol)
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), qidCol)
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col(vecCol), col(qvecCol)).as("score"))
    rankTopK(exact, idCol, qidCol, k)
  }

  /** ANN quality evaluation: per-query recall@k of an approximate
    * top-k result against the exact (brute-force) top-k — the metric
    * that decides whether an LSH/IVF parameterization is usable
    * before pointing it at the full corpus. Both inputs are (qid, id)
    * relations from [[lshTopK]]/[[ivfTopK]]/[[bruteForceTopK]].
    *
    * Scale shape: both sides are ≤ k·|queries| rows by construction
    * (tiny — the corpus never appears), one left join + one
    * partial-agg groupBy on the qid. hits and truth_k are exact
    * integers; recall is one rounded division.
    * Output: (qid, truth_k, hits, recall). */
  def recallAtK(ann: DataFrame, truth: DataFrame,
                qidCol: String, idCol: String): DataFrame =
    truth.select(col(qidCol), col(idCol))
      .join(ann.select(col(qidCol), col(idCol), lit(1L).as("__hit")),
        Seq(qidCol, idCol), "left")
      .groupBy(col(qidCol))
      .agg(count(lit(1)).as("truth_k"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall", round(col("hits").cast("double") / col("truth_k"), 6))

  // ==================================================================
  // PQ-encoded persisted IVF store — the 100 TB memory shape of
  // [[buildIvfIndex]]: the scan-and-score relation holds (id, cell,
  // m PQ codes) — ~4·m+12 bytes/vector instead of 4·dim — and the raw
  // vectors live in a cell-partitioned SIDECAR touched only to
  // exact-rescore the per-query shortlist (|queries|·rescore rows).
  // Same crash-retry-safe StoreProtocol as the raw store and the
  // postings index; same frozen-quantizer append contract (and the
  // codebooks are frozen with it — append == rebuild of the union
  // under the same quantizer AND codebooks, spec-pinned).
  // ==================================================================

  private def ivfCellOf(vecCol: String, centroidsFlat: Array[Double], dim: Int) =
    element_at(VectorExpressions.nearestCentroids(col(vecCol), centroidsFlat, dim,
      centroidsFlat.length / dim, 1), 1)

  /** The (id, codes, cell) compressed relation — ONE map-side
    * projection (codes and cell assignment are both codegen'd
    * nearest-centroid expressions over the same row; no join, no
    * shuffle before the partitioned write). */
  private def ivfPqCodesRel(batch: DataFrame, centroidsFlat: Array[Double],
                            codebooks: Array[Array[Double]], idCol: String,
                            vecCol: String, dim: Int): DataFrame =
    batch.select(col(idCol), Quantize.pqCodes(col(vecCol), dim, codebooks).as("codes"),
      ivfCellOf(vecCol, centroidsFlat, dim).as("__cell"))

  /** The raw-vector rescore sidecar, cell-partitioned with the SAME
    * assignment so the rescore read prunes to the probed cells. */
  private def ivfPqVectorsRel(batch: DataFrame, centroidsFlat: Array[Double],
                              idCol: String, vecCol: String, dim: Int): DataFrame =
    batch.select(col(idCol), col(vecCol), ivfCellOf(vecCol, centroidsFlat, dim).as("__cell"))

  /** Build the PQ-encoded persisted IVF index at `path`:
    *
    *   codes/__cell=N/    (idCol, codes array&lt;int&gt;[m])   — the index
    *   vectors/__cell=N/  (idCol, vecCol)                — rescore sidecar
    *
    * plus the StoreProtocol maintenance dirs and the `_driftbase`
    * snapshot for [[ivfMaintenanceDecision]]. A build defines a FRESH
    * store (ledger/markers/staging cleared — the buildIvfIndex
    * contract, here made explicit because the two relations live in
    * subdirs a plain Overwrite would not truncate). Returns the frozen
    * (coarse centroids, PQ codebooks) — persist them next to the store
    * for query/append reuse. The corpus is scanned twice (codes pass,
    * sidecar pass) rather than cached: at build scale the corpus does
    * not fit memory and both passes are pure map-side projections. */
  def buildIvfPqIndex(corpus: DataFrame, path: String, idCol: String, vecCol: String,
                      dim: Int, nCentroids: Int = 16, m: Int = 4, codes: Int = 16,
                      pqIters: Int = 2, seed: Long = 42L,
                      sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)
      : (Array[Double], Array[Array[Double]]) = {
    val spark = corpus.sparkSession
    val fs = StoreProtocol.fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val flat = sampleCentroids(corpus, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val cbs = Quantize.pqCodebooks(corpus, idCol, vecCol, dim, m, codes, pqIters, seed, sampleKey)
    ivfPqCodesRel(corpus, flat, cbs, idCol, vecCol, dim)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__cell").parquet(s"$path/codes")
    ivfPqVectorsRel(corpus, flat, idCol, vecCol, dim)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__cell").parquet(s"$path/vectors")
    writeIvfDriftBase(corpus, path, vecCol)
    (flat, cbs)
  }

  /** Append a delta under the FROZEN (quantizer, codebooks) — the
    * [[appendIvfIndex]] contract extended to PQ: code assignment
    * depends only on (vector, codebooks), so the appended store is
    * bit-identical to a fresh build of old ∪ delta under the same
    * parameters (spec-pinned). Crash-retry-safe via the same staged
    * StoreProtocol commit over BOTH relations; the marker records the
    * delta's content fingerprint, so a reset-checkpoint redelivery
    * with different content fails loudly. O(delta) — old vectors and
    * codes are never re-read or re-written. */
  def appendIvfPqIndex(delta: DataFrame, path: String, centroidsFlat: Array[Double],
                       codebooks: Array[Array[Double]], idCol: String, vecCol: String,
                       dim: Int, batchId: String, streamBatch: Boolean = false): Unit = {
    val fs = StoreProtocol.fsOf(delta.sparkSession, path)
    // the PQ store's one entry repair: it has no delete or rebuild
    StoreProtocol.append(fs, path, batchId, streamBatch, delta.select(col(idCol), col(vecCol)),
      ivfPqRels, () => StoreProtocol.repairStaged(fs, path, ivfPqRels))(
      appendIvfPqSteps(delta, path, centroidsFlat, codebooks, idCol, vecCol, dim, batchId))
  }

  /** The two relations a PQ append moves a batch into. */
  private val ivfPqRels = Seq("codes", "vectors").map(r => r -> r)

  /** The PQ append protocol as named steps — package-visible so the
    * crash-property spec can kill the run at every step boundary.
    * Both relations stage before either moves; the marker seals both. */
  private[graft] def appendIvfPqSteps(delta: DataFrame, path: String,
                                      centroidsFlat: Array[Double],
                                      codebooks: Array[Array[Double]],
                                      idCol: String, vecCol: String, dim: Int,
                                      batchId: String): Seq[(String, () => Unit)] = {
    val fs = StoreProtocol.fsOf(delta.sparkSession, path)
    val stage = StoreProtocol.stagingDir(path, batchId).toString
    Seq(
      "stage-codes" -> (() =>
        ivfPqCodesRel(delta, centroidsFlat, codebooks, idCol, vecCol, dim)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__cell").parquet(s"$stage/codes")),
      "stage-vectors" -> (() =>
        ivfPqVectorsRel(delta, centroidsFlat, idCol, vecCol, dim)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__cell").parquet(s"$stage/vectors")),
    ) ++ StoreProtocol.commitSteps(fs, path, batchId, delta.select(col(idCol), col(vecCol)),
      ivfPqRels)
  }

  /** Query the PQ store — output bit-identical to [[ivfPqTopK]] over
    * the same corpus and frozen parameters (gate-shared oracle, the
    * sim_ivf_index argument: the store only changes WHICH FILES are
    * read). The probed cell set is a static partition filter on the
    * codes scan (≤ |queries|·nProbe cells listed and read); the
    * sidecar is read with the SAME filter and joined to the broadcast
    * shortlist, so full-precision vectors are touched for probed
    * cells only and shipped for the shortlist only. */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      centroidsFlat: Array[Double], codebooks: Array[Array[Double]],
                      queries: DataFrame, idCol: String, vecCol: String,
                      qidCol: String, qvecCol: String, k: Int, dim: Int,
                      nProbe: Int = 4, rescore: Int = 20): DataFrame = {
    val c = centroidsFlat.length / dim
    val probed = queries
      .select(explode(VectorExpressions.nearestCentroids(col(qvecCol), centroidsFlat, dim, c, nProbe)).as("__cell"))
      .distinct().collect().map(_.getInt(0)).map(Int.box).toSeq
    val qb = broadcast(queries.select(col(qidCol), col(qvecCol),
      explode(VectorExpressions.nearestCentroids(col(qvecCol), centroidsFlat, dim, c, nProbe)).as("__cell")))
    val approx = Quantize.pqDecodeCol(
        spark.read.parquet(s"$path/codes").filter(col("__cell").isin(probed: _*))
          .join(qb, "__cell"), "codes", codebooks, dim)
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col("__dec"), col(qvecCol)).as("score"))
    val shortlist = rankTopK(approx, idCol, qidCol, rescore)
      .select(col(qidCol), col(idCol))
    val exact = spark.read.parquet(s"$path/vectors").filter(col("__cell").isin(probed: _*))
      .select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), idCol)
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), qidCol)
      .select(col(qidCol), col(idCol),
        V.cosineRounded(col(vecCol), col(qvecCol)).as("score"))
    rankTopK(exact, idCol, qidCol, k)
  }

  /** One-row health report for a PQ store — the [[ivfStoreStats]]
    * twin over the two-relation layout. codes_bytes vs vectors_bytes
    * is the compression evidence (the index the query scans vs the
    * sidecar it prunes into). */
  def ivfPqStoreStats(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val fs = StoreProtocol.fsOf(spark, path)
    val codesDir = new org.apache.hadoop.fs.Path(s"$path/codes")
    val cellDirs =
      if (!fs.exists(codesDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(codesDir).filter(_.getPath.getName.startsWith("__cell="))
    val nFiles = cellDirs.map(d => fs.listStatus(d.getPath)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))).sum
    val codesBytes = if (fs.exists(codesDir)) fs.getContentSummary(codesDir).getLength else 0L
    val vecsDir = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val vecBytes = if (fs.exists(vecsDir)) fs.getContentSummary(vecsDir).getLength else 0L
    val nVectors =
      if (cellDirs.isEmpty) 0L
      else spark.read.option("basePath", codesDir.toString)
        .parquet(cellDirs.map(_.getPath.toString).toSeq: _*).count()
    val (replayHw, replayIds) = StoreProtocol.readLedger(fs, path)
    spark.createDataFrame(Seq((nVectors, cellDirs.length.toLong, nFiles.toLong,
        codesBytes, vecBytes, StoreProtocol.uncommittedBatches(fs, path), replayHw,
        replayIds.size.toLong)))
      .toDF("n_vectors", "n_cells", "n_files", "codes_bytes", "vectors_bytes",
        "uncommitted_batches", "replay_hw", "replay_named")
  }

  // ==================================================================
  // Evidence-driven IVF maintenance — the compactIfNeeded twin for
  // embedding stores. A frozen quantizer degrades SILENTLY: appends
  // drawn from a drifted distribution pile into few cells (probe
  // selectivity decays toward a full scan) while the assignment stays
  // "correct". The decision function prices exactly that, from two
  // cheap aggregate passes, against the `_driftbase` snapshot the
  // build wrote. Decision table (thresholds are parameters):
  //
  //   cell_skew = max/mean live-cell size  > maxCellSkew     → rebuild
  //   centroid_cosine(base, current)       < minCentroidCosine → rebuild
  //   |norm_ratio − 1|                     > maxNormRatioDrift → rebuild
  //   otherwise                                               → healthy
  // ==================================================================

  /** Snapshot the corpus distribution the quantizer was trained on:
    * per-dim decimal sums + (n, Σ|x|²) — the quality_emb_drift
    * evidence halves ([[Quality.embeddingDrift]]'s recipe), persisted
    * as two tiny relations so drift is measurable later without ever
    * persisting vectors twice. */
  private[graft] def writeIvfDriftBase(corpus: DataFrame, path: String,
                                       vecCol: String): Unit =
    Pipeline.inParallel(driftBaseWrites(corpus, path, vecCol): _*)

  /** The two `_driftbase` evidence writes as independent thunks — two
    * aggregate passes over the same corpus with disjoint outputs, so
    * callers overlap them (and, on a fresh build, the index write
    * itself) from driver threads (guide §2.6). Crash contract
    * unchanged: both are Overwrite relations recomputed from the
    * corpus, and every caller sits inside a build/rebuild whose
    * recovery is "rerun the build" (the rebuild path's named step
    * stays ONE step — intra-step concurrency adds no new observable
    * crash state to the step-boundary property). */
  private def driftBaseWrites(corpus: DataFrame, path: String,
                              vecCol: String): Seq[() => Unit] = Seq(
    () => Quality.driftDimSums(corpus, vecCol, "b")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_driftbase/dims"),
    () => Quality.driftScalarStats(corpus, vecCol, "base")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_driftbase/scalar"))

  /** Read the LIVE cell partitions of a store relation with basePath —
    * the health-probe discipline: a pending `_old__cell=N` swap dir
    * must not fail the read it exists to be surfaced by. */
  private def liveCellRead(spark: org.apache.spark.sql.SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem, rel: String): Option[DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(rel)
    if (!fs.exists(base)) return None
    val dirs = fs.listStatus(base).filter(_.getPath.getName.startsWith("__cell="))
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", rel).parquet(dirs.map(_.getPath.toString).toSeq: _*))
  }

  /** Evidence-based re-cluster decision for a persisted IVF store
    * (raw [[buildIvfIndex]] layout, or `pq = true` for the
    * [[buildIvfPqIndex]] two-relation layout). Two aggregate-only
    * passes over the store (cell sizes off a 1-column projection;
    * drift sums off the vectors), no driver-side vector handling —
    * the nightly policy check an operator schedules between appends,
    * priced far under the rebuild it decides about.
    *
    * Output (1 row): (n_vectors, n_cells, cell_skew, centroid_cosine,
    * norm_ratio, skew_due, drift_due, rebuild_due, reason). cell_skew
    * is max/mean over LIVE cells (a hot cell is what decays probe
    * selectivity); drift metrics are NaN (and drift_due false, with
    * the reason recorded) for a pre-policy store with no `_driftbase`
    * snapshot. */
  def ivfMaintenanceDecision(spark: org.apache.spark.sql.SparkSession, path: String,
                             vecCol: String, maxCellSkew: Double = 4.0,
                             minCentroidCosine: Double = 0.98,
                             maxNormRatioDrift: Double = 0.2,
                             pq: Boolean = false): DataFrame = {
    val fs = StoreProtocol.fsOf(spark, path)
    // a rebuild crash between aside and swap-in leaves the live root
    // absent — decide over the preserved `__old` copy (identical data)
    val root = StoreProtocol.readable(fs, new org.apache.hadoop.fs.Path(path)).toString
    val cellsRel = if (pq) s"$root/codes" else root
    val vecsRel = if (pq) s"$root/vectors" else root
    val sizes = liveCellRead(spark, fs, cellsRel)
      .map(_.groupBy(col("__cell")).count()
        .agg(count(lit(1)).cast("long"), coalesce(sum(col("count")), lit(0L)),
          coalesce(max(col("count")), lit(0L))).collect()(0))
    val (nCells, nVec, mxCell) = sizes.fold((0L, 0L, 0L))(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val skew = if (nCells == 0 || nVec == 0) 0.0
      else math.rint(mxCell.toDouble * nCells / nVec * 1e6) / 1e6
    val hasBase = fs.exists(new org.apache.hadoop.fs.Path(s"$root/_driftbase/scalar"))
    val cur = liveCellRead(spark, fs, vecsRel)
    val (cos, normRatio) =
      if (!hasBase || cur.isEmpty) (Double.NaN, Double.NaN)
      else {
        val cosV = spark.read.parquet(s"$root/_driftbase/dims")
          .join(Quality.driftDimSums(cur.get, vecCol, "c"), "__i")
          .agg(sum(col("__sb") * col("__sc")).as("__dot"),
            sum(col("__sb") * col("__sb")).as("__nb"),
            sum(col("__sc") * col("__sc")).as("__nc"))
          .select(round(col("__dot").cast("double") /
            (sqrt(col("__nb").cast("double")) * sqrt(col("__nc").cast("double"))), 6))
          .collect()(0).getDouble(0)
        val b = spark.read.parquet(s"$root/_driftbase/scalar").collect()(0)
        val c = Quality.driftScalarStats(cur.get, vecCol, "cur").collect()(0)
        val msBase = b.getDecimal(1).doubleValue / b.getLong(0)
        val msCur = c.getDecimal(1).doubleValue / c.getLong(0)
        (cosV, math.rint(msCur / msBase * 1e6) / 1e6)
      }
    val skewDue = skew > maxCellSkew
    val cosDue = hasBase && !cos.isNaN && cos < minCentroidCosine
    val normDue = hasBase && !normRatio.isNaN && math.abs(normRatio - 1.0) > maxNormRatioDrift
    val reasons = Seq(
      if (skewDue) Some(s"cell_skew $skew > $maxCellSkew") else None,
      if (cosDue) Some(s"centroid_cosine $cos < $minCentroidCosine") else None,
      if (normDue) Some(s"norm_ratio $normRatio outside 1.0 +- $maxNormRatioDrift") else None,
      if (!hasBase) Some("no _driftbase snapshot (pre-policy build): drift unmeasured") else None,
    ).flatten
    spark.createDataFrame(Seq((nVec, nCells, skew, cos, normRatio,
        skewDue, cosDue || normDue, skewDue || cosDue || normDue,
        if (reasons.isEmpty) "healthy" else reasons.mkString("; "))))
      .toDF("n_vectors", "n_cells", "cell_skew", "centroid_cosine", "norm_ratio",
        "skew_due", "drift_due", "rebuild_due", "reason")
  }

  /** Re-cluster a raw IVF store IN PLACE from its current contents —
    * the action [[ivfMaintenanceDecision]] schedules: fresh centroids
    * sampled from today's distribution, every vector re-assigned, the
    * `_driftbase` snapshot reset to the new baseline. The caller's
    * frozen quantizer is STALE afterwards — use the returned centroids
    * for every later append/query (the reason rebuild is an explicit
    * operator decision, not an automatic side effect of append).
    *
    * Crash-retry-safe (the protocol-rule-1 shape): the new store is
    * fully written to `path__rebuild` — WITH the replay ledger and
    * commit markers copied in, because a rebuild-in-place is
    * MAINTENANCE, not a fresh build: the stream checkpoint feeding
    * this store lives on, so replay protection must survive (contrast
    * [[buildIvfIndex]], where clearing it is the contract) — sealed
    * with a `_ready` witness, and only then swapped in via
    * aside → rename → drop-old. Entry repair rolls a sealed rebuild
    * FORWARD when the live root is missing, discards an unsealed one,
    * and [[ivfStoreStats]] stays readable throughout (pending_rebuild
    * + the `__old` fallback). A PQ store re-clusters by re-running
    * [[buildIvfPqIndex]] over its sidecar vectors into a fresh path —
    * codebooks must re-train with the quantizer, so there is no
    * in-place shortcut to offer. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String, dim: Int, nCentroids: Int = 16,
                      seed: Long = 42L,
                      sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): Array[Double] = {
    val fs = StoreProtocol.fsOf(spark, path)
    repairIvf(fs, path)
    StoreProtocol.foldMarkersIntoLedger(fs, path)
    val (flat, steps) = rebuildIvfSteps(spark, path, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    steps.foreach(_._2())
    flat
  }

  /** Decision + rebuild in one call — the nightly maintenance entry.
    * Returns the new centroids when a rebuild ran (re-point the frozen
    * quantizer!), None when the store is healthy. */
  def rebuildIvfIfNeeded(spark: org.apache.spark.sql.SparkSession, path: String,
                         idCol: String, vecCol: String, dim: Int, nCentroids: Int = 16,
                         seed: Long = 42L,
                         sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None,
                         maxCellSkew: Double = 4.0, minCentroidCosine: Double = 0.98,
                         maxNormRatioDrift: Double = 0.2): Option[Array[Double]] = {
    val due = ivfMaintenanceDecision(spark, path, vecCol, maxCellSkew,
      minCentroidCosine, maxNormRatioDrift).collect()(0).getAs[Boolean]("rebuild_due")
    if (due) Some(rebuildIvfIndex(spark, path, idCol, vecCol, dim, nCentroids, seed, sampleKey))
    else None
  }

  /** The rebuild protocol as named steps (the crash-property surface).
    * The source relation is read lazily from the LIVE cells, which
    * stay untouched until the aside — every write step re-scans them. */
  private[graft] def rebuildIvfSteps(spark: org.apache.spark.sql.SparkSession, path: String,
                                     idCol: String, vecCol: String, dim: Int, nCentroids: Int,
                                     seed: Long,
                                     sampleKey: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column])
      : (Array[Double], Seq[(String, () => Unit)]) = {
    val fs = StoreProtocol.fsOf(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    val rebuild = new org.apache.hadoop.fs.Path(path + "__rebuild")
    val corpus = liveCellRead(spark, fs, path)
      .getOrElse(throw new java.io.IOException(s"ivf rebuild: no live cells under $path"))
      .drop("__cell")
    val flat = sampleCentroids(corpus, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val cell1 = ivfCellOf(vecCol, flat, dim)
    val steps = Seq(
      "clear-stale-rebuild" -> (() => { fs.delete(rebuild, true); () }),
      "write-rebuild" -> (() =>
        corpus.withColumn("__cell", cell1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__cell").parquet(rebuild.toString)),
      "write-driftbase" -> (() => writeIvfDriftBase(corpus, rebuild.toString, vecCol)),
      "carry-replay" -> (() => {
        // replay protection is maintenance state that must survive a
        // rebuild-in-place (the stream feeding this store lives on)
        Seq("_applied", "_commits").foreach { n =>
          val src = new org.apache.hadoop.fs.Path(base, n)
          if (fs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(rebuild, n), false, fs.getConf)
        }
      }),
      "mark-ready" -> (() => fs.create(new org.apache.hadoop.fs.Path(rebuild, "_ready"), true).close()),
    ) ++ StoreProtocol.swapSteps(fs, base, rebuild, "root") :+
      ("drop-ready" -> (() => { fs.delete(new org.apache.hadoop.fs.Path(base, "_ready"), false); () }))
    (flat, steps)
  }

  /** Roll a crashed rebuild to a consistent state — called at every
    * maintenance entry. A SEALED rebuild (`_ready` witness) with the
    * live root missing rolls FORWARD (the swap had begun — finishing
    * it is the only direction that cannot lose the newer state); an
    * unsealed rebuild, or one whose live root still exists, is
    * discarded — the retry rebuilds afresh from the intact live store. */
  private[graft] def repairIvfRebuild(fs: org.apache.hadoop.fs.FileSystem,
                                      path: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(path)
    val rebuild = new org.apache.hadoop.fs.Path(path + "__rebuild")
    if (!fs.exists(base) && fs.exists(new org.apache.hadoop.fs.Path(rebuild, "_ready"))) {
      if (!fs.rename(rebuild, base))
        throw new java.io.IOException(s"ivf rebuild repair: rename $rebuild -> $base failed")
      fs.delete(StoreProtocol.aside(base), true)
    } else {
      StoreProtocol.repairSwap(fs, base)
      fs.delete(rebuild, true)
    }
    if (fs.exists(base)) { fs.delete(new org.apache.hadoop.fs.Path(base, "_ready"), false); () }
  }
}
