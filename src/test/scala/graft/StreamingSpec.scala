package graft

import graft.operators.TimeSeries
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("streaming sessionization closes sessions on gap, matches batch boundaries") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString + "/events"
    // order by time so micro-batches replay roughly in event-time order
    events.orderBy("ts").coalesce(1).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 1)
    val closed = StreamOps.sessionizeStream(stream, "user_id", "ts",
      gapMinutes = 30, watermarkMinutes = 0).toDF()
    val streamed = StreamOps.runToMemory(closed, "sessions", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch reference: session boundaries from TimeSeries.sessionize
    val batch = TimeSeries.sessionize(events, "user_id", "ts", 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(org.apache.spark.sql.functions.min(col("ts")).as("s"),
        org.apache.spark.sql.functions.max(col("ts")).as("e"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map { r =>
        def micros(t: java.sql.Timestamp) = t.getTime / 1000 * 1000000L + t.getNanos / 1000
        (r.getLong(0), micros(r.getTimestamp(2)), micros(r.getTimestamp(3)), r.getLong(4))
      }.toSet

    // every streamed closed session must be a batch session; the stream
    // may hold back the final (still-open) session per user
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // with the whole file replayed, most sessions should have closed
    assert(streamed.size >= batch.size / 2)
  }

  test("scd2Stream emits exactly the batch history's closed runs on in-order replay") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2s").toString + "/events"
    events.orderBy("ts", "event_id").coalesce(1).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 1)
    val closed = StreamOps.scd2Stream(stream, "user_id", "event_type", "ts", "event_id").toDF()
    val streamed = StreamOps.runToMemory(closed, "scd2", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

    def micros(t: java.sql.Timestamp) = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val batch = TimeSeries.scd2History(events, "user_id", "event_type", "ts", "event_id")
      .filter(!col("is_current"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        micros(r.getTimestamp(2)), micros(r.getTimestamp(3)))).toSet

    // single ordered file replayed whole: every closed batch run must
    // stream out, and nothing else (open runs stay in the state store)
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("upsertStream merges latest-wins and never regresses on out-of-order batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val in = s"$base/in"
    // three files replayed as three micro-batches, with batch 3
    // carrying an OLDER row for key 1 than batch 2 did
    def writeFile(rows: Seq[(Long, Long, String)], mtime: Long): Unit = {
      rows.toDF("k", "ord", "v").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(Seq((1L, 10L, "a"), (3L, 1L, "x"), (3L, 2L, "y")), t0)       // batch 1 (in-batch dup: y wins)
    writeFile(Seq((1L, 30L, "c")), t0 + 2000)                              // batch 2
    writeFile(Seq((1L, 20L, "b"), (2L, 5L, "n")), t0 + 4000)               // batch 3: stale k=1 + new k=2
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val table = s"$base/table"
    val q = StreamOps.upsertStream(stream, table, Seq("k"), Seq("ord"),
      s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == Map(
      1L -> (30L, "c"),  // batch 3's ord=20 must NOT regress batch 2's ord=30
      2L -> (5L, "n"),
      3L -> (2L, "y")))  // within-batch latest-wins
    // checkpoint LOSS: restart with every file redelivered as one
    // coarse batch 0 — latest-wins merging makes redelivered rows a
    // semantic no-op (no row can regress the stored latest), so the
    // table is unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    val q2 = StreamOps.upsertStream(
      StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 10),
      table, Seq("k"), Seq("ord"), s"$base/ckpt").start()
    q2.processAllAvailable()
    q2.stop()
    val out2 = spark.read.parquet(table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out2 == out, "checkpoint-loss replay must not change the upsert table")
  }

  test("upsertStream merges into the restored table after a crash between its swap renames") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsert_torn").toString
    val (in, table) = (s"$base/in", s"$base/table")
    def deliver(rows: Seq[(Long, Long, String)]): Unit = {
      rows.toDF("k", "ord", "v").coalesce(1).write.mode("append").parquet(in)
      val q = StreamOps.upsertStream(
        StreamOps.parquetStream(spark, in, spark.read.parquet(in).schema),
        table, Seq("k"), Seq("ord"), s"$base/ckpt").start()
      q.processAllAvailable()
      q.stop()
    }
    deliver(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c")))
    // the state a crash between the swap's two renames leaves
    assert(new java.io.File(table).renameTo(new java.io.File(s"${table}__old")))
    deliver(Seq((4L, 10L, "d")))
    assert(spark.read.parquet(table).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 10L, "d")))
    assert(!new java.io.File(s"${table}__old").exists())
  }

  test("corpusStream: replayed crawl batches equal a full prepareCorpus rebuild") {
    import spark.implicits._
    import graft.operators.Pipeline
    val base = java.nio.file.Files.createTempDirectory("graft_cstream").toString
    val in = s"$base/in"
    // the PipelineSpec permutation fixture: same multiset = same
    // simhash signature, distinct fingerprint
    val s1 = "alpha beta gamma delta epsilon zeta eta theta"
    val s2 = "one two three four five six seven eight"
    val s4 = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val old = Seq(10L -> s1, 20L -> s2).toDF("doc_id", "text")
    val b1 = Seq(100L -> "beta alpha gamma delta epsilon zeta eta theta", // near-dup of 10
                 110L -> s4)                                             // novel
    val b2 = Seq(200L -> "elit adipiscing consectetur amet sit dolor ipsum lorem", // near-dup of 110
                 210L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen") // novel
    def writeFile(rows: Seq[(Long, String)], mtime: Long): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(b1, t0)
    writeFile(b2, t0 + 2000)
    val state = s"$base/state"
    Pipeline.writeCorpusState(old, "doc_id", "text", state, nShards = 2,
      minTokens = 1, minStopwordRatio = 0.0, maxRepetition = 2.0)
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.corpusStream(stream, state, "doc_id", "text",
      s"$base/ckpt", nShards = 2, minTokens = 1, minStopwordRatio = 0.0,
      maxRepetition = 2.0).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$state/export")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    val full = Pipeline.prepareCorpus(
      old.union(b1.toDF("doc_id", "text")).union(b2.toDF("doc_id", "text")),
      "doc_id", "text", nShards = 2, minTokens = 1, minStopwordRatio = 0.0,
      maxRepetition = 2.0)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(got == full)
    assert(got.map(_._1) == Set(10L, 20L, 110L, 210L)) // dups 100/200 dropped

    // checkpoint LOSS: the restarted stream re-reads every input file
    // as one coarse batch 0, redelivering docs the state already
    // ingested. Unlike the index stores (whose rows are not
    // content-keyed, hence their ledger/fingerprint machinery), the
    // corpus state is idempotent under redelivered content BY
    // CONSTRUCTION — the fingerprint store IS the dedup, so every
    // re-submitted doc is exact-filtered before any store grows. The
    // replay must be a semantic no-op: same export, zero state growth.
    val fpRows = spark.read.parquet(s"$state/fp").count()
    val survRows = spark.read.parquet(s"$state/survivors").count()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    val q2 = StreamOps.corpusStream(
      StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 10),
      state, "doc_id", "text", s"$base/ckpt", nShards = 2, minTokens = 1,
      minStopwordRatio = 0.0, maxRepetition = 2.0).start()
    q2.processAllAvailable()
    q2.stop()
    val got2 = spark.read.parquet(s"$state/export")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(got2 == full, "checkpoint-loss replay must not change the export")
    assert(spark.read.parquet(s"$state/fp").count() == fpRows,
      "redelivered docs must not grow the fingerprint store")
    assert(spark.read.parquet(s"$state/survivors").count() == survRows,
      "redelivered docs must not grow the survivor store")
  }

  test("tokenMixStream: replayed batches equal one-shot tokenMixToBudget; later batch displaces") {
    import spark.implicits._
    import graft.operators.Pipeline
    val base = java.nio.file.Files.createTempDirectory("graft_mixstream").toString
    val in = s"$base/in"
    // two sources; batch 2 carries ids whose hash priority beats some
    // of batch 1's, so the final mixture must displace early picks —
    // the case a greedy remaining-budget consumer gets wrong
    val b1 = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b", 40L))
    val b2 = (21L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", 40L))
    def writeFile(rows: Seq[(Long, String, Long)], mtime: Long): Unit = {
      rows.toDF("doc_id", "source", "n_tokens").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(b1, t0)
    writeFile(b2, t0 + 2000)
    val budgets = Seq("a" -> 200L, "b" -> 120L) // 5 and 3 docs' worth
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val state = s"$base/state"
    val q = StreamOps.tokenMixStream(stream, state, "doc_id", "source",
      "n_tokens", budgets, s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), Option(r.get(3)), r.getBoolean(4))).toMap
    val got = asMap(spark.read.parquet(s"$state/mix"))
    val oneShot = asMap(Pipeline.tokenMixToBudget(
      (b1 ++ b2).toDF("doc_id", "source", "n_tokens"),
      "doc_id", "source", "n_tokens", budgets))
    assert(got == oneShot)
    // the displacement actually happened: some batch-1 doc selected
    // after batch 1 alone is unselected in the final mixture
    val afterB1 = asMap(Pipeline.tokenMixToBudget(
      b1.toDF("doc_id", "source", "n_tokens"),
      "doc_id", "source", "n_tokens", budgets))
    val displaced = b1.map(_._1).filter(id => afterB1(id)._4 && !got(id)._4)
    assert(displaced.nonEmpty)
    // budgets hold per source
    Seq("a" -> 200L, "b" -> 120L).foreach { case (s0, b) =>
      val sel = got.values.filter(v => v._1 == s0 && v._4).map(_._2).sum
      assert(sel <= b && sel > 0)
    }
    // checkpoint LOSS: restart with coarser re-batching (every file
    // redelivered as one batch 0) against the already-built state —
    // the id-dedup merge makes redelivery a semantic no-op: the mix
    // is still the one-shot answer and the id-only state relation
    // holds each doc exactly once
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    val q2 = StreamOps.tokenMixStream(
      StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 10),
      state, "doc_id", "source", "n_tokens", budgets, s"$base/ckpt").start()
    q2.processAllAvailable()
    q2.stop()
    assert(asMap(spark.read.parquet(s"$state/mix")) == oneShot,
      "checkpoint-loss replay must not change the mixture")
    val rows = spark.read.parquet(s"$state/rows")
    assert(rows.count() == 40L && rows.select("doc_id").distinct().count() == 40L,
      "redelivered docs must not duplicate the state relation")
  }

  test("tokenMixStream keeps every earlier doc after a crash between its rows swap renames") {
    import spark.implicits._
    import graft.operators.Pipeline
    val base = java.nio.file.Files.createTempDirectory("graft_mixstream_torn").toString
    val (in, state) = (s"$base/in", s"$base/state")
    val budgets = Seq("a" -> 200L, "b" -> 120L)
    val b1 = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b", 40L))
    val b2 = (21L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", 40L))
    def deliver(rows: Seq[(Long, String, Long)]): Unit = {
      rows.toDF("doc_id", "source", "n_tokens").coalesce(1).write.mode("append").parquet(in)
      val q = StreamOps.tokenMixStream(
        StreamOps.parquetStream(spark, in, spark.read.parquet(in).schema),
        state, "doc_id", "source", "n_tokens", budgets, s"$base/ckpt").start()
      q.processAllAvailable()
      q.stop()
    }
    deliver(b1)
    // the state a crash between the rows swap's two renames leaves
    assert(new java.io.File(s"$state/rows").renameTo(new java.io.File(s"$state/rows__old")))
    deliver(b2)
    assert(spark.read.parquet(s"$state/rows").select("doc_id").as[Long].collect().sorted.toSeq ==
      (1L to 40L))
    assert(spark.read.parquet(s"$state/mix").collect().toSet ==
      Pipeline.tokenMixToBudget((b1 ++ b2).toDF("doc_id", "source", "n_tokens"),
        "doc_id", "source", "n_tokens", budgets).collect().toSet)
    assert(!new java.io.File(s"$state/rows__old").exists())
  }

  test("embeddingDriftStream emits per-batch drift equal to batch embeddingDrift on replay") {
    import spark.implicits._
    import graft.operators.Quality
    val base = java.nio.file.Files.createTempDirectory("graft_edrift").toString
    val in = s"$base/in"
    // dim 1 carries a shared bias so same-distribution centroids align;
    // the drifted batch shifts dim 0 instead, turning the centroid
    def vec(seed: Int, shift: Float) =
      Array.tabulate(8)(d => (math.sin(seed * 13 + d * 7) * 0.5).toFloat +
        (if (d == 0) shift else 0f) + (if (d == 1) 1.0f else 0f)).toSeq
    val baseline = (1 to 50).map(i => (i.toLong, vec(i, 0f))).toDF("id", "v")
    val b1 = (100 to 120).map(i => (i.toLong, vec(i, 0f)))     // same distribution
    val b2 = (200 to 220).map(i => (i.toLong, vec(i, 3f)))     // shifted along dim 0
    def writeFile(rows: Seq[(Long, Seq[Float])], mtime: Long): Unit = {
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(b1, t0)
    writeFile(b2, t0 + 2000)
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.embeddingDriftStream(stream, baseline, "v",
      s"$base/out", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 2)
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val expected = Quality.embeddingDrift(baseline, rows.toDF("id", "v"), "v")
        .collect().head.toSeq
      val got = out.filter(col("batch_id") === i).drop("batch_id").collect().head.toSeq
      assert(got == expected, s"batch $i drift mismatch")
    }
    // the shifted batch registers, the same-distribution batch does not
    val cosines = out.orderBy("batch_id").collect().map(_.getAs[Double]("centroid_cosine"))
    assert(cosines(0) > 0.9 && cosines(1) < 0.9)
  }

  test("ivfIndexStream: replayed embedding batches equal a one-shot build under the frozen quantizer") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    val emb = Tables.table(spark, sfDir, "embeddings")
    val old = emb.filter(col("vec_id") % 4 < 3)
    val d1 = emb.filter(col("vec_id") % 8 === 3)
    val d2 = emb.filter(col("vec_id") % 8 === 7)
    val in = s"$base/in"
    def writeFile(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(d1, t0)
    writeFile(d2, t0 + 2000)

    val idxPath = s"$base/idx"
    val centroids = Similarity.buildIvfIndex(old, idxPath, "vec_id", "embedding",
      dim = 64, nCentroids = 16)
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.ivfIndexStream(stream, idxPath, centroids, "embedding",
      dim = 64, checkpoint = s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()

    // the streamed index == a one-shot assignment of everything under
    // the SAME centroids, and queries cannot tell the two apart
    val rebuiltPath = s"$base/rebuilt"
    val cell1 = graft.functions.VectorExpressions
      .nearestCentroids(col("embedding"), centroids, 64, centroids.length / 64, 1)
    emb.withColumn("__cell", element_at(cell1, 1))
      .write.partitionBy("__cell").parquet(rebuiltPath)
    val streamed = spark.read.parquet(idxPath)
    val rebuilt = spark.read.parquet(rebuiltPath)
    assert(streamed.select("vec_id", "__cell").collect().map(_.toSeq).toSet ==
      rebuilt.select("vec_id", "__cell").collect().map(_.toSeq).toSet)
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def topk(path: String) = Similarity.queryIvfIndex(spark, path, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(topk(idxPath) == topk(rebuiltPath))
  }

  test("profileDriftStream emits per-batch drift equal to batch profileDrift on replay") {
    import spark.implicits._
    import graft.operators.Quality
    val base = java.nio.file.Files.createTempDirectory("graft_qdrift").toString
    val in = s"$base/in"
    val baseline = Seq((1L, 10.0, 100L), (2L, 20.0, 200L), (3L, 30.0, 300L))
      .toDF("id", "x", "y")
    val b1 = Seq((10L, 11.0, 110L), (11L, 25.0, 205L))
    val b2 = Seq((20L, 90.0, 900L), (21L, 95.0, 950L), (22L, 99.0, 990L))
    def writeFile(rows: Seq[(Long, Double, Long)], mtime: Long): Unit = {
      rows.toDF("id", "x", "y").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(b1, t0)
    writeFile(b2, t0 + 2000)
    val cols = Seq("x", "y")
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.profileDriftStream(stream,
      Quality.profileNumeric(baseline, cols, exactDistinct = true), cols,
      s"$base/out", s"$base/ckpt", exactDistinct = true).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.select("batch_id").distinct().count() == 2)
    // per batch, the emitted rows equal the batch operator's answer
    def key(r: org.apache.spark.sql.Row) = r.getValuesMap[Any](
      out.columns.filter(_ != "batch_id").toIndexedSeq)
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val expected = Quality.profileDrift(baseline, rows.toDF("id", "x", "y"),
        cols, exactDistinct = true).collect().map(_.getValuesMap[Any](
          out.columns.filter(_ != "batch_id").toIndexedSeq)).toSet
      val got = out.filter(col("batch_id") === i).collect().map(key).toSet
      assert(got == expected, s"batch $i drift mismatch")
    }
    // the heavy batch (b2) must actually register as drifted
    val d2 = out.filter(col("batch_id") === 1 && col("col_name") === "x").collect().head
    assert(d2.getAs[Double]("mean_shift") > 50.0)
    assert(d2.getAs[Boolean]("range_widened"))
  }

  test("postingsIndexStream: replayed crawl batches equal a one-shot postings build") {
    import graft.operators.Search
    val base = java.nio.file.Files.createTempDirectory("graft_poststream").toString
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 4 < 2)
    val d1 = docs.filter(col("doc_id") % 4 === 2)
    val d2 = docs.filter(col("doc_id") % 4 === 3)
    val in = s"$base/in"
    def writeFile(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(d1, t0)
    writeFile(d2, t0 + 2000)

    val idxPath = s"$base/idx"
    Search.buildPostingsIndex(old, idxPath, "doc_id", "text", nBuckets = 16)
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.postingsIndexStream(stream, idxPath, "doc_id", "text",
      checkpoint = s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()

    // streamed store == one-shot build of everything: same postings
    // relation, same exact stats, same query answers
    val oneShot = s"$base/oneshot"
    Search.buildPostingsIndex(docs, oneShot, "doc_id", "text", nBuckets = 16)
    def rel(p: String) = spark.read.parquet(s"$p/postings")
      .select("term", "doc_id", "tf", "doc_len", "__bucket")
      .collect().map(_.toSeq).toSet
    assert(rel(idxPath) == rel(oneShot))
    val a = spark.read.parquet(s"$idxPath/stats").collect()(0)
    val b = spark.read.parquet(s"$oneShot/stats").collect()(0)
    assert(a.getAs[Long]("n_docs") == b.getAs[Long]("n_docs") &&
      a.getAs[Long]("total_tokens") == b.getAs[Long]("total_tokens"))
    val terms = Seq("spark", "join", "window")
    assert(Search.queryPostingsIndex(spark, idxPath, "doc_id", terms, k = 10)
        .collect().map(_.toSeq).toSet ==
      Search.queryPostingsIndex(spark, oneShot, "doc_id", terms, k = 10)
        .collect().map(_.toSeq).toSet)
  }

  test("contentDriftStream emits per-batch script/PII drift equal to the batch operator on replay") {
    import spark.implicits._
    import graft.operators.Quality
    val base = java.nio.file.Files.createTempDirectory("graft_cdrift").toString
    val in = s"$base/in"
    val baseline = (1L to 20L).map(i => (i, s"plain english document number $i about spark"))
      .toDF("id", "text")
    val b1 = Seq((30L, "another normal english doc"), (31L, "more english text here"))
    // the incident batch: a source flipped to mojibake AND leaks cards
    val b2 = Seq((40L, "привет мир привет мир"), (41L, "щит это тест"),
      (42L, "pay 4111111111111111 now"))
    def writeFile(rows: Seq[(Long, String)], mtime: Long): Unit = {
      rows.toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          if (f.lastModified() > mtime) f.setLastModified(mtime) }
    }
    val t0 = System.currentTimeMillis() - 60000
    writeFile(b1, t0)
    writeFile(b2, t0 + 2000)
    val schema = spark.read.parquet(in).schema
    val stream = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamOps.contentDriftStream(stream,
      Quality.contentProfile(baseline, "text"), "text",
      s"$base/out", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.select("batch_id").distinct().count() == 2)
    // replay == batch: each batch's rows equal the one-shot compare
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val expected = Quality.contentDriftFromProfiles(
        Quality.contentProfile(baseline, "text"),
        Quality.contentProfile(rows.toDF("id", "text"), "text"))
        .collect().map(_.getValuesMap[Any](
          out.columns.filter(_ != "batch_id").toIndexedSeq)).toSet
      val got = out.filter(col("batch_id") === i).collect()
        .map(_.getValuesMap[Any](out.columns.filter(_ != "batch_id").toIndexedSeq)).toSet
      assert(got == expected, s"batch $i content drift mismatch")
    }
    // the incident batch must actually register on both axes
    val drift = out.filter(col("batch_id") === 1).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("rate_shift")).toMap
    assert(drift("script:cyrillic") > 0.5)
    assert(drift("pii:card_valid") > 0.3)
    assert(drift("script:latin") < -0.5)
    // the benign batch must not
    val calm = out.filter(col("batch_id") === 0).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("rate_shift")).toMap
    assert(calm("script:cyrillic") == 0.0 && calm("pii:card_valid") == 0.0)
  }

  test("toParquetSink writes a checkpointed stream to parquet") {
    val events = Tables.events(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_psink").toString
    events.coalesce(1).write.parquet(s"$base/in")
    val stream = StreamOps.parquetStream(spark, s"$base/in", events.schema)
    val q = StreamOps.toParquetSink(stream.select("event_id", "event_type"),
      s"$base/out", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == events.count())
    assert(new java.io.File(s"$base/ckpt").exists()) // exactly-once bookkeeping
  }

  test("stream-static join enriches events with a dimension table") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString + "/events"
    events.coalesce(1).write.parquet(dir)
    val userDim = events.select(col("user_id")).distinct()
      .withColumn("user_tier", (col("user_id") % 3).cast("int"))
    val stream = StreamOps.parquetStream(spark, dir, events.schema)
    val enriched = stream.join(userDim, Seq("user_id")) // static side broadcast per micro-batch
      .groupBy("user_tier").count()
    val out = StreamOps.runToMemory(enriched, "ssj", outputMode = "complete")
    assert(out.count() == 3)
    assert(out.agg(sum(col("count"))).head.getLong(0) == events.count())
  }

  test("streaming dedup drops repeated ids within the watermark") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString + "/events"
    // duplicate every event, then stream with dedup on event_id
    events.union(events).orderBy("ts").coalesce(2).write.parquet(dir)
    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 1)
    val deduped = StreamOps.dedupStream(stream, Seq("event_id"), "ts", watermarkMinutes = 60)
    val out = StreamOps.runToMemory(deduped, "dedup_stream", outputMode = "append")
    assert(out.count() == events.count())
    assert(out.select("event_id").distinct().count() == events.count())
  }

  test("streaming near-dup (simhash) matches the batch pair set") {
    val docs = Tables.table(spark, sfDir, "documents")
      .withColumn("ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id"))) // 2024-01-01 + doc_id sec
    val dir = java.nio.file.Files.createTempDirectory("graft_ndup").toString + "/docs"
    docs.orderBy("doc_id").coalesce(4).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, docs.schema, maxFilesPerTrigger = 1)
    val streamed = StreamOps.runToMemory(
      StreamOps.nearDupStream(stream, "doc_id", "text", "ts", watermarkMinutes = 600),
      "neardup", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val batch = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
  }

  test("nearDupSink writes batch-deduped matches exactly-once to parquet") {
    val docs = Tables.table(spark, sfDir, "documents")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val base = java.nio.file.Files.createTempDirectory("graft_ndsink").toString
    docs.orderBy("doc_id").coalesce(2).write.parquet(s"$base/docs")
    val stream = StreamOps.parquetStream(spark, s"$base/docs", docs.schema, maxFilesPerTrigger = 1)
    val q = StreamOps.nearDupSink(
      StreamOps.nearDupStream(stream, "doc_id", "text", "ts", watermarkMinutes = 600),
      s"$base/out", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val written = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(written.toSet == batch)
    assert(written.length == written.distinct.length, "duplicate pair rows in sink output")
  }

  test("trendingTopK maintains per-window top-k equal to the batch ranking") {
    val events = Tables.events(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_trend").toString
    // several files -> several micro-batches, so late epochs must MERGE
    // with stored counts (the update-mode partial-emission path).
    // repartition spreads the whole time range across every file, so
    // the watermark must exceed the corpus span or later epochs'
    // "late" rows are (correctly) dropped and can't match the batch
    events.orderBy("ts").repartition(5).write.parquet(s"$base/events")
    val stream = StreamOps.parquetStream(spark, s"$base/events", events.schema,
      maxFilesPerTrigger = 1)
    val q = StreamOps.trendingTopK(stream, "ts", "user_id",
      widthMinutes = 360, watermarkMinutes = 100000, k = 5,
      path = s"$base/out", checkpoint = s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$base/out/ranked")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Int]("rank"))).toSet

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n_events").desc, col("user_id").asc)
    val batch = events
      .groupBy(window(col("ts"), "360 minutes").getField("start").as("window_start"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Int]("rank"))).toSet

    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
  }

  test("streaming funnel matches batch per-stage counts on in-order replay") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString + "/events"
    events.orderBy("ts").coalesce(1).write.parquet(dir)

    val stages = Seq("view", "click", "purchase")
    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 1)
    val reached = StreamOps.funnelStream(stream, "user_id", "ts", "event_type",
      stages, withinSeconds = Some(86400L), watermarkMinutes = 0).toDF()
    val streamed = StreamOps.runToMemory(reached, "funnel", outputMode = "append")
      .groupBy("stage_idx").agg(count(lit(1)).as("n_users"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val batch = TimeSeries.funnel(events, "user_id", "ts", "event_type",
      stages, withinSeconds = Some(86400L))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap

    assert(streamed == batch.filter(_._2 > 0))
    assert(streamed.nonEmpty && streamed.keySet.contains(1))
    // a user emits each stage at most once
    val perUser = spark.table("funnel").groupBy("user_id", "stage_idx").count()
      .filter(col("count") > 1).count()
    assert(perUser == 0)
  }

  test("streaming windowed agg over file source matches the batch result") {
    val events = Tables.events(spark, sfDir)
    // stage the events as a small directory of parquet files (a replayable stream)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString + "/events"
    events.repartition(4).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 2)
    val agg = StreamOps.windowedAgg(stream, "ts", widthMinutes = 60,
      watermarkMinutes = 120, groupCols = Seq("event_type"))
    val streamed = StreamOps.runToMemory(agg, "win_agg", outputMode = "complete")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), round(col("sum_value"), 2).cast("double").as("sum_value"))

    val batch = TimeSeries.tumblingAgg(events, "ts", 60, Seq("event_type"))

    val a = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("streaming last-touch attribution matches batch as-of on in-order replay") {
    val events = Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_attr").toString + "/events"
    events.orderBy("ts").coalesce(1).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, events.schema, maxFilesPerTrigger = 1)
    val attributed = StreamOps.attributionStream(stream, "user_id", "ts",
      "event_type", "value", watermarkMinutes = 0).toDF()
    val streamed = StreamOps.runToMemory(attributed, "attr", outputMode = "append")
      .select(col("user_id"), col("purchase_ts"), col("touch_ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq

    // batch twin = the evt_attribution as-of shape, kept per-purchase
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("ts").as("touch_ts"))
    val batch = TimeSeries.asofJoin(purchases, views, "user_id", "ts", "view_ts", Seq("touch_ts"))
      .select(col("user_id"), unix_micros(col("ts")).as("p"),
        coalesce(unix_micros(col("touch_ts")), lit(-1L)).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.exists(_._3 >= 0))
  }

  test("streaming anomaly matches batch z on each user's final day (in-order replay)") {
    val events = Tables.events(spark, sfDir)
    val slim = events.select(col("user_id"), col("ts"))
    // one sentinel event per user two days past their last event: it
    // closes the user's real final day (and its own day never closes,
    // so it is never scored)
    val sentinel = events.groupBy("user_id")
      .agg((max(col("ts")) + expr("INTERVAL 2 DAYS")).as("ts"))
    val input = slim.union(sentinel.select(col("user_id"), col("ts")))
    val dir = java.nio.file.Files.createTempDirectory("graft_anom").toString + "/events"
    input.orderBy("ts").coalesce(1).write.parquet(dir)

    val stream = StreamOps.parquetStream(spark, dir, input.schema, maxFilesPerTrigger = 1)
    val anomalies = StreamOps.anomalyStream(stream, "user_id", "ts",
        zThreshold = 0.5, watermarkMinutes = 0).toDF()
    val streamed = StreamOps.runToMemory(anomalies, "anom", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // the stream scores day d against moments over days <= d; the batch
    // scores against ALL days — they agree exactly on each user's final
    // day, where the prefix IS the full history
    val lastDay = slim
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("user_id").agg(max(col("day")).as("day"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = TimeSeries.activityAnomaly(events, "user_id", "ts", zThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(t => lastDay(t._1) == t._2).toSet
    val streamedLast = streamed.filter(t => lastDay(t._1) == t._2).toSet
    assert(streamedLast == batch)
    assert(batch.nonEmpty)
  }
}
