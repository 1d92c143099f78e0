package graft

import graft.operators.{Search, Similarity}
import org.apache.spark.sql.functions._

/** Model-based lifecycle fuzz for the two persisted stores: a SEEDED
  * random sequence of maintenance ops (append / delete / compact),
  * each optionally killed at a random protocol step boundary and then
  * retried, must leave the store equivalent to an in-memory model of
  * the live corpus after EVERY op. The single-op crash properties
  * (SearchSpec / SimilaritySpec) pin each protocol in isolation; this
  * pins their INTERACTIONS — append after delete, delete over
  * appended batches, compact mid-history. Each killed op is retried
  * at once, so its own retry meets its debris; StoreCrossOpSpec runs
  * a different op over the debris first. */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "join", "window", "scan", "merge",
    "sort", "filter", "pad", "hash", "stream")

  test("postings store lifecycle fuzz: random op sequences with crash-retry always converge to the model") {
    val rnd = new scala.util.Random(1313L)
    def randText(): String =
      Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    (1 to 2).foreach { trial =>
      val path = java.nio.file.Files.createTempDirectory(s"graft_fuzz$trial").toString + "/idx"
      var nextId = 0L
      def mint(n: Int): Map[Long, String] =
        (1 to n).map { _ => nextId += 1; nextId -> randText() }.toMap
      var model = mint(6)
      Search.buildPostingsIndex(model.toSeq.toDF("doc_id", "text"), path,
        "doc_id", "text", nBuckets = 4)
      var batchNo = 0

      def checkEquivalent(stepTag: String): Unit = {
        val terms = rnd.shuffle(vocab).take(2).sorted
        val got = Search.queryPostingsIndex(spark, path, "doc_id", terms, k = 10)
          .collect().map(_.toSeq).toSet
        val want = Search.bm25TopK(model.toSeq.toDF("doc_id", "text"),
            "doc_id", "text", terms, k = 10)
          .collect().map(_.toSeq).toSet
        assert(got == want, s"[$stepTag] store diverged from model on terms $terms")
      }

      (1 to 8).foreach { step =>
        val tag = s"trial $trial step $step"
        rnd.nextInt(3) match {
          case 0 => // append, killed at a random boundary, then retried
            val delta = mint(1 + rnd.nextInt(3))
            batchNo += 1
            val bid = s"b$batchNo"
            val deltaDf = delta.toSeq.toDF("doc_id", "text")
            val steps = Search.appendPostingsSteps(deltaDf, path, "doc_id", "text", bid)
            steps.take(rnd.nextInt(steps.length + 1)).foreach(_._2())
            Search.appendPostingsIndex(deltaDf, path, "doc_id", "text", batchId = bid)
            model ++= delta
          case 1 => // delete a random (possibly empty) strict subset —
            // a store compacted to ZERO docs has no postings files to
            // infer a schema from (documented ≥1-doc contract)
            val victims = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(model.size - 1)
            Search.deleteFromPostingsIndex(spark, path,
              victims.toDF("doc_id"), "doc_id")
            model --= victims
          case 2 => // compact, killed at a random boundary, then retried
            if (new java.io.File(s"$path/deleted").exists()) {
              val steps = Search.compactPostingsSteps(spark, path)
              steps.take(rnd.nextInt(steps.length + 1)).foreach(_._2())
            }
            Search.compactPostingsIndex(spark, path)
        }
        checkEquivalent(tag)
      }
    }
  }

  test("IVF store lifecycle fuzz: random append/delete sequences with crash-retry match the frozen-quantizer model") {
    val rnd = new scala.util.Random(4242L)
    val dim = 8
    def randVec(): Seq[Float] = Seq.fill(dim)((rnd.nextGaussian() * 0.5).toFloat)
    val path = java.nio.file.Files.createTempDirectory("graft_fuzz_ivf").toString + "/idx"
    var nextId = 0L
    def mint(n: Int): Map[Long, Seq[Float]] =
      (1 to n).map { _ => nextId += 1; nextId -> randVec() }.toMap
    var model = mint(20)
    val centroids = Similarity.buildIvfIndex(model.toSeq.toDF("vec_id", "embedding"),
      path, "vec_id", "embedding", dim = dim, nCentroids = 4)
    var batchNo = 0

    def checkEquivalent(stepTag: String): Unit = {
      // exact check: the store's (id, cell) relation == a fresh
      // assignment of the model under the SAME frozen centroids
      val cell1 = graft.functions.VectorExpressions
        .nearestCentroids(col("embedding"), centroids, dim, centroids.length / dim, 1)
      val want = model.toSeq.toDF("vec_id", "embedding")
        .select(col("vec_id"), element_at(cell1, 1).as("__cell"))
        .collect().map(_.toSeq).toSet
      val got = spark.read.parquet(path)
        .select("vec_id", "__cell").collect().map(_.toSeq).toSet
      assert(got == want, s"[$stepTag] IVF store diverged from model")
    }

    (1 to 8).foreach { step =>
      val tag = s"ivf step $step"
      if (rnd.nextBoolean()) { // append, killed at a random boundary, then retried
        val delta = mint(1 + rnd.nextInt(4))
        batchNo += 1
        val bid = s"b$batchNo"
        val deltaDf = delta.toSeq.toDF("vec_id", "embedding")
        val steps = Similarity.appendIvfSteps(deltaDf, path, centroids,
          "embedding", dim, bid)
        steps.take(rnd.nextInt(steps.length + 1)).foreach(_._2())
        Similarity.appendIvfIndex(deltaDf, path, centroids, "embedding",
          dim = dim, batchId = bid)
        model ++= delta
      } else { // delete a strict subset, killed at a random boundary,
        // then retried (≥1 vector stays — the ≥1-doc store contract)
        val victims = model.keys.toSeq.sorted
          .filter(_ => rnd.nextBoolean()).take(model.size - 1)
        val delDf = victims.toDF("vec_id")
        val steps = Similarity.deleteFromIvfSteps(spark, path, delDf, "vec_id")._2
        steps.take(rnd.nextInt(steps.length + 1)).foreach(_._2())
        Similarity.deleteFromIvfIndex(spark, path, delDf, "vec_id")
        model --= victims
      }
      checkEquivalent(tag)
    }
  }

  // --- stream restarts: the lifecycle classes the single-op crash
  // properties can't reach — a KILLED and RESTARTED streaming
  // maintenance query, with its checkpoint intact (ids continue, the
  // store must converge) and with its checkpoint LOST (ids recycle:
  // the store must either no-op identically or fail LOUDLY — never
  // silently drop or duplicate) -------------------------------------

  private def writeInputFile(in: String, df: org.apache.spark.sql.DataFrame,
                             mtime: Long): Unit = {
    df.coalesce(1).write.mode("append").parquet(in)
    new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        if (f.lastModified() > mtime) f.setLastModified(mtime) }
  }

  test("postings stream restarts: checkpoint-intact converges; checkpoint loss no-ops identically or fails loudly") {
    import graft.streaming.StreamOps
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val in = s"$base/in"
    val t0 = System.currentTimeMillis() - 60000
    val f1 = Seq((101L, "spark join window"), (102L, "merge sort")).toDF("doc_id", "text")
    val f2 = Seq((103L, "spark filter"), (104L, "join join scan")).toDF("doc_id", "text")
    val f3 = Seq((105L, "window window spark")).toDF("doc_id", "text")
    writeInputFile(in, f1, t0)
    writeInputFile(in, f2, t0 + 2000)
    val idx = s"$base/idx"
    Search.buildPostingsIndex(Seq((1L, "spark hash stream")).toDF("doc_id", "text"),
      idx, "doc_id", "text", nBuckets = 4)
    val schema = spark.read.parquet(in).schema
    val ckpt = s"$base/ckpt"
    def run(maxFiles: Int): Unit = {
      val q = StreamOps.postingsIndexStream(
        StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = maxFiles),
        idx, "doc_id", "text", checkpoint = ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def rel() = spark.read.parquet(s"$idx/postings")
      .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet

    // 1) first life: two micro-batches land
    run(maxFiles = 1)
    // 2) kill + restart with the checkpoint INTACT: ids continue past
    //    the high-water mark, the new file applies exactly once
    writeInputFile(in, f3, t0 + 60000)
    run(maxFiles = 1)
    val oneShot = s"$base/oneshot"
    Search.buildPostingsIndex(
      Seq((1L, "spark hash stream")).toDF("doc_id", "text")
        .unionByName(f1).unionByName(f2).unionByName(f3),
      oneShot, "doc_id", "text", nBuckets = 4)
    def q(p: String) = Search.queryPostingsIndex(spark, p, "doc_id",
      Seq("spark", "join"), k = 10).collect().map(_.toSeq).toSet
    assert(q(idx) == q(oneShot), "checkpoint-intact restart diverged from one-shot build")
    val settled = rel()

    // 3) checkpoint LOST, deterministic re-batching (same files, same
    //    one-file batches): every recycled id redelivers the SAME
    //    content — the fingerprint-checked markers no-op them all
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    run(maxFiles = 1)
    assert(rel() == settled, "identical replay after checkpoint loss must be a pure no-op")

    // 4) checkpoint LOST, COARSER re-batching: the recycled batch 0 now
    //    carries all three files — a bare marker check would silently
    //    drop the extra rows; the content fingerprint fails it loudly
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(maxFiles = 10)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("DIFFERENT content")),
      s"expected the loud content mismatch, got: ${chain(e).mkString(" | ")}")
    assert(rel() == settled, "the refused replay must not have changed the store")

    // 5) checkpoint LOST after the old markers aged out: the
    //    `_applied` ledger (not the markers, not the file prefixes)
    //    refuses the recycled id loudly. Age batches 0 and 1 past the
    //    retention slack (2 stays recent — pruning is relative to the
    //    newest marker) and let the next append's entry fold + prune.
    Seq("0", "1").foreach { b =>
      assert(new java.io.File(s"$idx/_commits/$b").setLastModified(
        System.currentTimeMillis() - 3 * graft.operators.StoreProtocol.markerRetentionMs))
    }
    Search.appendPostingsIndex(
      Seq((200L, "hash stream pad")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = "900", streamBatch = true)
    assert(!new java.io.File(s"$idx/_commits/0").exists(), "aged markers should be pruned")
    val settled2 = rel()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(maxFiles = 1)
    }
    assert(chain(e2).exists(m => m != null && m.contains("re-using old batch ids")),
      s"expected the ledger's loud refusal, got: ${chain(e2).mkString(" | ")}")
    assert(rel() == settled2, "the refused replay must not have changed the store")
  }

  test("IVF stream restarts: checkpoint-intact converges; checkpoint loss with re-batched ids fails loudly") {
    import graft.streaming.StreamOps
    val rnd = new scala.util.Random(77L)
    def vec(): Seq[Float] = Seq.fill(8)((rnd.nextGaussian() * 0.5).toFloat)
    val base = java.nio.file.Files.createTempDirectory("graft_ivfrestart").toString
    val in = s"$base/in"
    val t0 = System.currentTimeMillis() - 60000
    val f1 = (100L to 104L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val f2 = (105L to 109L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val f3 = (110L to 112L).map(i => (i, vec())).toDF("vec_id", "embedding")
    writeInputFile(in, f1, t0)
    writeInputFile(in, f2, t0 + 2000)
    val idx = s"$base/idx"
    val centroids = Similarity.buildIvfIndex(
      (0L to 19L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      idx, "vec_id", "embedding", dim = 8, nCentroids = 4)
    val schema = spark.read.parquet(in).schema
    val ckpt = s"$base/ckpt"
    def run(maxFiles: Int): Unit = {
      val q = StreamOps.ivfIndexStream(
        StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = maxFiles),
        idx, centroids, "embedding", dim = 8, checkpoint = ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def rel() = spark.read.parquet(idx)
      .select("vec_id", "__cell").collect().map(_.toSeq).toSet

    run(maxFiles = 1)
    writeInputFile(in, f3, t0 + 60000)
    run(maxFiles = 1) // checkpoint-intact restart: ids continue
    assert(spark.read.parquet(idx).count() == 33L, "intact restart must apply f3 exactly once")
    val settled = rel()

    // checkpoint lost + identical re-batching: pure no-op
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    run(maxFiles = 1)
    assert(rel() == settled)

    // checkpoint lost + coarser re-batching: loud content mismatch
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(maxFiles = 10)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("DIFFERENT content")),
      s"expected the loud content mismatch, got: ${chain(e).mkString(" | ")}")
    assert(rel() == settled, "the refused replay must not have changed the store")
  }
}
