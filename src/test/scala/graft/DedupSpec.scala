package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),           // exact dup of 1
    (3L, "The  Quick  Brown Fox jumps over the lazy DOG"),         // normalized dup of 1
    (4L, "the quick brown fox leaps over the lazy dog"),           // near dup (1 word)
    (5L, "completely different content about spark engines here"),
  ).toDF("id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(corpus, "text", "id")
    assert(out.count == 4)
    val dup = out.filter(col("n_copies") === 2).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("keep_id") == 1L)
  }

  test("normalized dedup also folds case/whitespace variants") {
    val out = Dedup.exactNormalized(corpus, "text", "id")
    assert(out.count == 3)
    assert(out.filter(col("n_copies") === 3).count == 1)
  }

  test("minhash signatures are deterministic and equal for identical docs") {
    val sigs = Dedup.minhashSignatures(corpus, "id", "text", 32, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs.values.forall(_.length == 32))
    // one changed word of 9 breaks 3 of 7 3-shingles -> J≈0.4 -> E[share]≈13/32;
    // unrelated doc shares none
    val nearShare = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    val farShare = sigs(1L).zip(sigs(5L)).count { case (a, b) => a == b }
    assert(nearShare > 6 && nearShare < 26)
    assert(farShare < 4 && farShare < nearShare)
  }

  test("MinHashSignature expression is bit-identical to the explode+min(xxhash64) pipeline") {
    import graft.functions.{TextExpressions => X, TextFunctions => T}
    val numHashes = 16; val k = 3
    // the composable pipeline the one-pass expression replaced
    val mins = (0 until numHashes).map(j => min(xxhash64(col("__h"), lit(j))).as(s"__m$j"))
    val viaPipeline = corpus
      .select(col("id"), explode(X.shingleHashes(T.normText(col("text")), k)).as("__h"))
      .groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(j => col(s"__m$j")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = Dedup.minhashSignatures(corpus, "id", "text", numHashes, k)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr == viaPipeline)
  }

  test("SimHashSignature expression is bit-identical to the explode+bit-sums pipeline, both hashes") {
    import graft.functions.{TextFunctions => T}
    for (th <- Seq(Dedup.xxTokenHash, Dedup.md5TokenHash)) {
      // the composable pipeline the one-pass expression replaced
      val bitSums = (0 until 64).map(i =>
        sum(when(shiftright(col("__h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"__b$i"))
      val packed = (0 until 64).map(i =>
        when(col(s"__b$i") >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
      val viaPipeline = corpus
        .select(col("id"), explode(T.tokens(col("text"))).as("__t"))
        .select(col("id"), th(col("__t")).as("__h"))
        .groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
        .select(col("id"), packed.as("sig"))
        .as[(Long, Long)].collect().toMap
      val viaExpr = Dedup.simhashSignatures(corpus, "id", "text", th)
        .as[(Long, Long)].collect().toMap
      assert(viaExpr == viaPipeline, s"mismatch for $th")
    }
  }

  test("MinHashBandHashes is bit-identical to xxhash64(b, slice(sig)) banding") {
    import graft.functions.{TextExpressions => X, TextFunctions => T}
    val numHashes = 16; val numBands = 4; val k = 3
    val viaComposable = Dedup.minhashSignatures(corpus, "id", "text", numHashes, k)
      .select(col("id"), Dedup.bandHashes(col("sig"), numBands, numHashes / numBands).as("bands"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = corpus
      .select(col("id"), X.minhashBands(T.normText(col("text")), k, numHashes, numBands).as("bands"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr == viaComposable)
  }

  test("bandGeometry: threshold-matched factorizations, default reproduces (16,4)") {
    assert(Dedup.bandGeometry(0.5, 64) == (16, 4)) // midpoint exactly 0.5
    val (b8, r8) = Dedup.bandGeometry(0.8, 64)
    assert(math.abs(math.pow(1.0 / b8, 1.0 / r8) - 0.8) < 0.15)
    // higher threshold -> fewer bands / longer rows (stricter candidates)
    assert(b8 < 16 && r8 > 4)
    val (b2, _) = Dedup.bandGeometry(0.2, 64)
    assert(b2 > 16)
  }

  test("minhashPairs finds exact+near dups and reports jaccard") {
    val pairs = Dedup.minhashPairs(corpus, "id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs hamming 0, near dups small, unrelated large") {
    val sigs = Dedup.simhashSignatures(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) < ham(sigs(1L), sigs(5L)))
    val pairs = Dedup.simhashPairs(corpus, "id", "text", maxHamming = 3)
    assert(pairs.filter(col("id_l") === 1 && col("id_r") === 2).count == 1)
  }

  test("ngramJaccard computes exact overlap on given pairs") {
    val pairs = Seq((1L, 2L), (1L, 5L)).toDF("id_l", "id_r")
    val out = Dedup.ngramJaccard(pairs, corpus, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 5L)) == 0.0)
  }

  test("duplicate-heavy corpus: 10-clone clusters fully collapse to one keeper") {
    // every sf0.001 document cloned 10x under distinct ids
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val clones = (0 until 10).map(i =>
      base.select((col("doc_id") * 10 + i).as("doc_id"), col("text"))).reduce(_ union _)
    val n = base.count()
    val pairs = Dedup.minhashPairs(clones, "doc_id", "text", maxBucketSize = 5000)
      .select("id_l", "id_r")
    val keep = Dedup.dedupeKeepList(clones, pairs, "doc_id")
    val kept = keep.filter(col("keep")).count()
    // exact clones always collide in every band -> each 10-cluster keeps
    // exactly 1; cross-document near-dups can merge clusters further
    assert(kept <= n)
    assert(kept >= n / 2)
    val clusterSizes = keep.groupBy("canonical_id").count()
    assert(clusterSizes.filter(col("count") >= 10).count() >= n / 2)
  }

  test("bucket cap drops degenerate buckets instead of exploding") {
    val spam = (1L to 50L).map(i => (i, "same spam text every time")).toDF("id", "text")
    val capped = Dedup.minhashPairs(spam, "id", "text", maxBucketSize = 10)
    assert(capped.count == 0) // one 50-doc bucket > cap -> dropped
    val uncapped = Dedup.minhashPairs(spam, "id", "text", maxBucketSize = 100)
    assert(uncapped.count == 50L * 49 / 2)
  }

  test("pairsFromBuckets carry == pairsFromBuckets + payload join, caps included") {
    // multi-bucket membership (pair dedup across buckets), a bucket at
    // the cap boundary, and an over-cap bucket that must be dropped
    val rows = (1L to 30L).map(i => (i, i * 1000 + 7, "b" + (i % 3))) ++ // 3 buckets of 10
      (31L to 45L).map(i => (i, i * 1000 + 7, "hot")) ++                // over-cap bucket (15 > 10)
      Seq((1L, 1007L, "x"), (2L, 2007L, "x"))                           // cross-bucket repeat pair
    val bucketed = rows.toDF("id", "sig", "bucket")
    val carrying = Dedup.pairsFromBuckets(bucketed, "id", Seq("bucket"), 10, carry = Seq("sig"))
      .select("id_l", "sig_l", "id_r", "sig_r")
    val reference = Dedup.pairsFromBuckets(bucketed.select("id", "bucket"), "id", Seq("bucket"), 10)
      .join(bucketed.select(col("id").as("id_l"), col("sig").as("payload_l")).distinct(), "id_l")
      .join(bucketed.select(col("id").as("id_r"), col("sig").as("payload_r")).distinct(), "id_r")
      .select("id_l", "payload_l", "id_r", "payload_r")
    assert(carrying.count() > 0)
    assert(carrying.except(reference).count() == 0 && reference.except(carrying).count() == 0)
  }

  test("canonicalize: chains collapse to the smallest id") {
    // 1-2-3-4 chain + isolated pair (10,11) + singleton 20 (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_l", "id_r")
    val canon = Dedup.canonicalize(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(3L) == 1L && canon(4L) == 1L)
    assert(canon(10L) == 10L && canon(11L) == 10L)
    assert(!canon.contains(20L))
    // distributed min-label propagation path (threshold 0) agrees
    val dist = Dedup.canonicalize(pairs, driverThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == canon)
  }

  test("canonicalize releases its edge cache when it throws, on either path") {
    def leaves(what: String)(f: => Any): Unit = {
      spark.catalog.clearCache()
      f
      assert(spark.sharedState.cacheManager.isEmpty, s"$what left a cached relation")
    }
    // repartitioned so the raise fires at run time, not while the
    // optimizer folds a local relation
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "id_r").repartition(2)
    val boom = pairs.withColumn("id_l",
      when(col("a") > 2L, raise_error(lit("pair boom"))).otherwise(col("a")).cast("long"))
    for (threshold <- Seq(1000000L, 0L)) leaves(s"raising pairs at driverThreshold $threshold") {
      val e = intercept[Exception](Dedup.canonicalize(boom, driverThreshold = threshold))
      assert(e.getMessage.contains("pair boom"))
    }
    leaves("a chain longer than maxIterations") {
      val e = intercept[IllegalStateException](
        Dedup.canonicalize(pairs.withColumnRenamed("a", "id_l"), maxIterations = 1,
          driverThreshold = 0L))
      assert(e.getMessage.contains("canonicalize did not converge in 1 rounds"))
    }
  }

  test("canonicalize returns materialized rows: its plan reads no file, on either path") {
    val path = java.nio.file.Files.createTempDirectory("graft_canon").toString + "/pairs"
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_l", "id_r").write.parquet(path)
    val pairs = spark.read.parquet(path)
    for (threshold <- Seq(1000000L, 0L)) {
      val canon = Dedup.canonicalize(pairs, driverThreshold = threshold)
      val files = canon.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(files.isEmpty, s"driverThreshold $threshold: ${canon.queryExecution.analyzed}")
      assert(canon.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("incremental exact: duplicates of stored hashes flagged, novel hashes enter the store") {
    val statePath = java.nio.file.Files.createTempDirectory("graft_incx").toString + "/hashes"
    Dedup.writeExactState(corpus, "id", "text", statePath)
    val batch2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of stored id 1
      (11L, "entirely novel content in the second batch"),
      (12L, "entirely novel content in the second batch"),  // dup within batch2 of 11
    ).toDF("id", "text")
    val out = Dedup.incrementalExact(batch2, "id", "text", statePath)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(out(10L).contains(1L))
    assert(out(11L).isEmpty && out(12L).isEmpty) // both novel vs the STORE this run
    // next run sees batch2's novel hash with keeper 11 (min of 11,12)
    val next = Dedup.incrementalExact(
      Seq((20L, "entirely novel content in the second batch")).toDF("id", "text"),
      "id", "text", statePath)
    assert(next.head().getLong(2) == 11L)
  }

  test("incremental simhash: new-batch pairs == full-corpus pairs minus already-reported") {
    val docs = Tables.table(spark, sfDir, "documents")
    val batch1 = docs.filter(col("doc_id") < 250)
    val batch2 = docs.filter(col("doc_id") >= 250)
    val statePath = java.nio.file.Files.createTempDirectory("graft_inc").toString + "/sigs"
    Dedup.writeSimhashState(batch1, "doc_id", "text", statePath)

    val incremental = Dedup.incrementalSimhashPairs(batch2, "doc_id", "text", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val oldOnly = Dedup.simhashPairs(batch1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(incremental.nonEmpty)
    assert(incremental == (full -- oldOnly),
      s"inc-only=${incremental -- (full -- oldOnly)}, missing=${(full -- oldOnly) -- incremental}")

    // the store grew: a third empty increment sees every signature
    val again = Dedup.incrementalSimhashPairs(
      docs.filter(col("doc_id") < 0), "doc_id", "text", statePath)
    assert(again.count() == 0) // empty batch -> no new pairs
    assert(spark.read.parquet(statePath).count() == docs.count())

    // RE-submitting already-stored docs is a no-op: no pair re-emits
    // (the resubmitted ids are not "new sides") and the store does not
    // grow duplicate rows
    val resub = Dedup.incrementalSimhashPairs(batch2.limit(100), "doc_id", "text", statePath)
    assert(resub.count() == 0)
    assert(spark.read.parquet(statePath).count() == docs.count())
  }

  test("incremental minhash: new-batch pairs == full-corpus pairs minus already-reported") {
    val docs = Tables.table(spark, sfDir, "documents")
    val batch1 = docs.filter(col("doc_id") < 250)
    val batch2 = docs.filter(col("doc_id") >= 250)
    val statePath = java.nio.file.Files.createTempDirectory("graft_incm").toString + "/mh"
    Dedup.writeMinhashState(batch1, "doc_id", "text", statePath)

    val incremental = Dedup.incrementalMinhashPairs(batch2, "doc_id", "text", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oldOnly = Dedup.minhashPairs(batch1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental.nonEmpty)
    assert(incremental == (full -- oldOnly),
      s"inc-only=${incremental -- (full -- oldOnly)}, missing=${(full -- oldOnly) -- incremental}")

    // store grew to the full corpus; an empty increment reports nothing
    val again = Dedup.incrementalMinhashPairs(
      docs.filter(col("doc_id") < 0), "doc_id", "text", statePath)
    assert(again.count() == 0)
    assert(spark.read.parquet(statePath).count() == docs.count())

    // RE-submitting already-stored docs is a no-op: no pair re-emits
    // (the resubmitted ids are not "new sides") and the store does not
    // grow duplicate rows
    val resub = Dedup.incrementalMinhashPairs(batch2.limit(100), "doc_id", "text", statePath)
    assert(resub.count() == 0)
    assert(spark.read.parquet(statePath).count() == docs.count())
  }

  test("dedupeKeepList keeps exactly one doc per cluster") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 6L)).toDF("id_l", "id_r")
    val keep = Dedup.dedupeKeepList(docs, pairs, "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(keep.filter(_._3).map(_._1).sorted.toSeq == Seq(1L, 3L, 4L)) // 4 has no dups
    assert(keep.find(_._1 == 5L).get._2 == 1L)
  }

  test("embedding pairs: planted near-duplicate vector is found") {
    val base = Array.tabulate(8)(i => math.sin(i * 1.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(8)(i => math.cos(i * 2.3 + 1).toFloat)
    val vecs = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq)).toDF("id", "v")
    val out = Dedup.embeddingPairs(vecs, "id", "v", dim = 8, threshold = 0.99, nBits = 4, nTables = 6)
    val found = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.contains((1L, 2L)))
    assert(!found.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding pairs: distinct placement (pre- vs post-verify) yields identical rows, no duplicates") {
    // a cluster of 6 near-identical vectors lands every pair in EVERY
    // table's shared bucket — the maximal cross-table duplication case.
    // The post-verify distinct (default) and the pre-verify placement
    // (knnGraph's) must agree row-for-row, and neither may emit a
    // duplicate (id_l, id_r).
    val vecs = (0L until 6L).map { i =>
      (i, Array.tabulate(8)(d => (math.sin(d * 1.7) + i * 1e-4).toFloat).toSeq)
    }.toDF("id", "v")
    def rows(pre: Boolean) =
      Dedup.embeddingPairs(vecs, "id", "v", dim = 8, threshold = 0.5,
        nBits = 4, nTables = 6, dedupBeforeVerify = pre)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val post = rows(pre = false)
    val pre = rows(pre = true)
    assert(post.sorted == pre.sorted)
    assert(post.map(p => (p._1, p._2)).distinct.size == post.size, "duplicate pair emitted")
    assert(post.size == 15) // all C(6,2) near-identical pairs found once
  }

  test("semDedup drops the larger id of a planted near-dup, keeps the rest") {
    val base = Array.tabulate(8)(i => math.sin(i * 1.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(8)(i => math.cos(i * 2.3 + 1).toFloat)
    val vecs = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq)).toDF("id", "v")
    val out = Dedup.semDedup(vecs, "id", "v", dim = 8, nCentroids = 2, threshold = 0.99)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("keep")).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("semDedup at threshold -1 keeps exactly one vector per cell") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.9 + d).toFloat).toSeq)).toDF("id", "v")
    val out = Dedup.semDedup(vecs, "id", "v", dim = 8, nCentroids = 4, threshold = -1.0)
    assert(out.count() == 40)
    // every within-cell pair is a "dup" -> only the min id of each cell survives
    val keepers = out.filter(col("keep")).groupBy("cell").count().collect()
    assert(keepers.forall(_.getLong(1) == 1L))
    val minIds = out.groupBy("cell").agg(org.apache.spark.sql.functions.min("id").as("m"))
      .collect().map(r => r.getAs[Int]("cell") -> r.getAs[Long]("m")).toMap
    out.filter(col("keep")).collect().foreach { r =>
      assert(r.getAs[Long]("id") == minIds(r.getAs[Int]("cell")))
    }
  }

  test("exactJaccardPairs finds every J>=theta pair; pairEval counts hand-checked") {
    // 1-2 are 3-gram near-dups (4 shared of 6 distinct grams, J = 2/3);
    // 3 shares one shingle with 1 (J = 1/9 < 0.5); 4 is disjoint
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f x"),
      (3L, "e f g h i j k"),
      (4L, "p q r s t u v"),
    ).toDF("doc_id", "text")
    val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(truth.toSeq == Seq((1L, 2L, 0.666667)))
    // completeness below threshold too: at theta=0.1 the weak 1-3 pair appears
    val loose = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 2L), (1L, 3L)))

    // pairEval vs a predictor that has one hit, one miss, one false alarm
    val pred = Seq((1L, 2L), (3L, 4L)).toDF("id_l", "id_r")
    val ev = Dedup.pairEval(
      Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.1), pred)
      .collect().head
    assert((ev.getLong(0), ev.getLong(1), ev.getLong(2)) == ((2L, 2L, 1L)))
    assert(ev.getDouble(3) == 0.5 && ev.getDouble(4) == 0.5)
    // empty truth -> NULL recall, not a division error
    val empty = Dedup.pairEval(
      Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 1.1), pred).collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(3) && empty.getDouble(4) == 0.0)
  }

  test("exactJaccardPairs enforces the eval-on-sample contract via the candidate-mass budget") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f x"),
      (3L, "e f g h i j k"),
      (4L, "p q r s t u v"),
    ).toDF("doc_id", "text")
    // over-budget input is REFUSED before any pair is generated, with
    // concrete sample-size guidance (the r14 ladder's 83×-for-10×
    // quadratic is priced in advance, not discovered at runtime)
    val e = intercept[IllegalArgumentException] {
      Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxCandidateMass = 3L)
    }
    assert(e.getMessage.contains("candidate mass"))
    assert(e.getMessage.contains("sample"))
    // in-budget runs and the guard-off path are the same relation —
    // the guard prices, it never alters the truth
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val guarded = rows(Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.1))
    val unguarded = rows(Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxCandidateMass = 0L))
    assert(guarded == unguarded && guarded.map(t => (t._1, t._2)) == Set((1L, 2L), (1L, 3L)))
  }

  test("ngramContainment: subset doc has containment 1.0 on its side; hashed == string") {
    val docs = Seq(
      (1L, "a b c d e f g h"),       // superset
      (2L, "a b c d e"),             // its 3-gram set is a subset of doc 1's
      (3L, "x y z w q"),             // disjoint from 1
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_l", "id_r")
    def run(h: Boolean) = Dedup.ngramContainment(pairs, docs, "doc_id", "text", 3, h)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    val out = run(false)
    // doc1: 6 distinct 3-grams, doc2: 3, all of doc2's inside doc1
    assert(out((1L, 2L)) == (6L, 3L, 3L, 0.5, 1.0))
    assert(!out.contains((1L, 3L))) // no shared shingle -> filtered
    assert(run(true) == out)        // hashed twin agrees on every value
  }

  // -- maximal repeated spans -----------------------------------------

  /** Independent single-node reference: token-level diagonal runs.
    * A maximal run of consecutive token equality of length >= minLen
    * along a diagonal IS a maximal common substring — no grams. */
  private def refSpans(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Long, Long, Long)] = {
    def toks(s: String) = s.toLowerCase.trim.split("\\s+").toSeq
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      a = toks(ta); b = toks(tb)
      d <- -(b.length - 1) to (a.length - 1)
      } yield {
        // walk the diagonal, collect maximal equal-token runs
        val cells = (0 until a.length).flatMap { i =>
          val j = i - d
          if (j >= 0 && j < b.length && a(i) == b(j)) Some(i) else None
        }
        val runs = cells.foldLeft(List.empty[List[Int]]) {
          case (acc, i) if acc.nonEmpty && acc.head.head == i - 1 => (i :: acc.head) :: acc.tail
          case (acc, i) => List(i) :: acc
        }
        runs.filter(_.length >= minLen).map { r =>
          val start = r.last
          (ia, ib, start.toLong, (start - d).toLong, r.length.toLong)
        }
      }).flatten.toSet
  }

  test("maximalSpans matches the token-level diagonal-run reference and is maximal") {
    val docs = Seq(
      (1L, "x1 x2 aa bb cc dd ee x3 x4 aa bb cc dd x5"),   // "aa bb cc dd" twice
      (2L, "y1 aa bb cc dd ee y2 y3 y4 y5 y6 y7"),
      (3L, "z1 z2 z3 aa bb cc dd z4 ee ff gg hh"),
      (4L, "totally unrelated words without any overlap at all"),
    )
    val df = docs.toDF("id", "text")
    def run(hashed: Boolean) =
      Dedup.maximalSpans(df, "id", "text", k = 3, minLen = 3, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2).toLong, r.getInt(3).toLong, r.getLong(4))).toSet
    val out = run(hashed = false)
    assert(out == refSpans(docs, minLen = 3))
    // spot-check the headline spans: doc1 has BOTH occurrences of the
    // repeated block against doc2 (two diagonals, the first extended
    // by 'ee'), and maximality means no span is a sub-span of another
    // on the same diagonal
    assert(out.contains((1L, 2L, 2L, 1L, 5L)))   // "aa bb cc dd ee"
    assert(out.contains((1L, 2L, 9L, 1L, 4L)))   // second occurrence, no 'ee'
    assert(out.contains((1L, 3L, 2L, 3L, 4L)))
    assert(!out.exists(_._1 == 4L) && !out.exists(_._2 == 4L))
    // hashed production twin: identical relation
    assert(run(hashed = true) == out)
    // the frequency cap severs runs through over-frequent grams
    val capped = Dedup.maximalSpans(df, "id", "text", k = 3, minLen = 3,
      maxGramFreq = 1L, hashGrams = false).collect()
    assert(capped.isEmpty) // every shared gram exceeds a cap of 1
  }

  test("cutSpans keeps each span once, unions overlaps, empties covered docs") {
    val docs = Seq(
      (1L, "x1 x2 aa bb cc dd ee x3 x4 aa bb cc dd x5"),
      (2L, "y1 aa bb cc dd ee y2 y3 y4 y5 y6 y7"),
      (3L, "z1 z2 z3 aa bb cc dd z4 ee ff gg hh"),
      (5L, "aa bb cc dd ee"),                              // fully covered by doc 1
    ).toDF("id", "text")
    val spans = Dedup.maximalSpans(docs, "id", "text", k = 3, minLen = 3, hashGrams = false)
    val out = Dedup.cutSpans(docs, spans, "id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // smallest id keeps everything — the one surviving occurrence
    assert(out(1L) == ((14L, 0L, "x1 x2 aa bb cc dd ee x3 x4 aa bb cc dd x5")))
    // doc 2: spans (pos 1 len 5) and (pos 1 len 4) union to [1, 6)
    assert(out(2L) == ((12L, 5L, "y1 y2 y3 y4 y5 y6 y7")))
    // doc 3: the shared block cut once though found vs both 1 and 2
    assert(out(3L) == ((12L, 4L, "z1 z2 z3 z4 ee ff gg hh")))
    // doc 5 is one big repeated span -> empty rewrite
    assert(out(5L) == ((5L, 5L, "")))
  }
}
