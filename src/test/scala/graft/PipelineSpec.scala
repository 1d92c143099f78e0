package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma completely different tail here"),
    (3L, "nothing in common with anything else at all"),
    (4L, "alpha  beta gamma delta epsilon ZETA"), // normalized dup of 1
    (5L, "delta epsilon zeta eta theta iota"),
  ).toDF("doc_id", "text")

  // -- contamination ---------------------------------------------------

  test("contamination counts distinct shared k-grams vs the benchmark") {
    // benchmark = doc 1; its 3-grams: {alpha beta gamma, beta gamma delta,
    // gamma delta epsilon, delta epsilon zeta}
    val bench = docs.filter(col("doc_id") === 1)
    val corpus = docs.filter(col("doc_id") =!= 1)
    val out = Pipeline.contamination(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Double]("contam_ratio"))).toMap
    assert(out(2L)._1 == 1L)             // shares "alpha beta gamma"
    assert(out(4L)._1 == 4L)             // normalized dup: all 4 grams
    assert(out(4L)._2 == 1.0)
    assert(out(5L)._1 == 1L)             // shares "delta epsilon zeta"
    assert(!out.contains(3L))            // clean doc absent from result
  }

  test("contaminationEmbedding flags cosine-near benchmark rows with exact counts and max") {
    // benchmark: two orthogonal directions; corpus: one aligned with
    // each, one near BOTH (diagonal clears 0.6 against both axes? no —
    // cos(diag, axis) = 1/√2 ≈ .7071), one orthogonal, one zero (NaN)
    val bench = Seq((100L, Seq(1f, 0f)), (101L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.9f, 0.1f)),  // near bench 100 only (cos .9939 / .1104)
      (2L, Seq(1f, 1f)),      // near both (cos .7071 each)
      (3L, Seq(-1f, 0.2f)),   // near neither at 0.6
      (4L, Seq(0f, 0f)),      // zero vector: NaN cosine, must not flag
    ).toDF("vec_id", "embedding")
    val out = Pipeline.contaminationEmbedding(corpus, bench, "vec_id", "embedding",
      threshold = 0.6)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Double]("max_cosine"))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 1L && out(1L)._2 == 0.993884)
    assert(out(2L)._1 == 2L && out(2L)._2 == 0.707107)
    // determinism across partitionings
    val re = Pipeline.contaminationEmbedding(corpus.repartition(5), bench,
      "vec_id", "embedding", threshold = 0.6)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Double]("max_cosine"))).toMap
    assert(re == out)
    // internal-name isolation: a corpus that already carries the old
    // internal names (__bvec / __cos) — or any column shadowing the
    // benchmark's vecCol — must neither throw ambiguous-reference nor
    // silently bind the benchmark side to a corpus column
    val trapped = corpus
      .withColumn("__bvec", col("embedding"))
      .withColumn("__cos", org.apache.spark.sql.functions.lit(9.9))
    val trap = Pipeline.contaminationEmbedding(trapped, bench,
      "vec_id", "embedding", threshold = 0.6)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Double]("max_cosine"))).toMap
    assert(trap == out)
  }

  test("hashed and string gram variants agree") {
    val bench = docs.filter(col("doc_id") === 1)
    val corpus = docs.filter(col("doc_id") =!= 1)
    def rows(hashGrams: Boolean) =
      Pipeline.contamination(corpus, bench, "doc_id", "text", hashGrams = hashGrams)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(hashGrams = true) == rows(hashGrams = false))
  }

  // -- hashSplit -------------------------------------------------------

  test("hashSplit is exhaustive, deterministic, and respects bounds") {
    val many = spark.range(0, 2000).select(col("id").as("doc_id"))
    val out = Pipeline.hashSplit(many, "doc_id")
    assert(out.count() == 2000)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5 buckets are uniform: 80/10/10 ±5pp at n=2000
    assert(counts("train") > 1400 && counts("train") < 1750)
    assert(counts("val") > 120 && counts("val") < 280)
    assert(counts("test") > 120 && counts("test") < 280)
    // stable under repartitioning (the property that matters: no doc
    // migrates between train and test on a re-read)
    val again = Pipeline.hashSplit(many.repartition(13), "doc_id")
    assert(out.join(again.withColumnRenamed("split", "split2"), "doc_id")
      .filter(col("split") =!= col("split2")).count() == 0)
    // bucket < weight-space bound
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 100).count() == 0)
  }

  test("hashSplit honors custom weights and seed changes the assignment") {
    val many = spark.range(0, 500).select(col("id").as("doc_id"))
    val out = Pipeline.hashSplit(many, "doc_id", fractions = Seq("a" -> 1, "b" -> 1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("a", "b"))
    assert(math.abs(counts("a") - counts("b")) < 150)
    val reseeded = Pipeline.hashSplit(many, "doc_id", seed = "other")
    assert(Pipeline.hashSplit(many, "doc_id")
      .join(reseeded.withColumnRenamed("split", "s2"), "doc_id")
      .filter(col("split") =!= col("s2")).count() > 0)
  }

  // -- keepBestByFingerprint -------------------------------------------

  test("keepBest keeps the highest-scoring doc per normalized cluster") {
    val d = Seq(
      (1L, "same same same", 5),
      (2L, "SAME  same   SAME", 9),  // normalized dup of 1, higher score
      (3L, "unique text", 1),
    ).toDF("doc_id", "text", "quality")
    val out = Pipeline.keepBestByFingerprint(d, "doc_id", "text", col("quality"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("keepBest tie-breaks deterministically on id") {
    val d = Seq((7L, "x y z"), (3L, "x y z"), (9L, "x y z")).toDF("doc_id", "text")
    val out = Pipeline.keepBestByFingerprint(d, "doc_id", "text", lit(1))
      .filter(col("keep")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L))
  }

  // -- stratifiedSample ------------------------------------------------

  test("stratifiedSample honors per-stratum rates and is repartition-stable") {
    val many = spark.range(0, 3000)
      .select(col("id").as("doc_id"),
        when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de").otherwise("fr").as("lang"))
    val out = Pipeline.stratifiedSample(many, "doc_id", "lang",
      rates = Seq("en" -> 0, "de" -> 50), defaultPct = 100)
    val kept = out.filter(col("keep")).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("en"))                    // 0% stratum fully dropped
    assert(kept("fr") == 1000L)                     // 100% stratum fully kept
    assert(math.abs(kept("de") - 500L) < 100)       // ~50%
    // per-row arithmetic: identical keep set under a different layout
    val re = Pipeline.stratifiedSample(many.repartition(13), "doc_id", "lang",
      rates = Seq("en" -> 0, "de" -> 50), defaultPct = 100)
    assert(out.select("doc_id", "keep").except(re.select("doc_id", "keep")).isEmpty)
    // xxhash64 production bucket: same keep-rate contract
    val xx = Pipeline.stratifiedSample(many, "doc_id", "lang",
      rates = Seq("en" -> 0, "de" -> 50), defaultPct = 100, bucketOf = Pipeline.xxBucket)
    assert(xx.filter(col("keep") && col("lang") === "en").count() == 0)
    assert(xx.filter(col("keep") && col("lang") === "fr").count() == 1000L)
  }

  // -- corpusMix -------------------------------------------------------

  test("corpusMix fills exact integer quotas in the target ratio") {
    // strata sizes: a=300, b=120, c=90; weights a:2 b:1 -> m = min(150, 120) = 120
    // quotas: a = 240, b = 120; c unweighted -> all keep=false
    val d = spark.range(0, 510).select(col("id").as("doc_id"),
      when(col("id") < 300, "a").when(col("id") < 420, "b").otherwise("c").as("src"))
    val out = Pipeline.corpusMix(d, "doc_id", "src", Seq("a" -> 2, "b" -> 1))
    val kept = out.filter(col("keep")).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("a" -> 240L, "b" -> 120L))
    assert(out.count() == 510)                       // unweighted rows retained...
    assert(out.filter(col("src") === "c" && col("keep")).count() == 0) // ...flagged drop
    // deterministic under relayout
    val re = Pipeline.corpusMix(d.repartition(7), "doc_id", "src", Seq("a" -> 2, "b" -> 1))
    assert(out.except(re).isEmpty && re.except(out).isEmpty)
  }

  test("corpusMixTemperature: isqrt weights, exact quotas, count cap, tail up-weighting") {
    // strata sizes: a=100, b=16, c=4 -> isqrt weights 10, 4, 2 (Σ=16)
    // budget 32 -> quotas: a = min(100, 32·10÷16) = 20,
    //                      b = min(16, 8) = 8, c = min(4, 4) = 4
    val d = spark.range(0, 120).select(col("id").as("doc_id"),
      when(col("id") < 100, "a").when(col("id") < 116, "b").otherwise("c").as("src"))
    val out = Pipeline.corpusMixTemperature(d, "doc_id", "src", budget = 32L)
    val kept = out.filter(col("keep")).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("a" -> 20L, "b" -> 8L, "c" -> 4L))
    assert(out.count() == 120) // every row present, unselected ones keep=false
    // the α=1/2 point: the tail stratum keeps 100% while the head keeps 20% —
    // proportional sampling at the same budget would give c only ~1 doc
    // isqrt exactness at square boundaries: counts 15/16/17 -> weights 3/4/4
    val sq = spark.range(0, 48).select(col("id").as("doc_id"),
      when(col("id") < 15, "p").when(col("id") < 31, "q").otherwise("r").as("src"))
    val w2 = Pipeline.corpusMixTemperature(sq, "doc_id", "src", budget = 11L)
      .filter(col("keep")).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // Σw = 3+4+4 = 11, budget 11 -> quotas exactly the weights
    assert(w2 == Map("p" -> 3L, "q" -> 4L, "r" -> 4L))
    // deterministic under relayout
    val re = Pipeline.corpusMixTemperature(d.repartition(7), "doc_id", "src", budget = 32L)
    assert(out.except(re).isEmpty && re.except(out).isEmpty)
    // NULL strata: rows come back keep=false and contribute NO weight
    // to the denominator (the family contract — corpusMix flags, never
    // drops)
    val withNull = d.union(spark.range(900, 964)
      .select(col("id").as("doc_id"), lit(null).cast("string").as("src")))
    val on = Pipeline.corpusMixTemperature(withNull, "doc_id", "src", budget = 32L)
    assert(on.count() == 184)
    assert(on.filter(col("src").isNull && col("keep")).count() == 0)
    // quotas unchanged vs the no-NULL run: 64 NULL rows (isqrt 8)
    // must not have shrunk anyone's share
    val kn = on.filter(col("keep")).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kn == Map("a" -> 20L, "b" -> 8L, "c" -> 4L))
  }

  test("systematicSample: PPS picks match a driver-side reference; zero-token never picked") {
    val data = (1L to 40L).map((_, 10L)) ++ Seq((50L, 600L), (60L, 0L), (61L, 0L))
    val df = data.toDF("doc_id", "tok")
    val out = Pipeline.systematicSample(df, "doc_id", "tok", n = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // independent reference: same hash order, stride, offset, point count
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val ordered = data.sortBy { case (id, _) => (h(s"pps:$id"), id) }
    val total = data.map(_._2).sum // 1000
    val stride = (total + 9) / 10  // 100
    val off = 1L + (h("pps:offset") % stride)
    def g(x: Long) = (x + stride - off) / stride
    var cum = 0L
    val ref = ordered.map { case (id, tok) =>
      val prev = cum; cum += tok
      id -> ((tok, cum, g(cum) > g(prev)))
    }.toMap
    assert(out == ref)
    // PPS guarantees: the 600-token doc spans 6 strides -> certain pick;
    // zero-token docs have empty intervals -> never picked
    assert(out(50L)._3)
    assert(!out(60L)._3 && !out(61L)._3)
    // pick count: 10 points land, but the giant absorbs 6 of them and
    // is picked once (without-replacement PPS) -> 4 + 1 docs
    assert(out.values.count(_._3) == 5)
    // a uniform corpus (no doc above the stride) picks exactly n
    val uni = (1L to 40L).map((_, 10L)).toDF("doc_id", "tok")
    assert(Pipeline.systematicSample(uni, "doc_id", "tok", n = 10L)
      .filter(col("picked")).count() == 10)
    // deterministic under relayout
    val re = Pipeline.systematicSample(df.repartition(7), "doc_id", "tok", n = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(re == out)
  }

  // -- repeatedSpans ---------------------------------------------------

  test("repeatedSpans finds cross-doc shared k-grams; hashed == string") {
    val d = Seq(
      (1L, "one two three four five unique tail one"),
      (2L, "one two three four five other ending words"),
      (3L, "completely disjoint vocabulary set here now yes"),
    ).toDF("doc_id", "text")
    val out = Pipeline.repeatedSpans(d, "doc_id", "text", k = 5, hashGrams = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_spans")).toMap
    // docs 1,2 share the single 5-gram "one two three four five"
    assert(out == Map(1L -> 1L, 2L -> 1L))
    val hashed = Pipeline.repeatedSpans(d, "doc_id", "text", k = 5, hashGrams = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_spans")).toMap
    assert(hashed == out)
  }

  // -- unigramScore / unigramLogProb -----------------------------------

  test("unigramScore computes exact corpus-frequency signals") {
    val d = Seq(
      (1L, "cat cat dog"),   // corpus counts: cat=3, dog=2, rare=1
      (2L, "cat dog rare"),
    ).toDF("doc_id", "text")
    val out = Pipeline.unigramScore(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("freq_sum"), r.getAs[Long]("min_freq")))).toMap
    assert(out(1L) == ((3L, 8L, 2L)))   // 3+3+2
    assert(out(2L) == ((3L, 6L, 1L)))   // 3+2+1
    // hashed-token production path: identical signals
    val hashed = Pipeline.unigramScore(d, "doc_id", "text", hashTokens = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("freq_sum"), r.getAs[Long]("min_freq")))).toMap
    assert(hashed == out)
  }

  // -- chunkTokens -----------------------------------------------------

  test("chunkTokens windows with overlap; short docs yield one chunk") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // < stride
    ).toDF("doc_id", "text")
    val out = Pipeline.chunkTokens(d, "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        ((r.getAs[Int]("n_chunk_tokens"), r.getAs[String]("chunk_text")))).toMap
    // stride 3: starts 0,3,6,9 -> ceil((10-1)/3)=3 chunks at 0,3,6
    assert(out.keys.count(_._1 == 1L) == 3)
    assert(out((1L, 0)) == ((4, "w1 w2 w3 w4")))
    assert(out((1L, 1)) == ((4, "w4 w5 w6 w7")))   // overlap 1: w4 repeats
    assert(out((1L, 2)) == ((4, "w7 w8 w9 w10")))
    assert(out((2L, 0)) == ((2, "a b")))
    assert(out.keys.count(_._1 == 2L) == 1)
    // every token of doc 1 appears in some chunk (full coverage)
    val covered = out.collect { case ((1L, _), (_, t)) => t.split(" ") }.flatten.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  // -- packSequences ---------------------------------------------------

  test("packSequences lays out a gapless per-shard token stream") {
    val d = (0L until 40L).map(i => (i, ("tok " * (i.toInt % 7 + 1)).trim)).toDF("doc_id", "text")
    val out = Pipeline.packSequences(d, "doc_id", "text", contextLen = 10, nShards = 4)
    assert(out.count() == 40)
    val byShard = out.collect().groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet == Set(0L, 1L, 2L, 3L))
    byShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      // gapless: each doc starts exactly where the previous ended
      val offsets = sorted.scanLeft(0L) { (cum, r) => cum + r.getAs[Long]("n_tokens") }
      sorted.zip(offsets).foreach { case (r, start) =>
        assert(r.getAs[Long]("first_bin") == start / 10)
        assert(r.getAs[Long]("offset_in_bin") == start % 10)
        assert(r.getAs[Long]("last_bin") == (start + r.getAs[Long]("n_tokens") - 1) / 10)
      }
    }
  }

  test("unigramLogProb: common-vocabulary docs score higher") {
    val d = Seq(
      (1L, "cat cat cat cat"),
      (2L, "cat cat cat xylophone"),
    ).toDF("doc_id", "text")
    val out = Pipeline.unigramLogProb(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_logprob")).toMap
    assert(out(1L) > out(2L))
    assert(out.values.forall(_ < 0.0))
  }

  // -- lineDedup -------------------------------------------------------

  private def lineRows = Seq(
    // doc 1: boilerplate header + unique body
    (1L, 0L, "all rights reserved"), (1L, 1L, "unique body one"),
    // doc 2: same header + unique body; also repeats ITS OWN line twice
    (2L, 0L, "all rights reserved"), (2L, 1L, "unique body two"),
    (2L, 2L, "only in doc two"), (2L, 3L, "only in doc two"),
    // doc 3: entirely unique
    (3L, 0L, "nothing shared here"),
  ).toDF("doc_id", "line_idx", "line")

  test("lineDedup drops cross-doc lines, keeps within-doc repeats, rebuilds in order") {
    val out = Pipeline.lineDedup(lineRows, "doc_id", "line_idx", "line")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == (2L, 1L, "unique body one"))
    // a line repeated only WITHIN one doc is not boilerplate (1 distinct doc)
    assert(out(2L) == (4L, 1L, "unique body two only in doc two only in doc two"))
    assert(out(3L) == (1L, 0L, "nothing shared here"))
  }

  test("lineDedup hashed and string variants agree; all-dup doc yields empty text") {
    val allDup = Seq(
      (1L, 0L, "x y z"), (2L, 0L, "x y z"),
    ).toDF("doc_id", "line_idx", "line")
    def run(h: Boolean) = Pipeline.lineDedup(allDup, "doc_id", "line_idx", "line", hashLines = h)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(true) == run(false))
    assert(run(true).head(4) == "") // clean_text empty, not null
    val full = Pipeline.lineDedup(lineRows, "doc_id", "line_idx", "line", hashLines = true)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val gate = Pipeline.lineDedup(lineRows, "doc_id", "line_idx", "line", hashLines = false)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(full == gate)
  }

  test("linify windows tokens without overlap and keeps the partial tail") {
    val d = Seq((1L, "a b c d e f g h i j k")).toDF("doc_id", "text") // 11 tokens
    val out = Pipeline.linify(d, "doc_id", "text", lineTokens = 4)
      .orderBy("line_idx").collect().map(_.getAs[String]("line")).toSeq
    assert(out == Seq("a b c d", "e f g h", "i j k"))
  }

  test("shuffleShard: dense per-shard positions, total coverage, partition-invariant") {
    val docs = (1L to 100L).toDF("doc_id")
    def run(p: Int, h: Boolean) =
      Pipeline.shuffleShard(docs.repartition(p), "doc_id", nShards = 4, hashed = h)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val out = run(1, false)
    assert(out.map(_._1).toSet == (1L to 100L).toSet)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq) // dense 0..n-1
    }
    assert(run(7, false).toSet == out.toSet) // layout independent of input partitioning
    val prod = run(3, true)
    assert(prod.map(_._1).toSet == (1L to 100L).toSet)
    prod.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
  }

  test("prepareCorpus: each stage drops its target; survivors scrubbed + sharded") {
    val good = "the quick brown fox jumps over the lazy dog while the " +
      "keen red hen walks under the tall green tree near the old stone wall today"
    val docs = Seq(
      (1L, good + " contact bob@example.com now"),  // kept (email scrubbed)
      (2L, good + " contact bob@example.com now"),  // exact dup of 1 -> dropped
      (3L, good + " contact bob@example.com soon"), // one-token near-dup -> dropped
      (4L, "too short"),                           // quality: < 20 tokens
      (5L, Seq.fill(30)("spam").mkString(" ")),    // repetition + stopword floor
      (6L, "the bright blue boat drifts down the wide calm river past the " +
        "small white house and the long low bridge near the quiet busy harbor"),
    ).toDF("doc_id", "text")
    def run(p: Int) = Pipeline.prepareCorpus(docs.repartition(p), "doc_id", "text",
      nShards = 2, maxHamming = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val out = run(1)
    assert(out.map(_._1).toSet == Set(1L, 6L), s"survivors=${out.map(_._1).toSet}")
    val kept1 = out.find(_._1 == 1L).get._2
    assert(!kept1.contains("bob@example.com") && kept1.contains("[EMAIL]"))
    assert(run(5).toSet == out.toSet) // deterministic layout
  }

  test("topKPerGroup: exactly k per stratum (or all, if smaller), partition-invariant") {
    val docs = (1L to 100L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
      .unionByName(Seq(("tiny", 999L)).toDF("grp", "id")) // stratum smaller than k
    def run(p: Int, h: Boolean) = Pipeline.topKPerGroup(docs.repartition(p), "grp", "id", 5, hashed = h)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val out = run(1, false)
    val byGrp = out.groupBy(_._1)
    assert(byGrp("g0").size == 5 && byGrp("g1").size == 5 && byGrp("g2").size == 5)
    assert(byGrp("tiny") == Set(("tiny", 999L, 1)))
    out.groupBy(_._1).foreach { case (_, rows) => // ranks dense from 1
      assert(rows.map(_._3).toSeq.sorted == (1 to rows.size))
    }
    assert(run(7, false) == out) // hash order is partition-invariant
    val prod = run(4, true)
    assert(prod.groupBy(_._1).forall { case (g, rows) => rows.size == (if (g == "tiny") 1 else 5) })
  }

  test("collocations: map-side bigrams with exact margins and total") {
    val docs = Seq(
      (1L, "big data big data big"),
      (2L, "big data small data"),
    ).toDF("doc_id", "text")
    // bigrams: (big,data)x3, (data,big)x2, (data,small)x1, (small,data)x1
    val out = Pipeline.collocations(docs, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out == Map(
      ("big", "data") -> (3L, 4L, 4L, 9L),
      ("data", "big") -> (2L, 4L, 4L, 9L)))
    // PMI twin: same surviving pairs, pmi finite
    val pmi = Pipeline.collocationsPmi(docs, "text", minCount = 2).collect()
    assert(pmi.length == 2 && pmi.forall(r => !r.getAs[Double]("pmi").isNaN))
  }

  test("dsirScore: exact integer masses; hashed twin agrees on every value") {
    val docs = Seq(
      (1L, "the cat", true),   // target
      (2L, "the dog", false),
      (3L, "cat cat", false),
    ).toDF("doc_id", "text", "tgt")
    // token freqs: the -> (tgt 1, all 2); cat -> (tgt 1, all 3); dog -> (0, 1)
    val out = Pipeline.dsirScore(docs, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == (2L, 2L, 5L, 0.4))      // the+cat: tgt 1+1, all 2+3
    assert(out(2L) == (2L, 1L, 3L, 0.333333)) // the+dog: tgt 1+0, all 2+1
    assert(out(3L) == (2L, 2L, 6L, 0.333333)) // cat+cat: tgt 1+1, all 3+3
    val hashed = Pipeline.dsirScore(docs, "doc_id", "text", col("tgt"), hashTokens = true)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(hashed == out)
  }

  test("bpePairs weights vocab char pairs by word frequency") {
    val docs = Seq(
      (1L, "abab ab"),   // abab: ab,ba,ab ; ab: ab
      (2L, "ab x"),      // ab again (freq 2); x too short -> excluded
    ).toDF("doc_id", "text")
    val out = Pipeline.bpePairs(docs, "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ab: abab(1)*2 + ab(2)*1 = 4 ; ba: abab(1)*1 = 1
    assert(out == Map("ab" -> 4L, "ba" -> 1L))
  }

  test("importanceSample: max weight always kept, zero never, repartition-stable") {
    val docs = (1L to 400L).map(i => (i, if (i == 1) 0L else i % 100 + 1)).toDF("id", "w")
    val out = Pipeline.importanceSample(docs, "id", "w")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(!out(1L)._2) // zero weight: h*max < 0 is false
    val mx = out.values.map(_._1).max
    out.filter(_._2._1 == mx).foreach { case (id, (_, k)) => assert(k, s"max-weight $id dropped") }
    val kept = out.count(_._2._2)
    assert(kept > 50 && kept < 350) // ~E[w]/max ≈ half the corpus
    val re = Pipeline.importanceSample(docs.repartition(7), "id", "w")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(re == out)
  }

  test("featureHash: counts land in hash slots, sum preserved, hashed twin same shape") {
    val docs = Seq((1L, "a b a"), (2L, "c")).toDF("doc_id", "text")
    val out = Pipeline.featureHash(docs, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).sum == 3 && out(2L).sum == 1) // token mass preserved
    assert(out(1L).length == 8 && out(1L).max == 2) // 'a' twice, same slot
    val hashed = Pipeline.featureHash(docs, "doc_id", "text", dim = 8, hashed = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hashed(1L).sum == 3 && hashed(1L).length == 8)
    // deterministic across partitionings
    val re = Pipeline.featureHash(docs.repartition(3), "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(re == out)
  }

  test("classifyCentroid: training docs classified, tie → larger label, hashed path identical") {
    val docs = Seq(
      (1L, "apple apple banana", "A"),
      (2L, "banana banana cherry", "B"),
      (3L, "apple apple apple", "A")).toDF("doc_id", "text", "lang")
    val out = Pipeline.classifyCentroid(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    // clearly-separated training docs classify to their own class
    assert(out(1L)._2 == "A" && out(2L)._2 == "B" && out(3L)._2 == "A")
    assert(out.values.forall { case (label, pred, score) => score > 0 && (label == pred) })
    // hashed production path: identical predictions (join keys change,
    // counts don't — xxhash64 collisions on a real vocab are negligible)
    val hashed = Pipeline.classifyCentroid(docs, "doc_id", "text", "lang", hashed = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(hashed == out)
    // exact score tie: both classes emit identical weights → the
    // larger label wins, deterministically, for every doc
    val tied = Seq((1L, "x", "A"), (2L, "x", "B")).toDF("doc_id", "text", "lang")
    val tout = Pipeline.classifyCentroid(tied, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tout == Map(1L -> "B", 2L -> "B"))
    // deterministic across partitionings
    val re = Pipeline.classifyCentroid(docs.repartition(5), "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(re == out)
  }

  test("corpusDiff classifies added/removed/changed and drops identical") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp")
    val v2 = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "fp")
    val out = Pipeline.corpusDiff(v1, v2, "id", "fp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  /** Single-node reference BPE (Sennrich-style, greedy left-to-right
    * merges, count DESC / pair ASC tie-break) — the spec oracle for
    * the distributed trainer. */
  private def refBpe(words: Map[String, Long], merges: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words.collect {
      case (w, f) if w.length >= 2 => w.map(_.toString).toVector -> f
    }
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (round <- 1 to merges if vocab.nonEmpty) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach { p =>
          if (p.size == 2) counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        rules += ((round, l, r, l + r, c))
        vocab = vocab.map { case (syms, f) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (acc.nonEmpty && acc.last == l && s == r) acc(acc.size - 1) = l + r
            else acc += s
          }
          acc.toVector -> f
        }.filter(_._1.size >= 2).groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    rules.toSeq
  }

  test("bpeTrain matches single-node reference BPE rule-for-rule") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "wide wider widest lower")).toDF("doc_id", "text")
    // the reference consumes the SAME word frequencies (tokenization
    // is not under test — the merge loop is)
    val words = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = refBpe(words, merges = 12)
    val got = Pipeline.bpeTrain(docs, "text", merges = 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      .sortBy(_._1)
    assert(got == want)
    // round 1 must equal bpePairs' argmax by construction
    val firstPair = Pipeline.bpePairs(docs, "text", topK = 1).head()
    assert(got.head._2 + got.head._3 == firstPair.getString(0))
    assert(got.head._5 == firstPair.getLong(1))
    // deterministic under repartitioning
    val re = Pipeline.bpeTrain(docs.repartition(5), "text", merges = 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      .sortBy(_._1)
    assert(re == got)
  }

  test("bpeTrain: repeated-symbol greedy merge and early exhaustion") {
    // "aaaa" x3: rule 1 = (a,a)->aa applied greedily left-to-right
    val docs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val out = Pipeline.bpeTrain(docs, "text", merges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    // r1: (a,a) count 9 (3 per word: positions 1-2,2-3,3-4... weighted);
    // merged word = [aa, aa]; r2: (aa,aa) count 3; then single-symbol
    // words drop out and training stops early — no further rules
    assert(out.map(t => (t._2, t._3)) == Seq(("a", "a"), ("aa", "aa")))
    assert(out.map(_._4) == Seq(9L, 3L))
    assert(out.size == 2) // exhausted before the merge budget
  }

  test("bpeEncode segments with trained rules; vocab words reproduce training state") {
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    // hand-derived rule sequence for this corpus (count DESC, l ASC,
    // r ASC ties): lo, low, lowe, lower, lowes, lowest — then exhausted
    val rules = Pipeline.bpeCollectRules(Pipeline.bpeTrain(docs, "text", merges = 10))
    assert(rules == Seq(("l", "o"), ("lo", "w"), ("low", "e"),
      ("lowe", "r"), ("lowe", "s"), ("lowes", "t")))
    def enc(word: String, rs: Seq[(String, String)] = rules): Seq[String] = {
      val df = Seq(word).toDF("w")
      df.select(graft.functions.TextExpressions.bpeEncodeWord(col("w"), rs).as("s"))
        .head().getSeq[String](0)
    }
    // training-vocab words encode to their fully-merged training state
    assert(enc("low") == Seq("low"))
    assert(enc("lower") == Seq("lower"))
    assert(enc("lowest") == Seq("lowest"))
    // unseen word: longest learned prefixes apply, remainder stays split
    assert(enc("lowers") == Seq("lower", "s"))
    // fully-unseen word degrades to characters
    assert(enc("cat") == Seq("c", "a", "t"))
    // no rules → pure character split (code-point aware)
    assert(enc("naïve", Nil) == Seq("n", "a", "ï", "v", "e"))
    // symbols always concatenate back to the word
    for (w <- Seq("low", "lowers", "lowestest", "cat"))
      assert(enc(w).mkString == w)
    // doc-level: flat symbol stream across words
    val doc = Seq((1L, "low lowers")).toDF("doc_id", "text")
    val syms = doc.select(Pipeline.bpeEncode(col("text"), rules).as("s"))
      .head().getSeq[String](0)
    assert(syms == Seq("low", "lower", "s"))
  }

  test("bigramLmScore: hand-computed conditional rates, hashed twin identical") {
    // corpus bigrams: (a,b)×3 [docs 1,2], (b,a)×1, (b,c)×1, (c,a)×1
    // from-margins: a→: 3, b→: 2, c→: 1
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: ab, ba, ab
      (2L, "a b c a"),   // bigrams: ab, bc, ca
      (3L, "z")).toDF("doc_id", "text") // single token → no bigrams
    val S = 1L << 20
    val out = Pipeline.bigramLmScore(docs, "doc_id", "text", scale = S)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val pAb = 3 * S / 3; val pBa = 1 * S / 2; val pBc = 1 * S / 2; val pCa = 1 * S / 1
    // doc 1: 2·P(b|a) + 1·P(a|b)
    val d1 = 2 * pAb + pBa
    assert(out(1L) == ((3L, d1, d1 / 3)))
    // doc 2: P(b|a) + P(c|b) + P(a|c)
    val d2 = pAb + pBc + pCa
    assert(out(2L) == ((3L, d2, d2 / 3)))
    // sub-bigram docs are absent, not zero-scored
    assert(!out.contains(3L))
    // production path: hashed join keys, identical scores (counts are
    // key-blind; xxhash64 collisions negligible on a real vocab)
    val hashed = Pipeline.bigramLmScore(docs, "doc_id", "text", scale = S, hashTokens = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(hashed == out)
    // deterministic across partitionings
    val re = Pipeline.bigramLmScore(docs.repartition(5), "doc_id", "text", scale = S)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(re == out)
  }

  test("bpePairs topK rank is deterministic on count ties") {
    val docs = Seq((1L, "ab cd ab cd ef")).toDF("doc_id", "text")
    // counts: ab 2, cd 2, ef 1 -> topK=2 keeps (ab, cd) by pair ASC on the tie
    val out = Pipeline.bpePairs(docs, "text", topK = 2)
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("ab", "cd"))
  }

  test("dedupLinesWithin drops repeats keeping first occurrence, preserves order") {
    val lines = Seq(
      (1L, 0L, "intro text"), (1L, 1L, "menu bar"), (1L, 2L, "body one"),
      (1L, 3L, "menu bar"),   (1L, 4L, "body two"), (1L, 5L, "menu bar"),
      (2L, 0L, "unique only"),
    ).toDF("doc_id", "line_idx", "line")
    val out = Pipeline.dedupLinesWithin(lines, "doc_id", "line_idx", "line")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(out(1L) == (6L, 2L, "intro text menu bar body one body two"))
    assert(out(2L) == (1L, 0L, "unique only"))
  }

  test("groupSplit keeps every member of a group in the same fold") {
    val rows = (1L to 300L).map(i => (i, i % 40)) // 40 groups
    val out = Pipeline.groupSplit(rows.toDF("id", "grp"), "id", "grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // all rows of a group share the split
    out.groupBy(_._2).foreach { case (g, members) =>
      assert(members.map(_._3).distinct.length == 1, s"group $g straddles folds")
    }
    // every fold non-empty at 40 groups and the default 80/10/10
    val folds = out.map(_._3).distinct.sorted
    assert(folds.contains("train"))
    // identical to hashing the group key directly
    val direct = Pipeline.hashSplit(
      rows.map(_._2).distinct.toDF("grp"), "grp", seed = "gsplit")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach { case (_, g, s) => assert(direct(g) == s) }
  }

  test("selectToBudget matches the single-node running total and is partition-invariant") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 200L).map(i => (i, 10L + rnd.nextInt(90))).toSeq
    val df = docs.toDF("id", "tok")
    val out = Pipeline.selectToBudget(df, "id", "tok", col("tok"), budget = 3000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // single-node model: sort by (tok desc, id asc), inclusive cumsum
    val model = docs.sortBy { case (id, t) => (-t, id) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, t)) => (id, t, acc + t) }
      .drop(1).map { case (id, t, c) => (id, t, c, c <= 3000L) }
    assert(out.sortBy(_._1).toSeq == model.sortBy(_._1))
    assert(out.count(_._4) > 0 && out.count(!_._4) > 0) // budget actually bites
    // exact same result under a different input partitioning
    val re = Pipeline.selectToBudget(df.repartition(13), "id", "tok", col("tok"), 3000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // null tokens count as zero, never poison the running sum
    val withNull = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "tok")
    val nz = Pipeline.selectToBudget(withNull, "id", "tok", col("tok"), 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nz(2L) == 0L)
  }

  // -- incremental corpus preparation ---------------------------------

  // relaxed thresholds so the tiny fixture passes the quality gate and
  // the test exercises the dedup/state machinery, not Gopher filters
  private def incPrep(state: String, batch: org.apache.spark.sql.DataFrame) =
    Pipeline.prepareCorpusIncremental(spark, state, batch, "doc_id", "text",
      nShards = 2, minTokens = 1, minStopwordRatio = 0.0, maxRepetition = 2.0)

  test("tokenMixToBudget matches the single-node per-source reference and is partition-invariant") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map { i =>
      (i, s"s${(i % 4)}", 5L + rnd.nextInt(40))
    }.toDF("doc_id", "src", "tok")
    val budgets = Seq("s0" -> 300L, "s1" -> 150L) // s2/s3 unbudgeted
    def run(df: org.apache.spark.sql.DataFrame) =
      Pipeline.tokenMixToBudget(df, "doc_id", "src", "tok", budgets)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toMap
    val out = run(docs)
    assert(out == run(docs.repartition(17))) // layout must not matter

    // single-node reference: per budgeted source, md5-priority prefix sums
    def prio(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16)
    }
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    budgets.foreach { case (s, b) =>
      var acc = 0L
      rows.filter(_._2 == s).sortBy(t => (prio(t._1), t._1)).foreach { case (id, _, tok) =>
        acc += tok
        assert(out(id) == ((s, tok, acc, acc <= b)), s"doc $id in $s")
      }
      // the selected prefix respects the budget exactly
      val sel = rows.filter(t => t._2 == s && out(t._1)._4).map(_._3).sum
      assert(sel <= b)
    }
    // unbudgeted sources pass through unselected with no running total
    rows.filter(t => t._2 == "s2" || t._2 == "s3").foreach { case (id, s, tok) =>
      assert(out(id) == ((s, tok, -1L, false)))
    }
  }

  test("shardManifest: partition-invariant; any drop, edit or position change moves the fingerprint") {
    val docs = (1L to 80L).map(i => (i, s"doc $i body word$i end")).toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Pipeline.shardManifest(df, "doc_id", "text", nShards = 4)
        .collect().map(r => r.getInt(0) ->
          // fp lanes recombined: hi*2^30 + lo is the exact 60-bit-hash sum
          (r.getLong(1), r.getLong(2), r.getLong(3),
            BigInt(r.getLong(4)) * (1L << 30) + BigInt(r.getLong(5)))).toMap
    val base = manifest(docs)
    assert(base.keySet == Set(0, 1, 2, 3))
    // every lane value must survive float64 round-trips exactly
    Pipeline.shardManifest(docs, "doc_id", "text", nShards = 4).collect().foreach { r =>
      assert(r.getLong(4) < (1L << 53) && r.getLong(5) < (1L << 53))
    }
    // physical layout must not matter
    assert(manifest(docs.repartition(13)) == base)
    // dropping one doc moves exactly its shard's row (fp AND counts) —
    // and, because positions shift below the dropped doc, the fp moves
    // even though every remaining text is unchanged
    val dropped = manifest(docs.filter(col("doc_id") =!= 7L))
    val changed = base.keySet.filter(s => base(s) != dropped.getOrElse(s, null))
    assert(changed.size == 1)
    // an edit that keeps length and token count still moves the fp
    val edited = manifest(docs.select(col("doc_id"),
      when(col("doc_id") === 7L, lit("doc 7 bodY word7 end")).otherwise(col("text")).as("text")))
    assert(base.keySet.count(s => edited(s)._4 != base(s)._4) == 1)
    assert(base.keySet.forall(s =>
      (edited(s)._1, edited(s)._2, edited(s)._3) == ((base(s)._1, base(s)._2, base(s)._3))))
  }

  // permutations share a token multiset -> identical simhash
  // signature (hamming 0), distinct normalized fingerprint: the
  // deterministic near-dup fixture
  private val s1 = "alpha beta gamma delta epsilon zeta eta theta"
  private val s2 = "one two three four five six seven eight"
  private val s3 = "red orange yellow green blue indigo violet pink"
  private def incOld = Seq(10L -> s1, 11L -> "theta eta zeta epsilon delta gamma beta alpha",
    20L -> s2, 30L -> s3).toDF("doc_id", "text")
  private def incBatch = Seq(100L -> "beta alpha gamma delta epsilon zeta eta theta", 110L -> s2,
    120L -> "lorem ipsum dolor sit amet consectetur adipiscing elit",
    130L -> "pink violet indigo blue green yellow orange red").toDF("doc_id", "text")
  private def incState(): String = {
    val state = java.nio.file.Files.createTempDirectory("graft_inc_state").toString
    Pipeline.writeCorpusState(incOld, "doc_id", "text", state, nShards = 2,
      minTokens = 1, minStopwordRatio = 0.0, maxRepetition = 2.0)
    state
  }

  test("prepareCorpusIncremental == full rebuild; state grows by the batch only") {
    val old = incOld
    val batch = incBatch
    val state = incState()
    assert(spark.read.parquet(s"$state/fp").count() == 4)      // 4 distinct norms
    assert(spark.read.parquet(s"$state/sigs").count() == 4)    // all exact-survive
    assert(spark.read.parquet(s"$state/canon").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set(11L -> 10L))
    val inc = incPrep(state, batch)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    // exact-store dup (110), near-dup of old cluster (100), near-dup of
    // an old singleton (130) all dropped; the novel doc survives
    assert(inc.map(_._1) == Set(10L, 20L, 30L, 120L))
    // state grew by the batch's contribution only
    assert(spark.read.parquet(s"$state/fp").count() == 7)      // 110 == s2 fp, not re-added
    assert(spark.read.parquet(s"$state/sigs").count() == 7)    // 100/120/130 signed
    assert(spark.read.parquet(s"$state/canon").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set(11L -> 10L, 100L -> 10L, 130L -> 30L))
    assert(spark.read.parquet(s"$state/survivors").collect()
      .map(_.getLong(0)).toSet == Set(10L, 20L, 30L, 120L))
    // the incremental export equals a from-scratch rebuild on old ∪ batch
    val state2 = java.nio.file.Files.createTempDirectory("graft_inc_full").toString
    val full = Pipeline.writeCorpusState(old.union(batch), "doc_id", "text", state2,
      nShards = 2, minTokens = 1, minStopwordRatio = 0.0, maxRepetition = 2.0)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(inc == full)
    // a second crawl: near-dup of a doc KEPT in round one is dropped
    // against the grown stores; survivors unchanged
    val batch2 = Seq(200L -> "elit adipiscing consectetur amet sit dolor ipsum lorem")
      .toDF("doc_id", "text")
    val inc2 = incPrep(state, batch2).collect().map(_.getLong(0)).toSet
    assert(inc2 == Set(10L, 20L, 30L, 120L))
    assert(spark.read.parquet(s"$state/canon").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set(11L -> 10L, 100L -> 10L, 130L -> 30L, 200L -> 120L))
  }

  test("one prepareCorpusIncremental call stays within its job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // every job the call starts, from any thread of its job group
    def jobs(state: String): Int = {
      val group = s"corpus-increment-${System.nanoTime()}"
      val started = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            started.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "increment")
      try {
        incPrep(state, incBatch)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
        started.get
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
    // every job pays a scheduling floor on each crawl trigger's
    // critical path, so a new job in the increment must be budgeted
    val budget = 35
    val counts = Seq(jobs(incState()), jobs(incState()))
    info(s"jobs per increment: ${counts.mkString(", ")}")
    assert(counts.distinct.size == 1, s"job count not deterministic: $counts")
    assert(counts.head <= budget, s"one increment ran ${counts.head} jobs, budget $budget")
  }
}
