package graft

import graft.operators.{Search, Similarity}
import org.apache.spark.sql.functions._

/** Crash debris crossing op boundaries: a maintenance op X is killed at
  * a step boundary, a DIFFERENT op Y runs over its debris, and only
  * then is X retried. The store must hold every id of an in-memory
  * model exactly once. The single-op crash properties (SearchSpec,
  * SimilaritySpec) and StoreLifecycleSpec's fuzzes retry each killed op
  * immediately, so there X's own retry meets the debris; here Y's
  * entry repair meets it first. */
class StoreCrossOpSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString

  private def copyStore(src: String, dst: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), new java.io.File(dst))

  /** A maintenance op on a store path: its entry point, the ids it
    * adds and removes, and (for the op that is killed) its steps. */
  private case class Op(name: String, run: String => Unit, adds: Seq[Long] = Nil,
                        removes: Seq[Long] = Nil,
                        steps: String => Seq[(String, () => Unit)] = _ => Nil)

  /** For each X killed after the named step and each Y: crash X on a
    * copy of `base`, run Y on a copy of the crash, retry X, and compare
    * the live ids `idsOf` reads against the model. Returns one line per
    * divergence. */
  private def crossOp(root: String, base: String, baseIds: Seq[Long], kills: Seq[(Op, String)],
                      ys: Seq[Op])(idsOf: String => Seq[Long])
                     (check: (String, Seq[Long]) => Option[String] = (_, _) => None): Seq[String] =
    for {
      (x, killedAfter) <- kills
      y <- ys
      failure <- {
        val crash = s"$root/${x.name}-$killedAfter"
        if (!new java.io.File(crash).exists()) {
          copyStore(base, crash)
          val steps = x.steps(crash)
          val k = steps.indexWhere(_._1 == killedAfter)
          assert(k >= 0, s"no step $killedAfter in ${steps.map(_._1)}")
          steps.take(k + 1).foreach(_._2())
        }
        val p = s"$crash-then-${y.name}"
        copyStore(crash, p)
        y.run(p)
        x.run(p)
        val want = (baseIds ++ x.adds ++ y.adds).filterNot((x.removes ++ y.removes).toSet).sorted
        val got = idsOf(p).sorted
        val diverged =
          if (got != want) Some(s"lost ${want.diff(got).mkString(",")}; " +
            s"duplicated ${got.diff(got.distinct).mkString(",")}; ${got.length} of ${want.length} ids")
          else check(p, want)
        diverged.map(m => s"${x.name} killed after $killedAfter, then ${y.name}, then the retry: $m")
      }
    } yield failure

  // SimilaritySpec's tinyVectors (four tight clusters, cluster = id % 4),
  // drawn on past id 39 for a second append batch
  private val vectors: Map[Long, Seq[Float]] = {
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    (0 until 44).map { i =>
      i.toLong -> anchors(i % 4).map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq
    }.toMap
  }
  private def vecs(ids: Seq[Long]) = ids.map(i => i -> vectors(i)).toDF("vec_id", "embedding")
  private def idDf(ids: Seq[Long]) = ids.toDF("vec_id")

  test("IVF: append or delete killed at every step boundary, then append, delete or rebuild, then the retry loses and duplicates no id") {
    val root = tmp("graft_crossop_ivf")
    val base = s"$root/base"
    val centroids = Similarity.buildIvfIndex(vecs(0L to 35L), base, "vec_id", "embedding",
      dim = 8, nCentroids = 4)
    val cellOf = spark.read.parquet(base).select("vec_id", "__cell").as[(Long, Int)].collect().toMap
    // X's delete: half of the cell holding id 1; Y's delete: two of
    // that cell's survivors, so Y rewrites the same cell again
    val cell = cellOf(1L)
    val xDel = cellOf.collect { case (id, c) if c == cell && id % 8 < 4 => id }.toSeq.sorted
    val yDel = cellOf.collect { case (id, c) if c == cell && id % 8 >= 4 => id }.toSeq.sorted.take(2)
    val xApp = 36L to 39L // two of them land in `cell` (ids 37 and 38)
    val yApp = 40L to 43L
    def append(p: String, ids: Seq[Long], bid: String): Unit =
      Similarity.appendIvfIndex(vecs(ids), p, centroids, "embedding", dim = 8, batchId = bid)
    def delete(p: String, ids: Seq[Long]): Unit =
      Similarity.deleteFromIvfIndex(spark, p, idDf(ids), "vec_id")

    val xs = Seq(
      Op("append", append(_, xApp, "b1"), adds = xApp, steps = p =>
        Similarity.appendIvfSteps(vecs(xApp), p, centroids, "embedding", 8, "b1")),
      Op("delete", delete(_, xDel), removes = xDel, steps = p =>
        Similarity.deleteFromIvfSteps(spark, p, idDf(xDel), "vec_id")._2))
    val kills = xs.flatMap { x => // every boundary short of completion
      val probe = s"$root/probe-${x.name}"
      copyStore(base, probe)
      x.steps(probe).map(_._1).init.map(x -> _)
    }
    val ys = Seq(
      Op("append", append(_, yApp, "b2"), adds = yApp),
      Op("delete", delete(_, yDel), removes = yDel),
      Op("rebuild", p => { Similarity.rebuildIvfIndex(spark, p, "vec_id", "embedding",
        dim = 8, nCentroids = 4); () }))
    val failures = crossOp(root, base, 0L to 35L, kills, ys)(p =>
      spark.read.parquet(p).select("vec_id").as[Long].collect().toSeq)()
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private val vocab = Vector("spark", "join", "window", "scan", "merge", "sort", "filter", "hash")
  private val texts: Map[Long, String] = {
    val rnd = new scala.util.Random(29)
    (1L to 30L).map(i => i -> Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")).toMap
  }
  private def docs(ids: Seq[Long]) = ids.map(i => i -> texts(i)).toDF("doc_id", "text")

  /** The tombstones the query path applies: those of the current stats epoch. */
  private def currentTombstones(p: String, epoch: Long): Seq[(Long, Long)] =
    if (!new java.io.File(s"$p/deleted").exists()) Nil
    else spark.read.parquet(s"$p/deleted").filter(col("__epoch") === epoch)
      .select("doc_id", "doc_len").as[(Long, Long)].collect().toSeq

  private def statsOf(p: String) = spark.read.parquet(s"$p/stats").first()

  /** Live ids: `docs` minus the current tombstones. */
  private def liveDocIds(p: String): Seq[Long] = {
    val dead = currentTombstones(p, statsOf(p).getAs[Long]("epoch")).map(_._1).toSet
    spark.read.parquet(s"$p/docs").select("doc_id").as[Long].collect().toSeq.filterNot(dead)
  }

  test("postings: append or compact killed in each debris state, then append, delete or compact, then the retry loses and duplicates no id") {
    val root = tmp("graft_crossop_postings")
    val base = s"$root/base"
    Search.buildPostingsIndex(docs(1L to 8L), base, "doc_id", "text", nBuckets = 4)
    Search.deleteFromPostingsIndex(spark, base, Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val xApp = 11L to 13L
    val yApp = 21L to 22L
    val yDel = Seq(3L)
    def append(p: String, ids: Seq[Long], bid: String): Unit =
      Search.appendPostingsIndex(docs(ids), p, "doc_id", "text", batchId = bid)
    val appendX = Op("append", append(_, xApp, "b1"), adds = xApp, steps = p =>
      Search.appendPostingsSteps(docs(xApp), p, "doc_id", "text", "b1"))
    val compactX = Op("compact", Search.compactPostingsIndex(spark, _),
      steps = Search.compactPostingsSteps(spark, _))
    // one kill per distinct debris state: staging only, half-moved
    // files, a torn stats swap, a torn relation swap
    val kills = Seq(appendX -> "stage-stats", appendX -> "move-postings", appendX -> "stats-aside",
      compactX -> "positions-aside")
    val ys = Seq(
      Op("append", append(_, yApp, "b2"), adds = yApp),
      Op("delete", p => { Search.deleteFromPostingsIndex(spark, p, yDel.toDF("doc_id"), "doc_id"); () },
        removes = yDel),
      Op("compact", Search.compactPostingsIndex(spark, _)))
    // the stats row, net of the current tombstones, must count the
    // model's docs and tokens exactly: BM25's N and avgdl come from it
    val failures = crossOp(root, base, 3L to 8L, kills, ys)(liveDocIds) { (p, want) =>
      val st = statsOf(p)
      val dead = currentTombstones(p, st.getAs[Long]("epoch"))
      val got = (st.getAs[Long]("n_docs") - dead.length,
        st.getAs[Long]("total_tokens") - dead.map(_._2).sum)
      val model = (want.length.toLong, want.map(texts(_).split(" ").length.toLong).sum)
      if (got == model) None else Some(s"stats count (docs, tokens) $got, model $model")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
