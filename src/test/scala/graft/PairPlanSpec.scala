package graft

import graft.operators.{Dedup, FanoutBound}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.graftbridge.Bridge

/** The candidate-pair relations of the LSH dedup operators plan from a
  * size bound, not from a blocking cache+count: the operators start no
  * job before an action, leave nothing cached, and a pair explosion
  * that Catalyst's Generate estimate sizes below the broadcast
  * threshold is still never a broadcast build side. */
class PairPlanSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox leaps over the lazy dog"),
    (4L, "completely different content about spark engines here"),
  ).toDF("id", "text")

  private def vecs = (0L until 6L).map { i =>
    (i, Array.tabulate(8)(d => (math.sin(d * 1.7) + i * 1e-4).toFloat).toSeq)
  }.toDF("id", "v")

  /** `f`'s result and the Spark jobs it started on this thread. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"pair-plan-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pair plan spec")
    try {
      val out = f
      Bridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("minhashPairs and embeddingPairs start no job before an action; no dedup path leaves a cache") {
    spark.catalog.clearCache()
    val (mh, mhJobs) = jobsDuring(Dedup.minhashPairs(corpus, "id", "text"))
    val (emb, embJobs) = jobsDuring(
      Dedup.embeddingPairs(vecs, "id", "v", dim = 8, threshold = 0.5, nBits = 4, nTables = 6))
    assert(mhJobs == 0 && embJobs == 0, s"minhashPairs started $mhJobs jobs, embeddingPairs $embJobs")
    assert(mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(emb.count() == 15)
    // semDedup's centroid sample is an eager driver collect by design;
    // its pairs still leave nothing cached
    assert(Dedup.semDedup(vecs, "id", "v", dim = 8, nCentroids = 2).count() == 6)
    assert(spark.sharedState.cacheManager.isEmpty, "a dedup operator left a cached relation")
  }

  /** Every broadcast build side in `df`'s final adaptive plan. */
  private def broadcasts(df: DataFrame): Seq[BroadcastExchangeExec] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan).collect { case b: BroadcastExchangeExec => b }
  }

  private def pairSide(b: BroadcastExchangeExec): Boolean =
    Set("id_l", "id_r").subsetOf(b.output.map(_.name).toSet)

  private def withBroadcastThreshold[T](bytes: Long)(f: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    try f finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a dense bucket's pair relation is never a broadcast build side") {
    // 300 near-identical vectors share one bucket in every table:
    // 6 × C(300, 2) = 269,100 candidate rows (~6 MB), while the
    // Generate-built relation's static estimate is a few KB — below
    // the 1 MB threshold, so an estimate-trusting planner broadcasts
    // the explosion
    val n = 300
    val dense = (0L until n).map { i =>
      (i, Array.tabulate(8)(d => (math.sin(d * 1.7) + i * 1e-6).toFloat).toSeq)
    }.toDF("id", "v")
    val threshold = 1L << 20
    withBroadcastThreshold(threshold) {
      val bucketed = dense.select($"id", org.apache.spark.sql.functions.posexplode(
        graft.functions.VectorFunctions.lshBuckets($"v", 8, 4, 6)).as(Seq("table", "bucket")))
      val raw = Dedup.pairsFromBuckets(bucketed, "id", Seq("table", "bucket"), 1000, dedup = false)
      val estimate = (raw.queryExecution.optimizedPlan match {
        case FanoutBound(_, generated) => generated
        case generated => generated
      }).stats.sizeInBytes
      val nPairs = raw.count()
      assert(nPairs == 6L * n * (n - 1) / 2)
      assert(estimate < threshold && nPairs * 16 > threshold,
        s"fixture: estimate $estimate, true pair bytes ${nPairs * 16}, threshold $threshold")

      val out = Dedup.embeddingPairs(dense, "id", "v", dim = 8, threshold = 0.5, nBits = 4, nTables = 6)
      assert(out.count() == n.toLong * (n - 1) / 2)
      val pairBroadcasts = broadcasts(out).count(pairSide)
      assert(pairBroadcasts == 0, "the pair relation was a broadcast build side")
    }
  }
}
