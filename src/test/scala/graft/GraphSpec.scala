package graft

import graft.operators.Graph
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def bidirect(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  test("pagerank: uniform at iters=0, mass conserved within truncation") {
    val edges = bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val r0 = Graph.pagerank(edges, "src", "dst", iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0.values.toSet == Set(Graph.TotalUnits / 4))
    val r2 = Graph.pagerank(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = r2.values.sum
    // each div truncates <1 unit per node/edge per step: tiny, bounded loss
    assert(total <= Graph.TotalUnits && total > Graph.TotalUnits - 1000L)
  }

  test("pagerank: star center outranks leaves; leaves tie exactly") {
    val edges = bidirect(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val r = Graph.pagerank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(r).toSet.size == 1) // exact tie
    assert(r(0L) > r(1L) * 2) // hub dominates
  }

  test("pagerank weighted: unit weights equal unweighted; heavy edge pulls rank") {
    val edges = bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val unw = Graph.pagerank(edges, "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unit = Graph.pagerank(edges.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
      "src", "dst", 2, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unit == unw)
    // path 1-2-3: edge (2,3) weighted 9 vs (1,2) weight 1 — node 3
    // receives almost all of node 2's mass, so it must outrank node 1
    val wEdges = (Seq((1L, 2L, 1L), (2L, 3L, 9L)) ++ Seq((2L, 1L, 1L), (3L, 2L, 9L)))
      .toDF("src", "dst", "w")
    val wr = Graph.pagerank(wEdges, "src", "dst", 2, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wr(3L) > wr(1L) * 3)
  }

  test("personalizedPagerank: all-nodes seed == pagerank; mass stays near the seed; bad seed raises") {
    val edges = bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val all = (1L to 6L).toDF("node")
    val uniform = Graph.pagerank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // with every node seeded, the teleport split is 1/n — bit-identical
    // to the uniform operator
    val seededAll = Graph.personalizedPagerank(edges, "src", "dst", all, "node", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seededAll == uniform)

    // a single seed at one chain end: rank decays with distance
    val one = Seq(1L).toDF("node")
    val ppr = Graph.personalizedPagerank(edges, "src", "dst", one, "node", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr(1L) > ppr(2L) && ppr(2L) > ppr(4L) && ppr(4L) >= ppr(6L))
    // non-seeds hold only propagated mass; total conserved within truncation
    val total = ppr.values.sum
    assert(total <= Graph.TotalUnits && total > Graph.TotalUnits - 1000L)

    // a seed with no out-edges would leak its teleport mass — refuse
    val e = intercept[Exception] {
      Graph.personalizedPagerank(edges, "src", "dst", Seq(99L).toDF("node"), "node",
        iters = 1).collect()
    }
    assert(e.getMessage.contains("seed has no out-edges"))
    // an EMPTY seed set would silently zero every rank (sum over no
    // rows is NULL, so every teleport share takes the non-seed branch)
    val e2 = intercept[Exception] {
      Graph.personalizedPagerank(edges, "src", "dst",
        Seq.empty[Long].toDF("node"), "node", iters = 1).collect()
    }
    assert(e2.getMessage.contains("seed set is empty"))
  }

  test("weighted personalizedPagerank: all-nodes seed == weighted pagerank; weight steers seeded mass") {
    val base = Seq((1L, 2L, 1L), (2L, 3L, 9L), (3L, 4L, 1L))
    val edges = (base ++ base.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
    // the refactor-safety pin for the variant matrix: seeding every
    // node makes the teleport split 1/n — bit-identical to the
    // uniform weighted operator
    val all = (1L to 4L).toDF("node")
    val uniform = Graph.pagerank(edges, "src", "dst", 3, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seededAll = Graph.personalizedPagerank(edges, "src", "dst", all, "node",
        iters = 3, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seededAll == uniform)
    // seed at node 2: the weight-9 edge (2,3) carries 90% of node 2's
    // mass to 3, so 3 must far outrank 1 even though both are one hop
    // from the seed
    val ppr = Graph.personalizedPagerank(edges, "src", "dst", Seq(2L).toDF("node"),
        "node", iters = 2, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr(3L) > ppr(1L) * 3)
    assert(ppr(2L) > ppr(3L)) // the seed keeps the teleport mass
  }

  test("labelPropagation: disconnected cliques converge to distinct uniform labels") {
    val clique1 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val clique2 = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val edges = bidirect(clique1 ++ clique2)
    val out = Graph.labelPropagation(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(out).toSet.size == 1)    // one community
    assert(Seq(10L, 11L, 12L).map(out).toSet.size == 1) // one community
    assert(out(1L) != out(10L))                         // distinct communities
    val re = Graph.labelPropagation(edges.repartition(5), "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out) // deterministic under repartitioning
  }

  test("triangleCount: K4 has 4, square 0, square+diagonal 2; dup/loop/direction-proof") {
    def count(pairs: Seq[(Long, Long)]): Long =
      Graph.triangleCount(pairs.toDF("a", "b"), "a", "b").head().getLong(0)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) == 4)
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(count(square) == 0)
    assert(count(square :+ (1L, 3L)) == 2)
    // duplicates, self-loops, and reversed duplicates must not change it
    assert(count(k4 ++ k4.map(_.swap) :+ (2L, 2L)) == 4)
  }

  test("connectedComponents: chains, isolation, input-noise-proof, diameter guard") {
    // two chains and a singleton pair: components = min id of each
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 12L),   // chain {3,5,9,12} min 3
                    (20L, 25L), (25L, 21L),           // chain {20,21,25} min 20
                    (40L, 41L)).toDF("a", "b")        // pair {40,41}
    val out = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(3L, 5L, 9L, 12L).map(out).toSet == Set(3L))
    assert(Seq(20L, 21L, 25L).map(out).toSet == Set(20L))
    assert(Seq(40L, 41L).map(out).toSet == Set(40L))
    assert(out.size == 9)
    // duplicates, self-loops, and reversed edges must not change it
    val noisy = Seq((3L, 5L), (5L, 3L), (3L, 9L), (9L, 12L), (3L, 3L),
                    (20L, 25L), (25L, 21L), (40L, 41L), (41L, 40L)).toDF("a", "b")
    val out2 = Graph.connectedComponents(noisy, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
    // deterministic under repartitioning
    val re = Graph.connectedComponents(edges.repartition(5), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
    // a long path exceeds the round budget → throw, never split output
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Graph.connectedComponents(path, "a", "b", maxRounds = 2)
    }
    // ... and with enough rounds the same path is one component
    val ok = Graph.connectedComponents(path, "a", "b", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 13)
  }

  test("bfs: multi-source shortest hops, direction, unreachable absent, round guard") {
    // directed path 0→1→2→3→4 plus a detour 0→3: dist(3) must take the
    // shortcut (1), not the path (3); 4 is behind it at 2
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L)).toDF("src", "dst")
    val one = Graph.bfs(edges, "src", "dst", Seq(0L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
    // multi-source: each node takes the NEAREST seed; edge-less seed 99
    // still appears at 0; node 0 is unreachable (edges are directed)
    val multi = Graph.bfs(edges, "src", "dst", Seq(2L, 99L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == Map(2L -> 0L, 3L -> 1L, 4L -> 2L, 99L -> 0L))
    // deterministic under repartitioning
    val re = Graph.bfs(edges.repartition(5), "src", "dst", Seq(0L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == one)
    // eccentricity beyond the round budget → throw, never truncated dists
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.bfs(path, "src", "dst", Seq(0L).toDF("id"), "id", maxRounds = 3)
    }
    val full = Graph.bfs(path, "src", "dst", Seq(0L).toDF("id"), "id", maxRounds = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == (0L to 12L).map(i => i -> i).toMap)
  }

  test("sssp: weighted min-plus distances, cost budget, weight guard") {
    // 0→1→2 cheap chain (1+1) vs direct 0→2 heavy edge (5): min wins
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 5L), (2L, 3L, 10L))
      .toDF("src", "dst", "w")
    val out = Graph.sssp(edges, "src", "dst", "w", Seq(0L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 12L))
    // cost budget drops the far node but keeps the budget-interior ones
    val capped = Graph.sssp(edges, "src", "dst", "w", Seq(0L).toDF("id"), "id",
        maxCost = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // parallel edges keep the min weight; repartition-stable
    val par = edges.union(Seq((0L, 1L, 7L)).toDF("src", "dst", "w")).repartition(5)
    val re = Graph.sssp(par, "src", "dst", "w", Seq(0L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
    // non-positive weight → per-row error, never a silent wrong fixed point
    val bad = Seq((0L, 1L, 0L)).toDF("src", "dst", "w")
    intercept[Exception] {
      Graph.sssp(bad, "src", "dst", "w", Seq(0L).toDF("id"), "id").collect()
    }
  }

  test("kcore: clique survives, tendrils peel, guard throws, empty core empty") {
    // K4 clique {1,2,3,4} + tail 4-5-6: for k=3 the tail peels (5 and
    // 6 have degree ≤ 2), and 4 keeps exactly its 3 clique edges
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = bidirect(clique ++ Seq((4L, 5L), (5L, 6L)))
    val out = Graph.kcore(edges, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree → empty core (converges to the empty set)
    assert(Graph.kcore(edges, "src", "dst", k = 5).count() == 0)
    // a path peels one node per end per round: 13 nodes need ~6 rounds,
    // so maxRounds=2 must throw rather than return a superset
    val path = bidirect((0L until 12L).map(i => (i, i + 1)))
    intercept[IllegalStateException] {
      Graph.kcore(path, "src", "dst", k = 2, maxRounds = 2)
    }
    // ...and with budget it converges to empty (a path has no 2-core)
    assert(Graph.kcore(path, "src", "dst", k = 2, maxRounds = 8).count() == 0)
    // a cycle IS its own 2-core (every node keeps degree 2)
    val cycle = bidirect((0L until 5L).map(i => (i, (i + 1) % 5)))
    val c2 = Graph.kcore(cycle, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == (0L until 5L).map(_ -> 2L).toMap)
    // repartition-stable
    val re = Graph.kcore(edges.repartition(5), "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
  }

  test("pagerank: symmetric pair ranks equal and match the closed form") {
    val edges = bidirect(Seq((7L, 8L)))
    val r = Graph.pagerank(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(7L) == r(8L))
    // closed form of the integer recurrence: r = base + (17*r_prev) div 20
    val t = Graph.TotalUnits
    val base = (3 * t / 20) / 2
    val r1 = base + 17 * (t / 2) / 20
    val want = base + 17 * r1 / 20
    assert(r(7L) == want)
  }

  /** The job description of every Spark job `f` starts, whether `f`
    * returns or throws, and the caller's description seen after it. */
  private def roundLabels(f: => Any): (Seq[String], String) = {
    val sc = spark.sparkContext
    val group = s"graph-rounds-${System.nanoTime()}"
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          labels.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller") // also sets the caller's job description
    try {
      try f catch { case _: Exception => () }
      val after = sc.getLocalProperty("spark.job.description")
      Bridge.drainListenerBus(sc)
      (scala.jdk.CollectionConverters.IterableHasAsScala(labels).asScala.toSeq, after)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every job an iterative operator starts carries its round label; the caller's description returns") {
    val edges = bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))).repartition(2)
    val weighted = edges.withColumn("w", lit(2L))
    val seeds = Seq(1L).toDF("id").repartition(2)
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst").repartition(2)
    val docs = Seq((1L, "low lower lowest"), (2L, "newer newest wider")).toDF("id", "text")
    val runs: Seq[(String, () => Any)] = Seq(
      "graph pagerank" -> (() => Graph.pagerank(edges, "src", "dst", iters = 6)),
      "graph ppr" -> (() => Graph.personalizedPagerank(edges, "src", "dst", seeds, "id", iters = 6)),
      "graph labelprop" -> (() => Graph.labelPropagation(edges, "src", "dst", iters = 6)),
      "graph concomp" -> (() => Graph.connectedComponents(edges, "src", "dst")),
      "graph bfs" -> (() => Graph.bfs(edges, "src", "dst", seeds, "id")),
      "graph sssp" -> (() => Graph.sssp(weighted, "src", "dst", "w", seeds, "id")),
      "graph kcore" -> (() => Graph.kcore(edges, "src", "dst", k = 2)),
      "graph triangles" -> (() => Graph.triangleCount(edges, "src", "dst")),
      // throws: round exhaustion, and a guard raised inside a round
      "graph concomp" -> (() => Graph.connectedComponents(path, "src", "dst", maxRounds = 2)),
      "graph sssp" -> (() => Graph.sssp(weighted.withColumn("w", lit(0L)), "src", "dst", "w", seeds, "id")),
      "bpeTrain" -> (() => graft.operators.Pipeline.bpeTrain(docs, "text", merges = 3)))
    for ((op, run) <- runs) {
      val (labels, after) = roundLabels(run())
      val label = s"graft\\.$op round=\\d+".r
      assert(labels.nonEmpty, s"$op started no job")
      assert(labels.forall(label.matches), s"$op jobs: ${labels.distinct.mkString(", ")}")
      assert(after == "caller", s"$op left the job description at $after")
    }
  }

  test("no iterative operator leaves a cached relation behind, on return or on a throw") {
    def leaves(what: String)(f: => Any): Unit = {
      spark.catalog.clearCache()
      f
      assert(spark.sharedState.cacheManager.isEmpty, s"$what left a cached relation")
    }
    // repartitioned so every guard fires at run time, inside a round,
    // not while the optimizer folds a local relation
    val edges = bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L))).repartition(2)
    val zeroW = edges.withColumn("w", lit(0L)).repartition(2)
    val seeds = Seq(1L).toDF("id").repartition(2)
    val noSeeds = Seq.empty[Long].toDF("id").repartition(2)
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst").repartition(2)
    leaves("sssp with a zero weight") {
      val e = intercept[Exception](Graph.sssp(zeroW, "src", "dst", "w", seeds, "id"))
      assert(e.getMessage.contains("positive integer"))
    }
    leaves("personalizedPagerank with no seeds") {
      val e = intercept[Exception](
        Graph.personalizedPagerank(edges, "src", "dst", noSeeds, "id", iters = 2))
      assert(e.getMessage.contains("seed set is empty"))
    }
    leaves("weighted pagerank with a zero weight") {
      val e = intercept[Exception](Graph.pagerank(zeroW, "src", "dst", 2, weightCol = Some("w")))
      assert(e.getMessage.contains("weight out of range"))
    }
    leaves("connectedComponents out of rounds") {
      intercept[IllegalStateException](Graph.connectedComponents(path, "src", "dst", maxRounds = 2))
    }
    leaves("bfs out of rounds") {
      intercept[IllegalStateException](Graph.bfs(path, "src", "dst", seeds, "id", maxRounds = 2))
    }
    leaves("labelPropagation") { Graph.labelPropagation(edges, "src", "dst", iters = 2) }
    leaves("triangleCount over an edge column that raises") {
      // over a range, not a local relation: the optimizer would push the
      // operator's filter into a local relation and raise while planning
      val boom = spark.range(1, 4).select(
        when(col("id") > 1L, raise_error(lit("edge boom"))).otherwise(col("id")).cast("long").as("a"),
        (col("id") + 1L).as("b"))
      val e = intercept[Exception](Graph.triangleCount(boom, "a", "b"))
      assert(e.getMessage.contains("edge boom"))
    }
  }

  test("a round of connectedComponents, bfs, sssp and kcore stays within its job budget") {
    // fixed fixture: a 7-node path (6 flooding rounds from one end) and
    // a K4 with a 3-edge tail (3 peeling rounds for k = 3)
    val path = bidirect((0L until 6L).map(i => (i, i + 1))).repartition(2)
    val weighted = path.withColumn("w", lit(2L))
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val tailed = bidirect(clique ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).repartition(2)
    val seeds = Seq(0L).toDF("id").repartition(2)
    // jobs budget of the set-up (round=0), of round 1 (which also fills
    // the edge cache of bfs/sssp) and of every later round
    val budgets: Seq[(String, () => Any, Seq[Int])] = Seq(
      ("concomp", () => Graph.connectedComponents(path, "src", "dst"), Seq(6, 4, 5)),
      ("bfs", () => Graph.bfs(path, "src", "dst", seeds, "id"), Seq(2, 8, 4)),
      ("sssp", () => Graph.sssp(weighted, "src", "dst", "w", seeds, "id"), Seq(2, 8, 4)),
      ("kcore", () => Graph.kcore(tailed, "src", "dst", k = 3), Seq(4, 5, 5)))
    for ((op, run, budget) <- budgets) {
      val (labels, _) = roundLabels(run())
      val jobs = labels.groupMapReduce(l => "round=(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt)(_ => 1)(_ + _)
      info(s"$op jobs by round: ${jobs.toSeq.sorted.map { case (n, c) => s"$n:$c" }.mkString(" ")}")
      assert(jobs.size > 2, s"$op ran ${jobs.size - 1} rounds")
      for ((n, c) <- jobs) {
        val b = budget(n min 2)
        assert(c <= b, s"$op round $n ran $c jobs, budget $b")
      }
    }
  }
}
