package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics. PageRank-style propagation is how
  * corpus curation turns pairwise signals (similarity edges, link
  * graphs, purchase graphs) into per-node quality scores.
  *
  * Engine-exactness: ranks live in integer fixed-point units (2^40 of
  * total mass) and every update is BIGINT arithmetic — share =
  * rank div out_degree, damping = ·17 div 20 (0.85 as a rational) —
  * so the iteration is order-free under any partitioning and
  * bit-identical in any engine (the cluster_kmeans integer-sum
  * recipe). Truncation loses ≤out_degree units per node per step —
  * deterministic, and irrelevant at 2^40 resolution.
  *
  * Rounds: every iterative operator here runs its rounds through one
  * driver, [[Rounds]] (so does [[Pipeline.bpeTrain]]). Every Spark job
  * the operator starts carries the job description
  * `graft.graph <op> round=<n>` (UI, listeners, `Diag stages`): the
  * set-up jobs before the first round carry `round=0`, and the final
  * seal carries the last round's number. The loop-invariant caches are
  * released, and the caller's job description restored, on every exit,
  * a throw included — a guard that raises mid-round leaves nothing
  * cached behind.
  */
object Graph {

  val TotalUnits: Long = 1L << 40

  /** The round loop of graft's iterative operators. The per-round
    * barrier (join + agg + checkpoint) is their cost driver and the
    * round COUNT is data-dependent (eccentricity / peeling depth), so
    * each round's jobs carry `<label> round=<n>`. Relations taken
    * through [[cache]] are the loop invariants; [[Rounds.apply]]
    * unpersists them when the operator exits. */
  private[operators] final class Rounds private (sc: SparkContext, label: String) {
    private val invariants = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df`, cached until the operator returns or throws. */
    def cache(df: DataFrame): DataFrame = { invariants += df; df.cache() }

    /** Runs `round(1)`, `round(2)`, ... until one returns true
      * (converged) or `maxRounds` rounds ran; true iff it converged. */
    def loop(maxRounds: Int)(round: Int => Boolean): Boolean = {
      var n = 0
      var converged = false
      while (!converged && n < maxRounds) {
        n += 1
        sc.setJobDescription(s"$label round=$n")
        converged = round(n)
      }
      converged
    }

    /** Exactly `rounds` rounds. */
    def repeat(rounds: Int)(round: Int => Unit): Unit = loop(rounds) { n => round(n); false }

    /** Runs `round` from `init` to its fixed point. `init` and every
      * next state are sealed by an eager localCheckpoint (a round reads
      * its previous state twice, so the seal is its lineage cut), whose
      * own job reports the row count and `max(__changed)`: a round may
      * mark the rows it changed with that boolean column, dropped above
      * the observation. A round that changed no row and kept the row
      * count converged; `maxRounds` rounds without one throw
      * IllegalStateException(exhausted). */
    def converge(maxRounds: Int, exhausted: => String)(init: DataFrame)
                (round: DataFrame => DataFrame): DataFrame = {
      var (state, rows, _) = seal(init)
      val converged = loop(maxRounds) { _ =>
        val (next, n, changed) = seal(round(state))
        val settled = !changed && n == rows
        state = next; rows = n
        settled
      }
      if (!converged) throw new IllegalStateException(exhausted)
      state
    }

    /** `df` checkpointed, with its row count and whether any row is
      * marked [[Rounds.Changed]]. */
    private def seal(df: DataFrame): (DataFrame, Long, Boolean) = {
      val flag = if (df.columns.contains(Rounds.Changed)) col(Rounds.Changed) else lit(false)
      // atop the seal's plan the observation runs in its job's result
      // stage, whose accumulator updates Spark applies once per
      // partition: a retried task cannot count twice. The metrics are read
      // from the seal's own execution, with no listener round trip.
      val top = df.observe("graft_round", count(lit(1)), max(flag)).drop(Rounds.Changed)
      val out = top.localCheckpoint()
      val m = top.queryExecution.observedMetrics("graft_round")
      (out, m.getLong(0), !m.isNullAt(1) && m.getBoolean(1))
    }
  }

  private[operators] object Rounds {
    /** The column a [[Rounds.converge]] round marks its changed rows with. */
    val Changed = "__changed"

    /** Runs `body` with its jobs labelled `<label> round=0` until its
      * first round; restores the caller's job description and releases
      * the invariants on every exit. */
    def apply[T](like: DataFrame, label: String)(body: Rounds => T): T = {
      val sc = like.sparkSession.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      val r = new Rounds(sc, label)
      sc.setJobDescription(s"$label round=0")
      try body(r)
      finally { r.invariants.foreach(_.unpersist()); sc.setJobDescription(prev) }
    }
  }

  /** PageRank over a directed edge list. Every node must have at
    * least one OUT edge (feed a bidirected edge list for undirected
    * graphs — also the standard dangling-node fix). Self-loops and
    * duplicate edges are honored as given.
    *
    * Scale shape per iteration: one equi-join of the edge list with
    * the current ranks on src (both hash-partitioned on src — AQE
    * reuses the layout), one partial-agg'd groupBy on dst. Nothing is
    * collected; the rank relation is one (long, long) row per node.
    *
    * Output: (node, rank) with rank in units of 2^-40 total mass. */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, weightCol: Option[String] = None): DataFrame =
    prRun(edges, srcCol, dstCol, iters, weightCol, None)

  /** Personalized PageRank: the teleport mass (3/20 per step, and all
    * of the initial mass) is split over a SEED set instead of every
    * node — rank then measures proximity to the seeds, the standard
    * "expand a trusted/high-quality seed corpus" scorer (harmonic-ish
    * centrality to the seeds over the hyperlink/purchase graph).
    * Same integer fixed-point, same per-iteration shape and linear
    * lineage as [[pagerank]] — only the teleport target differs.
    * Every seed must have at least one out-edge (the rebuild skeleton
    * is keyed by out-degree; a seed outside it would silently leak its
    * teleport mass — enforced with a per-row raise_error). */
  def personalizedPagerank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, weightCol: Option[String] = None): DataFrame =
    prRun(edges, srcCol, dstCol, iters, weightCol,
      Some(seeds.select(col(seedCol).cast("long").as("node")).distinct()))

  private def prRun(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int, weightCol: Option[String],
                    seeds: Option[DataFrame]): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // Weighted form: share = (rank · w_e) div Σw(src) — still pure
    // integer arithmetic; weights must be positive longs with
    // max_w < 2^22 so rank·w stays inside a 63-bit long. Both bounds
    // are enforced per-row below (a codegen'd compare, no extra
    // action): a zero/negative weight would silently drop mass via
    // null division and an oversized one overflows to negative ranks.
    val w = weightCol match {
      case Some(c) =>
        val wc = col(c).cast("long")
        when(wc.isNull || wc <= 0L || wc >= (1L << 22),
          raise_error(concat(lit("pagerank: weight out of range (0, 2^22): "),
            col(c).cast("string"))).cast("long")).otherwise(wc)
      case None => lit(1L)
    }
    Rounds(edges, s"graft.graph ${if (seeds.isEmpty) "pagerank" else "ppr"}") { r =>
      // Loop invariants, cached once (in-memory cache, not
      // localCheckpoint: the blocking checkpoint write cost more than it
      // saved at bench scale, while the cache is free on first use).
      // Without the edge cache every iteration re-executes the upstream
      // lineage (the gate query's fact-fact join ran 8× for 2
      // iterations).
      // Pre-partitioned on __src BEFORE caching: the per-iteration
      // contrib join then consumes the cached layout directly instead of
      // re-shuffling the edge relation every iteration — one upfront
      // exchange buys back an edge-sized exchange × iters (measured 30%
      // off 2-iter and 10-iter wall time at sf0.1, and the saving grows
      // with iteration count). The degree aggregate reuses the same
      // layout for free (already partitioned on its grouping key).
      val e = r.cache(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
          w.as("__w"))
        .repartition(col("__src")))
      // out-weights double as the node relation (every node has out-edges)
      val deg = e.groupBy(col("__src").as("node"))
        .agg(sum(col("__w")).as("__deg"))
      val n = deg.select(count(lit(1)).as("__n"))
      // nodes = (node, __deg, __n): the cached node-sized rebuild
      // skeleton. Every iteration rebuilds ranks from nodes ⟕ contrib —
      // NOT from the previous ranks — so ranks_i appears exactly ONCE in
      // ranks_{i+1}'s plan (inside contrib) and lineage depth stays
      // LINEAR in iters. (The previous shape joined old ranks twice per
      // iteration — contrib and the rebuild — doubling the
      // unmaterialized plan every step: 2^k recompute between
      // checkpoints at production iteration counts.) base teleport share
      // = (3·T div 20) div N, derived per row from the broadcast count.
      // Personalized variant: nodes additionally carries (__seed, __ns)
      // and the init/teleport expressions target the seed rows only —
      // the per-iteration plan (and its cost) is otherwise unchanged.
      val nodes = r.cache(seeds match {
        case None => deg.crossJoin(broadcast(n))
        case Some(s) =>
          // evaluated per seed row via the sum: a seed without out-edges
          // raises instead of silently leaking its teleport mass
          val ns = s.join(deg, Seq("node"), "left")
            .select(when(col("__deg").isNull,
              raise_error(concat(lit("personalizedPagerank: seed has no out-edges: "),
                col("node").cast("string"))).cast("long"))
              .otherwise(lit(1L)).as("__one"))
            // sum over an EMPTY seed relation is NULL — without this
            // guard every teleport share would silently take the
            // non-seed 0 branch and the operator would return all-zero
            // ranks (100% mass leak), the exact contract violation the
            // per-row guard above exists to prevent
            .agg(coalesce(sum(col("__one")),
              raise_error(lit("personalizedPagerank: seed set is empty")).cast("long"))
              .as("__ns"))
          deg.crossJoin(broadcast(n))
            .join(s.withColumn("__seed", lit(1L)), Seq("node"), "left")
            .crossJoin(broadcast(ns))
      })
      val carry = Seq(col("node"), col("__deg"), col("__n")) ++
        (if (seeds.isDefined) Seq(col("__ns"), col("__seed")) else Nil)
      def initExpr = seeds match {
        case None => expr(s"${TotalUnits}L div __n")
        case Some(_) => when(col("__seed").isNotNull,
          expr(s"${TotalUnits}L div __ns")).otherwise(lit(0L))
      }
      def teleportExpr = seeds match {
        case None => expr(s"(3 * ${TotalUnits}L div 20) div __n")
        case Some(_) => when(col("__seed").isNotNull,
          expr(s"(3 * ${TotalUnits}L div 20) div __ns")).otherwise(lit(0L))
      }
      var ranks = nodes.select(carry :+ initExpr.as("__r"): _*)
      r.repeat(iters) { i =>
        val contrib = e
          .join(ranks, col("__src") === col("node"))
          .groupBy(col("__dst"))
          .agg(sum(expr("(__r * __w) div __deg")).as("__s"))
        ranks = nodes.join(contrib, col("node") === col("__dst"), "left_outer")
          .select(carry :+
            (teleportExpr + expr("17 * coalesce(__s, 0L) div 20")).as("__r"): _*)
        // bound planning cost for long runs (lineage is linear now, so
        // this is plan-SIZE hygiene, not a recompute guard); short runs
        // skip the (blocking) checkpoint barrier entirely. Every 5th, not
        // every 10th: a 20-iteration sf0.1 run took 5.26 s vs 6.25 s
        // (median of 3, 4 cores, generated classes already cached), so
        // planning a longer unsealed plan costs more than the extra barrier
        if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint()
      }
      // materialize the final ranks (node-count rows — cheap) so the
      // operator's caches can be dropped before returning: the caller
      // gets a checkpoint-backed relation with no live cache behind it
      val out = ranks.select(col("node"), col("__r").as("rank"))
      if (iters == 0) out else out.localCheckpoint()
    }
  }

  /** Label propagation (community detection): every node starts as its
    * own community and repeatedly adopts its neighbors' most frequent
    * label. Fully deterministic — the adopt choice ranks (count DESC,
    * label ASC), so ties cannot flip under partitioning or engine; the
    * usual random-order LP nondeterminism is deliberately traded for
    * reproducibility (synchronous updates, min-label tie-break).
    * Feed a bidirected edge list for undirected graphs.
    *
    * Per iteration: one edges⋈labels equi-join and two partial-agg'd
    * groupBys — the adopt step is an argmax AGGREGATE
    * (max_by(label, (count, −label))), not a per-dst row_number
    * window, so nothing is sorted. Output: (node, label). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    Rounds(edges, "graft.graph labelprop") { r =>
      // same pre-partitioned-edge-cache trick as pagerank: the
      // per-iteration counts join reads the cached __src layout
      val e = r.cache(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .repartition(col("__src")))
      var labels = e.select(col("__src").as("node")).distinct()
        .withColumn("label", col("node"))
      r.repeat(iters) { i =>
        val counts = e.join(labels, col("__src") === col("node"))
          .groupBy(col("__dst"), col("label")).agg(count(lit(1)).as("__c"))
        // adopt = argmax by (count, −label): max_by over a lexicographic
        // struct is a partial-aggregatable AGGREGATE — a per-dst
        // row_number window costs a full shuffle+sort of the
        // neighbor-label relation instead (measured 2× slower)
        labels = counts.groupBy(col("__dst").as("node"))
          .agg(max_by(col("label"), struct(col("__c"), (-col("label")).as("__nl"))).as("label"))
        if (i % 5 == 0 && i < iters) labels = labels.localCheckpoint()
      }
      // node-sized final relation: materialize eagerly so the edge cache
      // can be dropped before returning (same contract as pagerank)
      labels.localCheckpoint()
    }
  }

  /** Connected components over an undirected edge list: every node is
    * labeled with the smallest node id in its component (the same
    * canonical-min contract as eel-style dedup clustering; reference
    * semantics io/eels components are per-source — this is the graph
    * generalization). Input may contain duplicates / self-loops /
    * either direction; normalized away first.
    *
    * Algorithm: synchronous min-label propagation — each round every
    * node adopts the minimum label among itself and its neighbors, so
    * a component's min id floods outward one hop per round and the
    * round count is O(max component diameter), NOT O(nodes). The
    * rounds run to a fixed point through [[Rounds.converge]] (a round's
    * seal reports whether any label changed), and the operator THROWS
    * rather than return split components if `maxRounds` is hit.
    *
    * Scale shape per round: one edges⋈labels equi-join on the cached
    * pre-partitioned edge layout (the same
    * one-upfront-exchange-instead-of-one-per-round trick as pagerank)
    * + one partial-agg'd min groupBy; labels are one (long, long) row
    * per node. Each round's labels are sealed with an EAGER
    * localCheckpoint, not cache(): the round references the previous
    * labels twice (neighbor-min, rebuild), so a cache would stop
    * recompute but the LOGICAL plan would still double per round —
    * 2^k tree nodes by round k, and analysis/plan stringification
    * hangs long before compute does (caught by this operator's
    * 12-round path-graph spec). The checkpoint makes every round plan
    * against a leaf. Shuffles carry ids only.
    *
    * Output: (node, component). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    Rounds(edges, "graft.graph concomp") { r =>
      val sym = r.cache(edges
        .select(col(aCol).as("__src"), col(bCol).as("__dst"))
        .union(edges.select(col(bCol).as("__src"), col(aCol).as("__dst")))
        .filter(col("__src") =!= col("__dst"))
        .distinct()
        .repartition(col("__dst")))
      // seed: min(self, direct neighbors) — one round of flooding for free
      val seed = sym.groupBy(col("__src").as("node"))
        .agg(least(min(col("__dst")), first(col("__src"))).as("component"))
      r.converge(maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds — a component " +
          s"with diameter > $maxRounds exists; raise maxRounds (propagation is one " +
          "hop per round)")(seed) { labels =>
        val neighborMin = sym.join(labels, col("__dst") === col("node"))
          .groupBy(col("__src").as("__nn"))
          .agg(min(col("component")).as("__nmin"))
        val c = least(col("component"), coalesce(col("__nmin"), col("component")))
        labels.join(neighborMin, col("node") === col("__nn"), "left_outer")
          .select(col("node"), c.as("component"), (c =!= col("component")).as(Rounds.Changed))
      }
    }
  }

  /** Multi-source BFS: shortest hop distance from a seed set, over a
    * directed edge list (feed a bidirected list for undirected
    * graphs). Nodes unreachable from every seed are absent from the
    * output — the caller decides the sentinel. Reference semantics:
    * graph reachability is the transitive generalization of eel's
    * join-chain lookups; this is the hop-count variant of
    * connectedComponents' flooding.
    *
    * Algorithm: [[sssp]]'s min-plus flood with every weight 1 and no
    * cost budget — the hop count IS the unit-weight distance, and the
    * weight min over parallel edges is the edge distinct. The frontier
    * advances one hop per round, so the round count is the graph's
    * seed eccentricity (max shortest-path dist), NOT node count.
    * THROWS on round exhaustion rather than return truncated
    * distances.
    *
    * Output: (node, dist) for every node reachable from a seed
    * (seeds themselves at dist 0, present even if edge-less). */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
          seeds: DataFrame, seedCol: String,
          maxRounds: Int = 20): DataFrame =
    flood("bfs", edges, srcCol, dstCol, lit(1L), seeds, seedCol, Long.MaxValue, maxRounds)(
      s"bfs did not converge in $maxRounds rounds — a shortest path longer than " +
        s"$maxRounds hops exists; raise maxRounds (the frontier advances one hop per round)")

  /** Multi-source single-source-shortest-paths over POSITIVE integer
    * edge weights (min-plus flooding — the weighted generalization of
    * [[bfs]]): each round every node adopts min(own dist, min over
    * in-neighbors' dist + w). With positive integer weights every
    * improvement lowers an integer, so the loop converges to the
    * exact Bellman-Ford fixed point; round count ≤ the longest
    * shortest-PATH edge count. `maxCost` bounds the explored radius
    * (dist > maxCost rows are dropped each round): the
    * bounded-budget reachability query shape — and the bound that
    * keeps a DuckDB recursive-CTE oracle finite. THROWS on round
    * exhaustion rather than return non-converged distances.
    *
    * Scale shape per round: one edges⋈dist equi-join on the cached
    * pre-partitioned edge layout + one partial-agg'd min groupBy; the
    * dist relation is one (long, long) row per REACHED node (grows
    * monotonically to the reachable set, never the full graph).
    * Rounds run to a fixed point through [[Rounds.converge]], sealed
    * by an eager localCheckpoint — the round references the previous
    * dist twice (propagate, merge), so a cache would leave the logical
    * plan doubling per round (the connectedComponents 2^k lesson); the
    * seal reports whether a node entered or improved. Shuffles carry
    * (id, dist) longs. Weights are guarded per-row (w ≥ 1, codegen'd
    * raise_error — a zero/negative weight would loop or corrupt the
    * fixed point silently).
    *
    * Output: (node, dist) for nodes reachable within `maxCost`. */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
           seeds: DataFrame, seedCol: String,
           maxCost: Long = Long.MaxValue, maxRounds: Int = 30): DataFrame = {
    require(maxCost >= 0, "maxCost must be >= 0")
    val wc = col(weightCol).cast("long")
    val w = when(wc.isNull || wc <= 0L,
      raise_error(concat(lit("sssp: weight must be a positive integer: "),
        col(weightCol).cast("string"))).cast("long")).otherwise(wc)
    flood("sssp", edges, srcCol, dstCol, w, seeds, seedCol, maxCost, maxRounds)(
      s"sssp did not converge in $maxRounds rounds — a shortest path with more than " +
        s"$maxRounds edges exists inside the cost budget; raise maxRounds")
  }

  /** The min-plus flood behind [[bfs]] and [[sssp]]: edge weight `w`,
    * parallel edges at their min weight, throwing `exhausted` when
    * `maxRounds` rounds do not converge. */
  private def flood(op: String, edges: DataFrame, srcCol: String, dstCol: String, w: Column,
                    seeds: DataFrame, seedCol: String, maxCost: Long, maxRounds: Int)
                   (exhausted: => String): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    Rounds(edges, s"graft.graph $op") { r =>
      val e = r.cache(edges
        .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
        .filter(col("__src") =!= col("__dst"))
        .groupBy(col("__src"), col("__dst")).agg(min(col("__w")).as("__w"))
        .repartition(col("__src")))
      val seed = seeds.select(col(seedCol).as("node")).distinct().withColumn("dist", lit(0L))
      r.converge(maxRounds, exhausted)(seed) { dist =>
        val prop = e.join(dist, col("__src") === col("node"))
          .select(col("__dst"), (col("dist") + col("__w")).as("__cand"))
          .filter(col("__cand") <= maxCost)
          .groupBy(col("__dst").as("__nn"))
          .agg(min(col("__cand")).as("__nd"))
        // full outer merge: newly-reached nodes enter, known nodes keep
        // min(old, propagated); seeds stay at 0 by the min
        val d = least(coalesce(col("dist"), col("__nd")), coalesce(col("__nd"), col("dist")))
        dist.join(prop, col("node") === col("__nn"), "full_outer")
          .select(coalesce(col("node"), col("__nn")).as("node"), d.as("dist"),
            (col("dist").isNull || d =!= col("dist")).as(Rounds.Changed))
      }
    }
  }

  /** Exact triangle count via degree-ordered orientation. Each
    * undirected edge is oriented from its (degree, id)-smaller
    * endpoint to the larger; every triangle then appears as exactly
    * one closed wedge u→v→w with u→w, so the count needs no /3 or /6
    * correction. The orientation is THE scale trick: out-degrees are
    * bounded by O(√m), so the wedge join fans out O(m^1.5) worst-case
    * instead of Σdeg² (which a hub node makes quadratic).
    *
    * Input may contain duplicates / self-loops / both directions —
    * normalized away first. Output: one row (n_triangles). */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Rounds(edges, "graft.graph triangles") { r =>
      val und = edges
        .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val o = r.cache(und
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("src"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("dst")))
      // the result is one row — materialize it eagerly (cheap) so the
      // orientation cache can be dropped before returning instead of
      // living for the rest of the session
      o.as("e1")
        .join(o.as("e2"), col("e1.dst") === col("e2.src"))
        .join(o.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint()
    }

  /** k-core extraction by synchronous peeling: repeatedly delete every
    * node with (undirected) degree &lt; k until the survivor set is
    * stable — the standard density filter (community cores, spam/bot
    * subgraph mining, the "is this node structurally embedded" signal
    * for graph-side corpus curation). Feed a BIDIRECTED edge list
    * (like [[bfs]]); degree is then out-degree. Returns each k-core
    * node with its within-core degree; an empty result means the
    * graph has no k-core.
    *
    * Scale shape per round: one partial-agg'd degree count + two
    * semi-joins of the edge relation against the |alive-nodes| set
    * (node-sized; AQE broadcasts it while it fits, hash-join
    * otherwise) — shuffles carry (long, long) edges only, and the
    * edge relation only ever SHRINKS. Rounds are sealed by eager
    * localCheckpoints (the concomp plan-growth lesson). Round count =
    * peeling depth; sparse tendrils peel in round 1, so depth is
    * small on real graphs — still, the rounds run through
    * [[Rounds.converge]] (an edge seal that kept its row count is the
    * fixed point) and the operator THROWS on round exhaustion rather
    * than return a superset of the core. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    Rounds(edges, "graft.graph kcore") { r =>
      val e0 = edges
        .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .filter(col("__src") =!= col("__dst"))
        .distinct()
        .repartition(col("__src"))
      r.converge(maxRounds,
        s"kcore did not converge in $maxRounds rounds — peeling is still removing " +
          "nodes; raise maxRounds")(e0) { e =>
        val alive = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
          .filter(col("__deg") >= k)
          .select(col("__src").as("__a"))
          .localCheckpoint()
        e.join(alive, col("__src") === col("__a"), "left_semi")
          .join(alive.withColumnRenamed("__a", "__b"), col("__dst") === col("__b"), "left_semi")
      }.groupBy(col("__src").as("node")).agg(count(lit(1)).as("core_degree"))
    }
  }
}
