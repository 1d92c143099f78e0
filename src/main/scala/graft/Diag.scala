package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CodegenMode, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import scala.collection.mutable

/** Diagnostics for the gate queries and their production twins. With
  * no query names a subcommand covers every gate and prod query.
  *
  *   time    <sfDir> [query...] — median of `SPARK_GRAFT_PASSES` measured
  *                                passes after one warm-up (Bench's loop),
  *                                the classes compiled and the Hadoop
  *                                `Shell` processes forked over them
  *   plan    <sfDir> [query...] — formatted explain: pushed filters, read
  *                                schemas, join strategies
  *   metrics <sfDir> [query...] — the final adaptive plan with per-node SQL
  *                                metrics (agg fallbacks, spill, hash-build
  *                                sizes), below the `stages` view
  *   stages  <sfDir> [query...] — per-stage task skew and resources
  *   audit   <sfDir> [query...] — the PLANS.md text (final-plan audit)
  *
  * `run` returns the output so specs can drive it in-process; `main`
  * builds the session around it, prints the output, and writes a full
  * (no names) audit to PLANS.md instead of printing it.
  */
object Diag {

  private val commands = Seq("time", "plan", "metrics", "stages", "audit")

  def run(spark: SparkSession, args: Seq[String]): String = args.toList match {
    case cmd :: sfDir :: names if commands.contains(cmd) =>
      val all = SparkEntry.queries.keys.toSeq.sorted ++ SparkEntry.perfQueries.keys.toSeq.sorted
      val qs = (if (names.isEmpty) all else names).map(n => n -> SparkEntry.query(n))
      cmd match {
        case "time" => qs.map { case (n, q) => time(spark, sfDir, n, q) }.mkString("\n")
        case "plan" => qs.map { case (n, q) =>
          s"=== $n ===\n" + q(spark, sfDir).queryExecution.explainString(FormattedMode)
        }.mkString("\n")
        case "metrics" => qs.map { case (n, q) => metrics(spark, sfDir, n, q) }.mkString("\n")
        case "stages" => qs.map { case (n, q) => stages(spark, sfDir, n, q) }.mkString("\n")
        case "audit" => audit(spark, sfDir, qs)
      }
    case other =>
      s"usage: ${commands.mkString("|")} <sfDir> [query...] (got: ${other.mkString(" ")})"
  }

  /** One untimed run (JIT, codegen, session-master stores), then a
    * clean cache for the measured run. Returns the row count. */
  private def warm(spark: SparkSession, sfDir: String,
                   q: (SparkSession, String) => DataFrame): Long = {
    val n = q(spark, sfDir).count()
    spark.catalog.clearCache()
    n
  }

  private def time(spark: SparkSession, sfDir: String, name: String,
                   q: (SparkSession, String) => DataFrame): String = {
    val n = warm(spark, sfDir, q)
    // after the warm-up every generated class should be a cache hit: a
    // non-zero count is recompilation (eviction, a fresh class loader)
    // or an AQE plan variant the warm-up run did not take
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ((times, err), forks) = shellForks(Bench.timePasses(spark, name, sfDir, Bench.passes))
    err.foreach(throw _)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    f"$name%-28s median ${Bench.median(times)}%8.3f s  n=$n  compiles=$compiles  forks=$forks"
  }

  /** `f`'s result and the processes forked through Hadoop's
    * `org.apache.hadoop.util.Shell` while it ran (the local
    * filesystem's `chmod`/`readlink` without libhadoop), counted from an
    * in-process JFR recording of `jdk.ProcessStart` with stack traces. */
  private[graft] def shellForks[T](f: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = f
      rec.stop()
      val file = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(file)
        val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.count { e =>
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        }
        (out, forks)
      } finally java.nio.file.Files.deleteIfExists(file)
    } finally rec.close()
  }

  private def metrics(spark: SparkSession, sfDir: String, name: String,
                      q: (SparkSession, String) => DataFrame): String = {
    warm(spark, sfDir, q)
    val df = q(spark, sfDir)
    val t0 = System.nanoTime()
    df.collect() // on THIS Dataset, so its adaptive plan finalizes
    val sb = new StringBuilder(f"=== $name  wall=${(System.nanoTime() - t0) / 1e9}%.2f s%n")
    def walk(p: SparkPlan, d: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => Seq("remote", "localMerged", "corrupt", "merged")
          .exists(k.startsWith) }
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      sb.append("  " * d + p.nodeName + "  [" + ms + "]\n")
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }).foreach(walk(_, d + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    sb.toString
  }

  private final class StageStats {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuMs, gcMs, spillMB, shufReadMB, shufWriteMB = 0L
    var name, description = ""
  }

  /** The Spark jobs a query's measured run starts (its eager operator
    * jobs included), then per-stage task duration and metrics from a
    * listener: (tasks, median ms, max ms, max/median, Σcpu, Σgc, spill,
    * shuffle bytes), then the stage's call site and its
    * `spark.job.description` (the operator label, e.g. a graph round; a
    * multi-line one, such as a streaming batch's id/runId/batch, on one
    * line). SKEW flags a
    * stage whose straggler holds it above 2× the median — a hot
    * shuffle key the operator's skew defense missed. Stages under
    * 200 ms total or with fewer than 4 tasks are noise. Σcpu ≪ Σwall
    * with large spill or shuffle bytes means I/O-bound; large Σgc,
    * allocation pressure. */
  private def stages(spark: SparkSession, sfDir: String, name: String,
                     q: (SparkSession, String) => DataFrame): String = {
    val n = warm(spark, sfDir, q)
    val byStage = mutable.TreeMap.empty[Int, StageStats]
    var jobs = 0
    val listener = new SparkListener {
      private def stage(id: Int) = byStage.getOrElseUpdate(id, new StageStats)
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => stage(s.stageInfo.stageId).description = d.linesIterator.mkString(" "))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val st = stage(t.stageId)
        st.taskMs += t.taskInfo.duration
        Option(t.taskMetrics).foreach { tm =>
          st.cpuMs += tm.executorCpuTime / 1000000L
          st.gcMs += tm.jvmGCTime
          st.spillMB += (tm.memoryBytesSpilled max tm.diskBytesSpilled) >> 20
          st.shufReadMB += tm.shuffleReadMetrics.totalBytesRead >> 20
          st.shufWriteMB += tm.shuffleWriteMetrics.bytesWritten >> 20
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        stage(s.stageInfo.stageId).name = s.stageInfo.name.takeWhile(_ != '\n').take(60)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val wall = try {
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      w
    } finally sc.removeSparkListener(listener)

    val sb = new StringBuilder(f"=== $name  wall=$wall%.2f s  n=$n  jobs=${listener.synchronized(jobs)}%n")
    sb.append(f"${"stage"}%-6s ${"tasks"}%5s ${"med ms"}%7s ${"max ms"}%7s ${"mx/md"}%6s " +
      f"${"cpu s"}%7s ${"gc s"}%6s ${"spill"}%6s ${"sh-r"}%6s ${"sh-w"}%6s  flag%n")
    listener.synchronized(byStage.toSeq).filter(_._2.taskMs.nonEmpty).foreach { case (sid, st) =>
      val ts = st.taskMs.sorted
      val med = ts(ts.length / 2)
      val ratio = if (med > 0) ts.last.toDouble / med else 0.0
      val skewed = ts.length >= 4 && ts.sum >= 200L && med > 0 && ratio > 2.0
      sb.append(f"$sid%-6d ${ts.length}%5d $med%7d ${ts.last}%7d $ratio%6.1f " +
        f"${st.cpuMs / 1000.0}%7.1f ${st.gcMs / 1000.0}%6.1f ${st.spillMB}%5dM " +
        f"${st.shufReadMB}%5dM ${st.shufWriteMB}%5dM  ${if (skewed) "SKEW" else ""}%4s" +
        s"  ${st.name}  ${st.description}\n")
    }
    sb.toString
  }

  /** Distinct plan lines containing `token` — distinct because the
    * toString of a plan INLINES the cached subplan's rendering under
    * every InMemoryTableScan that reads it, so raw substring counts
    * over-count everything inside a cached relation (its exchanges
    * execute once). Genuinely distinct operators always differ in
    * expression ids / plan_ids, so line-level dedup is exact. */
  private def distinctLines(p: String, token: String, exclude: Seq[String] = Nil): Int =
    p.linesIterator
      .filter(l => l.contains(token) && !exclude.exists(l.contains))
      .map(_.dropWhile(c => " :+-".contains(c)))
      .toSet.size

  /** Executes each query and audits its FINAL (post-AQE) physical
    * plan: shuffle count, join strategies, whole-stage-codegen spans,
    * parquet pushdown evidence. Returns a markdown table — the
    * committed PLANS.md is the per-operator scale review the bench
    * numbers alone can't show. */
  private def audit(spark: SparkSession, dir: String,
                    qs: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    // by-design nested-loop joins: ds_cartesian IS a cartesian;
    // ds_takewhile broadcasts a 1-row global-cutoff aggregate
    // (scalar-subquery pattern); sim_bruteforce_topk broadcasts the
    // query batch — brute force is definitionally corpus × queries;
    // corpus_mix and text_unigram_prod broadcast a 1-row scalar
    // (quota scale m / corpus token total) — same scalar-subquery
    // pattern as ds_takewhile. r6 members of the same two families:
    // q22 (1-row acctbal (Σ, n) stats), text_collocations/_prod and
    // text_bm25/_prod (1-row corpus token total / avgdl),
    // sim_recall_eval (composes sim_bruteforce_topk's broadcast
    // query batch as its ground-truth side)
    // graph_pagerank joins the 1-row node-count aggregate into the
    // rank relation — the same scalar-broadcast shape as q22's stats
    // corpus_mix prefix also covers corpus_mix_temperature: its
    // 1-row Σw total crossJoins(broadcast) into the stratum quota —
    // the same scalar shape as corpus_mix's min-quota m
    val nljByDesign = Set("ds_cartesian", "ds_takewhile", "sim_bruteforce_topk",
      "corpus_mix", "text_unigram_prod", "q22_dormant_customers",
      // text_bm25 (gate + prod): 1-row (N, avgdl) corpus-stats
      // scalar crossJoin(broadcast) feeding the idf/length-norm —
      // the q15/sample_importance pattern
      // sim_ivf_recall: same composition as sim_recall_eval — the
      // brute-force ground-truth side broadcasts the query batch
      "text_collocations", "text_bm25", "sim_recall_eval", "sim_ivf_recall",
      "sim_ivfpq_recall",
      // text_search_ranked composes the bm25 scorer, so it carries
      // the same 1-row (N, avgdl) corpus-stats scalar broadcast
      // (covers _indexed by prefix — that path has no scalar at all)
      "text_search_ranked",
      // hybrid: the bm25 scalar + the 1-row query-embedding
      // broadcast feeding the exact-cosine side (the
      // sim_bruteforce_topk pattern, single query)
      "text_search_hybrid",
      // broadcast benchmark slice cross-joined against the corpus —
      // brute by contract (eval suites are small by construction;
      // the LSH-bucketed path is the documented large-benchmark
      // fallback) — the sim_bruteforce_topk/sim_recall_eval class
      "contamination_embedding",
      "graph_pagerank", "graph_ppr", "sample_importance",
      // 1-row corpus-count scalar crossJoin(broadcast(...)) for the
      // integer idf — the q15/sample_importance pattern
      "text_keyphrase",
      // 1-row 'en'-sketch scalar broadcast against the per-lang rows
      "corpus_overlap",
      // referentialCheck: crossJoin of two 1-row aggregates (orphan
      // count × total count) — tiny by construction, documented in
      // Quality.scala
      "quality_constraints",
      // histogram: broadcast 1-row min/max scalar against the scan
      // (the q22/importanceSample pattern, documented in Quality.scala)
      "quality_histogram",
      // embeddingDrift: three 1-row stat relations (per-side counts/
      // norms + the centroid cosine) crossJoined into the report row
      "quality_emb_drift")
    val cacheByDesign = Set(
      // pairEval's truth side is exactJaccardPairs, which caches its
      // sample-sized shingle sets for three consumers (documented at
      // the cache site in Dedup.scala)
      "dedup_method_eval",
      // prepare's exact-dedup survivors, cached for three consumers
      // (documented in Pipeline.scala)
      "pipeline_prepare")

    val rows = qs.map { case (name, f) =>
      val kind = if (SparkEntry.queries.contains(name)) "gate" else "prod"
      val df = f(spark, dir)
      // codegen spans from CodegenMode (authoritative: actually plans
      // the subtrees) — the post-AQE toString hides the *(n) markers
      // of completed stages
      val codegen = "Found (\\d+) WholeStageCodegen subtrees".r
        .findFirstMatchIn(df.queryExecution.explainString(CodegenMode))
        .map(_.group(1).toInt).getOrElse(0)
      df.count() // materialize so AQE reaches its final plan
      val p = df.queryExecution.executedPlan.toString
      val shuffles = distinctLines(p, "Exchange ",
        exclude = Seq("BroadcastExchange", "ReusedExchange"))
      val nlj = distinctLines(p, "BroadcastNestedLoopJoin") + distinctLines(p, "CartesianProduct")
      val pushed = distinctLines(p, "PushedFilters: [", exclude = Seq("PushedFilters: []"))
      val flags = Seq(
        if (nlj > 0 && !nljByDesign.exists(name.startsWith))
          Some("nested-loop/cartesian join") else None,
        if (distinctLines(p, "InMemoryTableScan") > 0 && !cacheByDesign.exists(name.startsWith))
          Some("unexpected cache") else None,
      ).flatten
      spark.catalog.clearCache()
      (s"$name ($kind)", flags, s"| $name ($kind) | $shuffles | ${distinctLines(p, "BroadcastHashJoin")} | " +
        s"${distinctLines(p, "SortMergeJoin")} | ${distinctLines(p, "ShuffledHashJoin")} | " +
        s"$nlj | $codegen | $pushed/${distinctLines(p, "FileScan parquet")} | ${flags.mkString("; ")} |\n")
    }

    val sb = new StringBuilder
    sb.append("# PLANS — final (post-AQE) physical-plan audit\n\n")
    sb.append(s"Generated by `runMain graft.Diag audit $dir` — every gate+prod\n")
    sb.append("""query is EXECUTED, then its final adaptive plan is inspected.
      |Columns: shuffle exchanges / join strategies (broadcast-hash,
      |sort-merge, shuffled-hash, nested-loop+cartesian) / whole-stage
      |codegen spans / parquet scans with non-empty PushedFilters /
      |total parquet scans. Flags call out anti-patterns. Nested-loop
      |joins in ds_cartesian (the operator IS a cartesian), ds_takewhile,
      |corpus_mix, text_unigram_prod, q22_dormant_customers,
      |text_collocations(_prod) and text_bm25(_prod) (1-row scalar
      |broadcast: global cutoff / quota scale / token total / balance
      |stats / avgdl) and sim_bruteforce_topk + sim_recall_eval
      |(broadcast query batch — brute force is definitionally
      |corpus × queries), graph_pagerank (1-row node-count
      |scalar + cached edge relation), and sample_importance (1-row
      |max-weight scalar) are by design and unflagged.
      |
      |graph_* operators (pagerank/labelprop/triangles, and the
      |convergence-probed bfs/sssp/concomp whose rounds are sealed by
      |eager per-round checkpoints) materialize
      |their result INSIDE the operator (final localCheckpoint, so the
      |iteration caches can be unpersisted before returning) — their
      |rows below show the returned checkpoint scan (0 exchanges), not
      |the iteration plan. The iteration shape is audited separately:
      |linear lineage (one reference to the previous ranks per step)
      |verified by a 20-iter sf0.1 run costing ~constant marginal
      |seconds per iteration — see SURVEY §7 r7.
      |
      || query | xchg | BHJ | SMJ | SHJ | NLJ | codegen | pushed/scans | flags |
      ||---|---|---|---|---|---|---|---|---|
      |""".stripMargin)
    rows.foreach(r => sb.append(r._3))
    val flagged = rows.filter(_._2.nonEmpty).map(_._1)
    sb.append(s"\nTotals: ${rows.length} queries audited, ${flagged.length} flagged")
    if (flagged.nonEmpty) sb.append(flagged.mkString(" (", ", ", ")"))
    sb.append(".\n")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = run(spark, args.toIndexedSeq)
      if (args.length == 2 && args(0) == "audit") {
        java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
          out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[diag] wrote PLANS.md (${out.linesIterator.toSeq.last})")
      } else println(out)
    } finally spark.stop()
  }
}
