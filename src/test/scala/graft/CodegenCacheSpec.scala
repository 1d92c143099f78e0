package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Each generated class compiles once per JVM. Spark's default codegen
  * cache holds 100 entries, fewer than these TPC-H gates need (~128 at
  * sf0.001), so a mixed workload recompiled on every pass (GraftSession
  * raises the cap). The second pass runs the set in reverse order, so
  * an LRU too small for the set misses on every query.
  *
  * q8, q17 and q21 are left out: each can plan either of two AQE
  * variants, depending on which query stage finishes first, and the
  * variant a run has not seen before is new code, not a recompile.
  *
  * The graph gates ride along: their rounds plan fresh relations every
  * run, so a round plan whose generated code differs between runs
  * recompiles on every pass. */
class CodegenCacheSpec extends SparkSpec {

  private val gates = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q4_order_priority", "q5_nation_revenue", "q7_nation_trade", "q9_nation_profit",
    "q10_returned_items", "q12_ship_delay", "q13_cust_distribution", "q18_large_orders",
    "graph_concomp", "graph_bfs", "graph_sssp", "graph_kcore", "graph_pagerank")

  private def compilesOver(names: Seq[String]): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second pass over the TPC-H gates compiles no class") {
    // the first-pass count depends on what earlier suites in this JVM compiled
    val first = compilesOver(gates)
    info(s"first pass compiled $first classes")
    val second = compilesOver(gates.reverse)
    assert(second == 0, s"second pass recompiled $second classes (first pass: $first)")
  }
}
