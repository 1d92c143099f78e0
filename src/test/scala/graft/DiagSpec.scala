package graft

class DiagSpec extends SparkSpec {
  private val queries = Seq("q1_pricing_summary", "corpus_quantiles_prod")
  private def diag(cmd: String, names: Seq[String] = queries): String =
    Diag.run(spark, cmd +: sfDir +: names)

  test("plan prints the formatted explain with the parquet scans") {
    val out = diag("plan")
    queries.foreach(q => assert(out.contains(s"=== $q ===")))
    // formatted mode names the file scan node "Scan parquet"
    assert(out.contains("Scan parquet") && out.contains("PushedFilters: ["), out)
  }

  test("metrics prints the final plan with per-node SQL metrics") {
    val out = diag("metrics")
    queries.foreach(q => assert(out.contains(s"=== $q  wall=")))
    assert(out.contains("numOutputRows="), out)
  }

  test("stages prints a row per stage of the measured run") {
    val out = diag("stages", Seq("q1_pricing_summary"))
    val stageRows = out.linesIterator.filter(_.matches("^\\d+\\s+\\d+\\s.*"))
    assert(stageRows.nonEmpty, out)
  }

  test("stages prints one line per stage when a job description spans lines") {
    // every corpus_stream stage carries the stream's multi-line
    // id/runId/batch description
    val lines = diag("stages", Seq("corpus_stream")).linesIterator.toSeq
    assert(lines.head.startsWith("=== corpus_stream  wall=") && lines(1).startsWith("stage "))
    assert(lines.length > 2 && lines.drop(2).forall(_.matches("^\\d+\\s+\\d+\\s.*")),
      lines.mkString("\n"))
  }

  test("time prints a median per query") {
    val out = diag("time")
    queries.foreach(q => assert(out.linesIterator.exists(l =>
      l.startsWith(q) && l.matches(".* median +\\d+\\.\\d{3} s  n=\\d+  compiles=\\d+  forks=\\d+")), out))
  }

  test("time recompiles nothing when every pass restarts a stream") {
    // each corpus_stream pass starts a new streaming query in a cloned
    // session; with one executor class loader for every session its
    // generated classes stay cache hits after the warm-up
    val out = diag("time", Seq("corpus_stream"))
    assert(out.matches("corpus_stream .* compiles=0 .*"), out)
  }

  test("time forks no Hadoop shell process when every pass restarts a stream") {
    // each pass writes corpus state, export parquet and checkpoint logs
    val out = diag("time", Seq("corpus_stream"))
    assert(out.matches("corpus_stream .* forks=0"), out)
  }

  test("audit returns a PLANS.md table row per query") {
    val out = diag("audit", Seq("q1_pricing_summary"))
    assert(out.linesIterator.exists(_.startsWith("| q1_pricing_summary (gate) | ")), out)
    assert(out.contains("Totals: 1 queries audited, 0 flagged."), out)
  }

  test("an unknown query name throws and lists the valid names") {
    val e = intercept[IllegalArgumentException](diag("plan", Seq("no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("q1_pricing_summary") && e.getMessage.contains("corpus_quantiles_prod"))
  }
}
