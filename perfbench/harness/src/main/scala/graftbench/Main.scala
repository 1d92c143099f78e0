package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.json4s.{DefaultFormats, Formats, JBool, JDouble, JLong, JNull, JObject, JString, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

/** Runs one workload in-process against graft and writes a result file
  * that `perfbench/run.py` turns into metrics.
  *
  * Phases: set-up (from JVM launch: build the session, build the sealed
  * bases and master stores, run every op once), then whole cycles
  * over the op mix until `--seconds` have passed, then the workload's
  * cross-checks. One client, one op in flight.
  *
  * A cycle is disturbed when the hypervisor stole more than
  * `DisturbedShare` of the machine's CPU time while it ran. Past the
  * deadline the run adds cycles, up to `MaxCycles`, until two are
  * undisturbed, so every op has two samples; `run.py` takes the
  * timings from the undisturbed cycles.
  *
  * With `--trace 1`, even cycles run with the Spark and streaming
  * listeners attached and odd cycles without, so the run measures its
  * own tracing overhead; spans go to `trace.json` beside the result. */
object Main {
  private val DisturbedShare = 0.08
  private val MaxCycles = 3

  private final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  private def parse(args: Array[String]): Args =
    new Args(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  private object Codegen {
    private def h = CodegenMetrics.METRIC_COMPILATION_TIME
    def count: Long = h.getCount
    /** Total compile milliseconds so far: exact while the histogram's
      * reservoir still holds every sample, scaled from it after. */
    def totalMs: Double = {
      val v = h.getSnapshot.getValues
      if (v.isEmpty) 0.0 else v.map(_.toDouble).sum * count / v.length
    }
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Rows into and out of the verify step: the top-most filter above a
    * join, or the top-most join when the verify predicate was pushed
    * into its condition. */
  private def verifyRows(plan: SparkPlan): Option[(Long, Long)] = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    def out(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    def below(p: SparkPlan): Option[Long] =
      kids(p).headOption.flatMap(k => out(k).orElse(below(k)))
    def hasJoin(p: SparkPlan) = nodes(p).exists(_.isInstanceOf[BaseJoinExec])
    nodes(plan).collectFirst {
      case f: FilterExec if hasJoin(f) => (below(f), out(f))
      case j: BaseJoinExec =>
        val in = kids(j).find(hasJoin).orElse(kids(j).headOption)
        (in.flatMap(k => out(k).orElse(below(k))), out(j))
    }.collect { case (Some(i), Some(o)) => (i, o) }
  }

  private def filesSince(root: File, sinceMs: Long): (Long, Long) = {
    val fs = if (root.exists()) org.apache.commons.io.FileUtils.listFiles(root, null, true)
      .toArray(Array.empty[File]).toSeq else Nil
    val fresh = fs.filter(f => f.lastModified() >= sinceMs && !f.getName.endsWith(".crc"))
    (fresh.size.toLong, fresh.map(_.length).sum)
  }

  /** CPU seconds the hypervisor gave to other guests, summed over the
    * machine's CPUs (the `steal` column of /proc/stat, in 1/100 s), and
    * the number of CPUs. */
  private def steal(): (Double, Int) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpus = src.getLines().takeWhile(_.startsWith("cpu")).toList
      val f = cpus.head.split("\\s+")
      (if (f.length > 8) f(8).toDouble / 100.0 else 0.0, cpus.size - 1)
    } finally src.close()
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.all.find(_.name == a("workload"))
      .getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val launched = a("launched").toLong
    val outDir = new File(a("out"))
    def manifest(dir: String): Map[String, Long] = {
      implicit val formats: Formats = DefaultFormats
      val txt = new String(Files.readAllBytes(Paths.get(dir, "manifest.json")), UTF_8)
      (JsonMethods.parse(txt) \ "tables").extract[Map[String, Map[String, Long]]]
        .map { case (t, m) => t -> m("rows") }
    }
    val live = workload.bind(a("data"), manifest(a("data")), seed)
    val trace = new Trace
    val runSpan = trace.newId("run")
    var cycleDir = 0
    def freshRoot(): String = {
      cycleDir += 1
      val d = new File(outDir, s"stores/$cycleDir")
      d.mkdirs()
      d.getPath
    }

    // ---- set-up: session, sealed bases and master stores, every op once
    def harnessWork[T](spark: SparkSession)(f: => T): T = {
      spark.sparkContext.setLocalProperty(Props.Op, "harness")
      try f finally spark.sparkContext.setLocalProperty(Props.Op, null)
    }
    val cg0 = (Codegen.count, Codegen.totalMs)
    val s0 = Clock.now()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s1 = Clock.now()
    val setupSpan = trace.newId("setup")
    trace.add(Span(trace.newId("session"), setupSpan, "session", "", s0, s1, Nil))
    def setupStep(name: String)(f: => Unit): Unit = {
      val t = Clock.now()
      harnessWork(spark)(f)
      trace.add(Span(trace.newId(name), setupSpan, name, "", t, Clock.now(), Nil))
    }
    setupStep("prepare")(live.prepare(spark))
    // the warm-up cycle compiles the generated code and warms the JIT
    setupStep("warmup") {
      val c = new Cycle(spark, a("data"), freshRoot())
      live.beforeCycle(c)
      live.ops.foreach(op => op.call(c).collect())
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteQuietly(new File(c.root))
    }
    val s2 = Clock.now()
    trace.add(Span(setupSpan, runSpan, "setup", "", launched, s2,
      Seq("codegen_compiles" -> JLong(Codegen.count - cg0._1),
        "codegen_compile_s" -> JDouble((Codegen.totalMs - cg0._2) / 1000.0))))
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism

    // ---- timed cycles -------------------------------------------------
    val jobs = new JobListener(trace)
    val streams = new StreamListener(trace)
    val rng = new scala.util.Random(seed)
    val cycles = mutable.ArrayBuffer.empty[JObject]
    val digests = mutable.Map.empty[String, mutable.ArrayBuffer[Digest]]
    val errors = mutable.ArrayBuffer.empty[String]
    val start = Clock.now()
    val deadline = start + (seconds * 1e9).toLong
    var index = 0
    var undisturbed = 0
    while (Clock.now() < deadline || (undisturbed < 2 && index < MaxCycles)) {
      val tracedCycle = traced && index % 2 == 0
      if (tracedCycle) { sc.addSparkListener(jobs); spark.streams.addListener(streams) }
      val c = new Cycle(spark, a("data"), freshRoot())
      harnessWork(spark)(live.beforeCycle(c))
      val cycleSpan = trace.newId("cycle")
      val order = if (workload.shuffled) rng.shuffle(live.ops) else live.ops
      val (steal0, ncpu) = steal()
      val c0 = Clock.now()
      val records = order.map { op =>
        val opId = s"c$index.${op.name}"
        val opSpan = trace.newId("op")
        if (tracedCycle) c.streamStarted = id => streams.register(id, opId, opSpan)
        sc.setLocalProperty(Props.Op, opId)
        val phases = mutable.ArrayBuffer.empty[Span]
        def phase[T](name: String)(f: => T): T = {
          val id = trace.newId(name)
          sc.setLocalProperty(Props.Span, id)
          val t = Clock.now()
          try f finally phases += Span(id, opSpan, name, opId, t, Clock.now(), Nil)
        }
        val cg = Codegen.count
        val since = System.currentTimeMillis()
        var cached = 0L
        val attrs = mutable.ArrayBuffer.empty[(String, JValue)]
        val result = try {
          val df = phase("call")(op.call(c))
          if (tracedCycle) cached = cachedBytes(spark)
          phase("plan")(df.queryExecution.executedPlan)
          val rows = phase("exec")(df.collect())
          if (tracedCycle && op.verify) verifyRows(df.queryExecution.executedPlan).foreach {
            case (in, out) =>
              attrs += "verify_rows_in" -> JLong(in)
              attrs += "verify_rows_out" -> JLong(out)
          }
          Right(Digest.of(df.schema, rows))
        } catch {
          case e: Throwable =>
            val msg = s"$opId: ${e.getClass.getSimpleName}: ${e.getMessage}"
            errors += msg
            System.err.println(s"[graftbench] op failed $msg")
            Left(msg)
        } finally {
          sc.setLocalProperty(Props.Op, null)
          sc.setLocalProperty(Props.Span, null)
        }
        val wall = (phases.last.end - phases.head.start) / 1e9
        if (tracedCycle) {
          BenchBus.drain(sc)
          cached = math.max(cached, cachedBytes(spark))
          val (files, bytes) = filesSince(new File(c.root), since)
          attrs ++= Seq("codegen_compiles" -> JLong(Codegen.count - cg),
            "cached_bytes" -> JLong(cached), "store_files_written" -> JLong(files),
            "store_new_bytes" -> JLong(bytes))
          phases.foreach(trace.add)
          trace.add(Span(opSpan, cycleSpan, "op", opId, phases.head.start, phases.last.end,
            Seq("name" -> JString(op.name), "rows_in" -> JLong(op.rowsIn)) ++ attrs))
        }
        spark.catalog.clearCache()
        result.foreach(d => digests.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += d)
        ("name" -> op.name) ~ ("id" -> opId) ~ ("wall_s" -> wall) ~ ("rows_in" -> op.rowsIn) ~
          ("digest" -> result.fold[JValue](_ => JNull, _.json)) ~
          ("error" -> result.fold[JValue](JString(_), _ => JNull))
      }
      val c1 = Clock.now()
      val stolen = steal()._1 - steal0
      val disturbed = stolen > DisturbedShare * ncpu * (c1 - c0) / 1e9
      if (!disturbed) undisturbed += 1
      val store = live.storeBytes(c)
      if (tracedCycle) {
        BenchBus.drain(sc)
        sc.removeSparkListener(jobs)
        spark.streams.removeListener(streams)
        trace.add(Span(cycleSpan, runSpan, "cycle", "", c0, c1,
          Seq("index" -> JLong(index), "traced" -> JBool(true))))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new File(c.root))
      cycles += ("index" -> index) ~ ("traced" -> tracedCycle) ~ ("wall_s" -> (c1 - c0) / 1e9) ~
        ("steal_s" -> stolen) ~ ("disturbed" -> disturbed) ~
        ("store_bytes" -> store.fold[JValue](JNull)(JLong(_))) ~ ("ops" -> records)
      index += 1
    }
    val end = Clock.now()

    // ---- checks (untimed) ---------------------------------------------
    val checks = harnessWork(spark) {
      val same = live.ops.filterNot(_.oracle).map { op =>
        val ds = digests.getOrElse(op.name, Nil)
        Check(s"${op.name}_same_every_cycle", op.name, ds.nonEmpty && ds.forall(_ == ds.head),
          ds.map(_.hex).distinct.mkString(" "))
      }
      same ++ (try live.checks(spark, digests.view.mapValues(_.toSeq).toMap) catch {
        case e: Throwable => live.ops.map(op => Check("workload_checks", op.name, ok = false, e.toString))
      })
    }
    val oracle = live.ops.filter(_.oracle).map(op => op.name -> JString(graft.SparkEntry.oracleSql(op.name)))
      .toList
    val sparkVersion = spark.version
    spark.stop()
    trace.add(Span(runSpan, "", "run", "", launched, Clock.now(),
      Seq("workload" -> JString(workload.name), "seed" -> JLong(seed))))

    val result =
      ("workload" -> workload.name) ~ ("seed" -> seed) ~ ("cores" -> cores) ~
      ("spark_version" -> sparkVersion) ~
      ("max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0) ~
      ("setup_s" -> (s2 - launched) / 1e9) ~
      ("timed_s" -> (end - start) / 1e9) ~
      ("cycles" -> cycles.toList) ~
      ("checks" -> checks.map(k =>
        ("name" -> k.name) ~ ("op" -> k.op) ~ ("ok" -> k.ok) ~ ("detail" -> k.detail))) ~
      ("errors" -> errors.toList) ~
      ("oracle_sql" -> JObject(oracle)) ~
      ("peak_rss_mb" -> vmHwmMb())
    Files.write(Paths.get(outDir.getPath, "result.json"), JsonMethods.compact(result).getBytes(UTF_8))
    Files.write(Paths.get(outDir.getPath, "trace.json"), JsonMethods.compact(trace.json).getBytes(UTF_8))
  }
}
