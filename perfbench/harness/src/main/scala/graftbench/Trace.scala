package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.{JBool, JDouble, JLong, JNull, JObject, JValue}
import org.json4s.JsonDSL._

/** One timed interval of the run. `op` is the id of the op the span
  * belongs to (empty above op level); `attrs` carries the counts
  * recorded at the same boundary. Times are epoch nanoseconds. */
final case class Span(id: String, parent: String, name: String, op: String,
                      start: Long, end: Long, attrs: Seq[(String, JValue)])

/** Spans kept in memory and written once when the run ends. */
final class Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def newId(kind: String): String = s"$kind${ids.incrementAndGet()}"
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def json: JValue = all.map { s =>
    ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~ ("op" -> s.op) ~
      ("start" -> s.start) ~ ("end" -> s.end) ~ ("attrs" -> JObject(s.attrs.toList))
  }
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = baseEpochNanos + (System.nanoTime() - baseNanos)
}

/** Local properties the harness sets on the calling thread; Spark copies
  * them into every job the thread (or a thread it starts) submits. */
object Props {
  val Op = "graftbench.op"
  val Span = "graftbench.span"
}

/** Turns Spark's job, stage and task events into job and stage spans.
  * A job is parented to the phase span that was open on the submitting
  * thread, a stage to its job. A job without the property is recorded with an empty op:
  * the benchmark reports those as `exec.unattributed_jobs`. */
final class JobListener(trace: Trace) extends SparkListener {
  private final class StageAcc {
    var tasks = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var scanTasks = 0L; var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.Map.empty[Int, JobListener.JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val acc = mutable.Map.empty[(Int, Int), StageAcc]

  private def ms(t: Long): Long = t * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Props.Op))).getOrElse("")
    val parent = p.flatMap(x => Option(x.getProperty(Props.Span))).getOrElse("")
    jobs(e.jobId) = JobListener.JobRec(op, parent, ms(e.time), e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      val id = s"job${e.jobId}"
      val ok = e.jobResult == JobSucceeded
      trace.add(Span(id, j.parent, "job", j.op, j.start, ms(e.time),
        Seq("job_id" -> JLong(e.jobId), "ok" -> JBool(ok),
          "stages" -> JLong(j.stages.size))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = acc.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
    val jobId = stageJob.getOrElse(info.stageId, -1)
    val op = jobs.get(jobId).map(_.op).getOrElse("")
    val d = a.durations.sorted
    val straggler =
      if (d.size >= 4 && d(d.size / 2) > 0) JDouble(d.last.toDouble / d(d.size / 2))
      else JNull
    val start = info.submissionTime.getOrElse(0L)
    trace.add(Span(s"stage${info.stageId}.${info.attemptNumber()}", s"job$jobId", "stage", op,
      ms(start), ms(info.completionTime.getOrElse(start)),
      Seq("stage_id" -> JLong(info.stageId), "tasks" -> JLong(a.tasks),
        "failed_tasks" -> JLong(a.failed), "run_ms" -> JLong(a.runMs),
        "cpu_ns" -> JLong(a.cpuNs), "gc_ms" -> JLong(a.gcMs),
        "shuffle_read_bytes" -> JLong(a.shuffleRead),
        "shuffle_write_bytes" -> JLong(a.shuffleWrite),
        "spill_bytes" -> JLong(a.spill), "input_bytes" -> JLong(a.inBytes),
        "input_records" -> JLong(a.inRecords), "scan_tasks" -> JLong(a.scanTasks),
        "output_bytes" -> JLong(a.outBytes), "straggler_ratio" -> straggler)))
  }
}

object JobListener {
  private final case class JobRec(op: String, parent: String, start: Long, stages: Seq[Int])
}

/** Structured-streaming trigger spans, parented to the phase span that
  * started the query (the harness registers the query id). */
final class StreamListener(trace: Trace) extends StreamingQueryListener {
  private val owner = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (String, String)]()

  def register(queryId: java.util.UUID, op: String, parent: String): Unit =
    owner.put(queryId, (op, parent))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val (op, parent) = Option(owner.get(p.id)).getOrElse(("", ""))
    // the progress timestamp is the trigger's start
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trigger = d.getOrElse("triggerExecution", 0L)
    trace.add(Span(s"trigger${p.id}.${p.batchId}", parent, "trigger", op,
      startNs, startNs + trigger * 1000000L,
      Seq("batch_id" -> JLong(p.batchId), "input_rows" -> JLong(p.numInputRows),
        "trigger_ms" -> JLong(trigger),
        "add_batch_ms" -> JLong(d.getOrElse("addBatch", 0L)),
        "wal_commit_ms" -> JLong(d.getOrElse("walCommit", 0L)))))
  }
}
