package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class PipelineParallelSpec extends graft.SparkSpec {

  test("inParallel runs every task, throws the first failure and suppresses the rest") {
    val ran = new AtomicBoolean(false)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val e = intercept[IllegalStateException] {
      Pipeline.inParallel(
        () => { names.add(Thread.currentThread.getName); throw new IllegalStateException("a") },
        () => { names.add(Thread.currentThread.getName); throw new IllegalStateException("b") },
        () => { names.add(Thread.currentThread.getName); ran.set(true) })
    }
    assert(ran.get)
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
    assert(names.toArray.toSet == Set("graft-parallel-0", "graft-parallel-1", "graft-parallel-2"))
  }

  test("inParallel tasks' Spark jobs carry the caller's job description") {
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        labels.add(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("graft.spec step=parallel")
    try {
      Pipeline.inParallel(Seq.fill(3)(() => { spark.range(10).count(); () }): _*)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val seen = labels.toArray.toSeq
    assert(seen.length >= 3 && seen.forall(_ == "graft.spec step=parallel"), seen)
  }
}
