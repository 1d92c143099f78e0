package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it after
  * each traced op so that every event of the op reaches the trace
  * before the next op starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
