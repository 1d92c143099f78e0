package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.TimestampType

/** Tables infers a table's schema once per (session, path) and
  * re-infers when the path's file listing changes. */
class TablesSpec extends SparkSpec {

  test("a repeated read reuses the inferred schema and starts no job") {
    val first = Tables.table(spark, sfDir, "lineitem").schema
    Bridge.drainListenerBus(spark.sparkContext)
    val jobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val second = Tables.table(spark, sfDir, "lineitem").schema
      Bridge.drainListenerBus(spark.sparkContext)
      assert(second == first)
      assert(jobs.get == 0, s"second read started ${jobs.get} job(s)")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a table rewritten in place is read with its new schema and rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    val before = Tables.table(spark, dir, "t")
    assert(before.columns.toSeq == Seq("id", "s"))
    assert(before.count() == 2)

    Seq(3.5, 4.5, 5.5).toDF("x").write.mode("overwrite").parquet(path)
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("x"))
    assert(after.as[Double].collect().sorted.toSeq == Seq(3.5, 4.5, 5.5))
  }

  test("two reads of one table are independent relations") {
    val a = Tables.table(spark, sfDir, "nation")
    val b = Tables.table(spark, sfDir, "nation")
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() == 125)
  }

  test("events keeps ts as TimestampType on a repeated read") {
    assert(Tables.events(spark, sfDir).schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, sfDir).schema("ts").dataType == TimestampType)
  }
}
