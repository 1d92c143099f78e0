package graft

import graft.core.Gds
import graft.sources.{FilePattern, ParquetSink}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("rollup / cube / pivot over accumulated aggs") {
    val df = Gds(Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 4)).toDF("g1", "g2", "v"))
    val rolled = df.groupBy("g1", "g2").sum("v").toRollup
    assert(rolled.count == 6) // 3 detail + 2 g1 subtotals + 1 grand
    val cubed = df.groupBy("g1", "g2").sum("v").toCube
    assert(cubed.count == 8) // 3 detail + 2 g1 + 2 g2 subtotals + 1 grand
    val pivoted = df.groupBy("g1").agg(sum(col("v")).as("s")).pivotOn("g2", Seq("x", "y"))
    assert(pivoted.schema.fieldNames.toSeq == Seq("g1", "x", "y"))
    val a = pivoted.filter(col("g1") === "a").toDF.head
    assert(a.getLong(1) == 1L && a.getLong(2) == 2L)
  }

  test("sketches: HLL distinct, quantiles, count-min, bloom within error bounds") {
    val li = Gds(Tables.lineitem(spark, sfDir))
    val exact = li.projection("l_orderkey").distinct().count
    val approx = li.approxCountDistinct("l_orderkey", rsd = 0.02)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)

    val Seq(p50) = li.approxQuantiles("l_quantity", Seq(0.5), relativeError = 0.01)
    assert(p50 >= 20 && p50 <= 30) // quantities are ~uniform 1..50

    val cms = li.countMinSketch("l_returnflag", eps = 0.001, confidence = 0.99)
    val exactA = li.filter(col("l_returnflag") === "A").count
    val est = cms.estimateCount("A")
    assert(est >= exactA && est <= exactA + (0.001 * li.count).toLong + 1)

    val bloom = li.bloomFilter("l_orderkey", expectedNumItems = 2000, fpp = 0.01)
    assert(bloom.mightContain(li.head.getLong(0)))
    assert(!(1 to 1000).map(i => bloom.mightContain(-i.toLong)).forall(identity))
  }

  test("FilePattern resolves globs with filename filters") {
    val base = java.nio.file.Files.createTempDirectory("graft_fp").toString
    ParquetSink(s"$base/d_keep").write(Seq(1).toDF("n"))
    ParquetSink(s"$base/d_skip").write(Seq(2).toDF("n"))
    val all = FilePattern(s"$base/d_*").toPaths(spark)
    assert(all.exists(_.endsWith(".parquet")))
    val onlyParquet = FilePattern(s"$base/d_keep").withFilter(".*\\.parquet".r).toPaths(spark)
    assert(onlyParquet.nonEmpty && onlyParquet.forall(_.endsWith(".parquet")))
  }
}
