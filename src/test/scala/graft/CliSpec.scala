package graft

import graft.sources.{ParquetSink, ParquetSource}
import org.apache.spark.sql.functions._

class CliSpec extends SparkSpec {
  import spark.implicits._

  test("schema prints the tree") {
    val out = Cli.run(spark, Seq("schema", s"$sfDir/region.parquet"))
    assert(out.contains("r_regionkey") && out.contains("r_name"))
  }

  test("analyze reports rows and null counts") {
    val out = Cli.run(spark, Seq("analyze", s"$sfDir/region.parquet"))
    assert(out.startsWith("rows=5"))
    assert(out.contains("r_name string nulls=0"))
  }

  test("copy converts formats with projection, filter, limit") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/csvout"
    val msg = Cli.run(spark, Seq("copy", s"$sfDir/nation.parquet", "parquet", out, "csv",
      "projection", "n_nationkey,n_name", "filter", "n_nationkey < 10", "limit", "5"))
    assert(msg.startsWith("copied 5 rows"))
    assert(spark.read.option("header", "true").csv(out).columns.toSeq == Seq("n_nationkey", "n_name"))
  }

  test("compact rewrites a fragmented directory to the target file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/frag"
    (1 to 200).toDF("n").repartition(20).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 20)
    val msg = Cli.run(spark, Seq("compact", dir, "2"))
    assert(msg.contains("compacted"))
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 2)
    assert(ParquetSource(dir).read(spark).count == 200)
    assert(ParquetSource(dir).read(spark).agg(sum(col("n"))).head.getLong(0) == 200L * 201 / 2)
  }

  test("compact restores a directory torn between its swap renames, then compacts every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_torn").toString + "/frag"
    (1 to 200).toDF("n").repartition(20).write.parquet(dir)
    // the state a crash between the compaction swap's two renames leaves
    assert(new java.io.File(dir).renameTo(new java.io.File(s"${dir}__old")))
    assert(Cli.run(spark, Seq("compact", dir, "2")) == "compacted 20 files to 2")
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 2)
    assert(ParquetSource(dir).read(spark).agg(count(lit(1)), sum(col("n"))).head.toSeq ==
      Seq(200L, 200L * 201 / 2))
    assert(!new java.io.File(s"${dir}__old").exists())
  }

  test("compactToSize targets a byte size per file (RollingParquetWriter byte trigger)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compactsz").toString + "/frag"
    (1 to 5000).map(i => (i, s"padpadpadpad-$i")).toDF("n", "s")
      .repartition(25).write.parquet(dir)
    def files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.length).sum
    // target a quarter of the data per file → expect ~4 files
    val target = totalBytes / 4
    val (before, planned) = graft.operators.Compact.compactToSize(spark, dir, target)
    assert(before == 25)
    assert(planned >= 3 && planned <= 5)
    assert(files.length == planned)
    // every file lands near the target (2x slack covers codec drift
    // between the fragmented and compacted layouts)
    assert(files.forall(_.length <= target * 2))
    assert(ParquetSource(dir).read(spark).count == 5000)
  }

  test("spec dumps round-trippable JSON and applyspec creates an empty table from it") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_spec").toString + "/t"
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
      .write.parquet(src)
    val json = Cli.run(spark, Seq("spec", src))
    // the dump IS the applyspec input — write it to a file and apply
    val specFile = java.nio.file.Files.createTempFile("graft_spec", ".json")
    java.nio.file.Files.writeString(specFile, json)
    val dst = java.nio.file.Files.createTempDirectory("graft_spec").toString + "/out"
    val msg = Cli.run(spark, Seq("applyspec", specFile.toString, dst))
    assert(msg.contains("3 columns"))
    val applied = spark.read.parquet(dst)
    assert(applied.count() == 0)
    assert(applied.schema == spark.read.parquet(src).schema)
  }

  test("applyspec reports a usage error for valid-JSON non-struct specs") {
    val specFile = java.nio.file.Files.createTempFile("graft_badspec", ".json")
    java.nio.file.Files.writeString(specFile, "\"string\"")
    val dst = java.nio.file.Files.createTempDirectory("graft_badspec").toString + "/out"
    val msg = Cli.run(spark, Seq("applyspec", specFile.toString, dst))
    assert(msg.contains("must be a struct schema"))
    assert(!new java.io.File(dst).exists())
  }
}
