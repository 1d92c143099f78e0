package graft

import graft.sources._
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.{AclEntryType, FsAction, FsPermission}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class HdfsSourceSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = Files.createTempDirectory("graft_hdfs").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (dir, fs)
  }

  test("listing(): the file metadata is a relation with path/size/mtime") {
    val (dir, _) = scratch()
    Seq("a.csv" -> "1,2\n3,4\n", "b.csv" -> "5,6\n", "c.txt" -> "nope").foreach {
      case (name, content) => Files.write(java.nio.file.Paths.get(dir, name), content.getBytes)
    }
    val listing = HdfsSource(FilePattern(dir).withFilter(".*\\.csv".r)).listing(spark)
    assert(listing.columns.toSeq ==
      Seq("path", "name", "size", "mtime", "permission", "replication", "block_size"))
    val got = listing.select("name", "size").as[(String, Long)].collect().toMap
    assert(got.keySet == Set("a.csv", "b.csv")) // .txt filtered out
    assert(got("a.csv") == 8L && got("b.csv") == 4L)
    // composes with ordinary operators: total bytes via agg
    assert(listing.agg(sum("size")).head().getLong(0) == 12L)
  }

  test("permissions get/set through the FS") {
    val (dir, _) = scratch()
    Files.write(java.nio.file.Paths.get(dir, "f.dat"), "x".getBytes)
    val src = HdfsSource(dir + "/f.dat")
    src.setPermissions(spark, new FsPermission("600"))
    val perms = src.permissions(spark)
    assert(perms.size == 1 && perms.head._2 == new FsPermission("600"))
  }

  test("HdfsOps.makePathVisible strips the leading dot; mkdirsp creates ancestors") {
    val (dir, fs) = scratch()
    Files.write(java.nio.file.Paths.get(dir, ".hidden.dat"), "x".getBytes)
    val visible = HdfsOps.makePathVisible(new Path(dir, ".hidden.dat"), fs)
    assert(visible.getName == "hidden.dat" && fs.exists(visible))
    assert(HdfsOps.mkdirsp(new Path(dir, "a/b/c"), fs))
    assert(fs.exists(new Path(dir, "a/b/c")))
    // findFiles recursive sees the visible file and nothing in empty dirs
    val found = HdfsOps.findFiles(new Path(dir), recursive = true, fs).map(_.getPath.getName).toSeq
    assert(found.contains("hidden.dat"))
  }

  test("HdfsOps.makePathVisible throws when the rename fails") {
    val (dir, fs) = scratch()
    Files.write(java.nio.file.Paths.get(dir, ".hidden.dat"), "x".getBytes)
    val refusing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val e = intercept[java.io.IOException](HdfsOps.makePathVisible(new Path(dir, ".hidden.dat"), refusing))
    assert(e.getMessage.contains(".hidden.dat") && e.getMessage.contains("/hidden.dat"), e.getMessage)
    assert(fs.exists(new Path(dir, ".hidden.dat")) && !fs.exists(new Path(dir, "hidden.dat")))
  }

  test("AclSpec translates to Hadoop ACL entries (HDFS-only op; local FS rejects)") {
    val e = HdfsSource("/tmp").toHadoopAcl(AclEntrySpec("user", "alice", "rw-"))
    assert(e.getType == AclEntryType.USER && e.getName == "alice"
      && e.getPermission == FsAction.READ_WRITE)
    assertThrows[IllegalArgumentException](
      HdfsSource("/tmp").toHadoopAcl(AclEntrySpec("mask", "x", "rwx")))
  }

  test("ParquetSink(maxRecordsPerFile) rolls output files at the record threshold") {
    val (dir, fs) = scratch()
    val out = dir + "/rolled"
    // 1000 rows in ONE partition; threshold 100 → task writer must roll ≥10 files
    ParquetSink(out, maxRecordsPerFile = Some(100L))
      .write(spark.range(1000).repartition(1).toDF("id"))
    val files = HdfsOps.findFiles(new Path(out), recursive = false, fs)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size >= 10, s"expected >=10 rolled files, got ${files.size}")
    files.foreach { f =>
      assert(spark.read.parquet(f).count() <= 100, s"file over threshold: $f")
    }
    assert(spark.read.parquet(out).count() == 1000)
  }
}
