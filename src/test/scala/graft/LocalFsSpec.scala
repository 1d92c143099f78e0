package graft

import graft.operators.{Pipeline, StoreProtocol}
import graft.sources.{FilePattern, HdfsSource}
import graft.streaming.StreamOps
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** graft's local filesystem: store writes, swaps and stream checkpoints
  * fork no process through Hadoop's `Shell`, and modes and link status
  * read the same as through Hadoop's own local filesystem. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val local = new URI("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString
  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & oct("7777")

  test("the session's file: FileSystem and FileContext are graft's") {
    assert(FileSystem.get(local, conf).getClass == classOf[graft.sources.LocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ==
      classOf[graft.sources.LocalFs])
  }

  test("a partitioned write, a store swap and a two-batch corpusStream fork no Shell process") {
    val base = tmpDir("graft_localfs_forks")
    Seq(1).toDF("x").write.parquet(s"$base/warm") // one-time class set-up, outside the recording
    val rows = (1 to 40).map(i => (i.toLong, i % 4, s"row $i")).toDF("id", "part", "text")
    val docs = Seq(
      Seq(10L -> "alpha beta gamma delta epsilon zeta eta theta",
          20L -> "one two three four five six seven eight"),
      Seq(100L -> "beta alpha gamma delta epsilon zeta eta theta",
          110L -> "lorem ipsum dolor sit amet consectetur adipiscing elit"),
      Seq(200L -> "elit adipiscing consectetur amet sit dolor ipsum lorem",
          210L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .map(_.toDF("doc_id", "text"))
    val in = s"$base/in"
    val (_, forks) = Diag.shellForks {
      rows.write.partitionBy("part").parquet(s"$base/parts")
      val fs = StoreProtocol.fsOf(spark, base)
      rows.write.parquet(s"$base/t")
      rows.filter($"part" === 0).write.parquet(s"$base/t__staging")
      StoreProtocol.swap(fs, new Path(s"$base/t"), new Path(s"$base/t__staging"))
      Pipeline.writeCorpusState(docs.head, "doc_id", "text", s"$base/state", nShards = 2,
        minTokens = 1, minStopwordRatio = 0.0, maxRepetition = 2.0)
      docs.tail.foreach(_.coalesce(1).write.mode("append").parquet(in))
      val q = StreamOps.corpusStream(
        StreamOps.parquetStream(spark, in, docs.head.schema, maxFilesPerTrigger = 1),
        s"$base/state", "doc_id", "text", s"$base/ckpt", nShards = 2, minTokens = 1,
        minStopwordRatio = 0.0, maxRepetition = 2.0).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(new java.io.File(s"$base/ckpt/commits/1").exists(), "the stream ran two batches")
    assert(spark.read.parquet(s"$base/t").count() == 10L)
    assert(spark.read.parquet(s"$base/state/export").select("doc_id").as[Long].collect().toSet ==
      Set(10L, 20L, 110L, 210L))
    assert(forks == 0)
  }

  test("new files are 644 and dirs 755; chmod round-trips; a sticky bit applies through Hadoop's fallback") {
    val base = tmpDir("graft_localfs_modes")
    Seq(1).toDF("x").write.parquet(s"$base/t")
    val part = new java.io.File(s"$base/t").listFiles().map(_.getName).find(_.endsWith(".parquet")).get
    assert(mode(s"$base/t/$part") == oct("644"))
    assert(mode(s"$base/t/.$part.crc") == oct("644"))
    assert(mode(s"$base/t") == oct("755"))
    val fs = FileSystem.get(local, conf)
    val file = new Path(s"$base/t/$part")
    fs.setPermission(file, new FsPermission("600"))
    assert(mode(file.toString) == oct("600") && fs.getFileStatus(file).getPermission == new FsPermission("600"))
    val (_, forks) = Diag.shellForks(fs.setPermission(new Path(s"$base/t"), new FsPermission("1777")))
    assert(mode(s"$base/t") == oct("1777") && forks == 1)
    intercept[java.io.IOException](fs.setPermission(new Path(s"$base/none"), new FsPermission("600")))
  }

  test("permission, owner and group read as Hadoop's, and a listing of five files forks no Shell process") {
    val base = tmpDir("graft_localfs_owner")
    (1 to 5).foreach(i => Files.write(Paths.get(base, s"f$i.txt"), s"$i".getBytes))
    val fs = FileSystem.get(local, conf)
    val sticky = new Path(s"$base/sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, new FsPermission("1777"))
    val hadoop = new org.apache.hadoop.fs.RawLocalFileSystem
    hadoop.initialize(local, conf)
    def ownership(st: org.apache.hadoop.fs.FileStatus) = (st.getPermission, st.getOwner, st.getGroup)
    for (p <- Seq(new Path(s"$base/f1.txt"), new Path(base), sticky))
      assert(ownership(fs.getFileStatus(p)) == ownership(hadoop.getFileStatus(p)), p)
    assert(fs.getFileStatus(sticky).getPermission.getStickyBit)
    val src = HdfsSource(FilePattern(base).withFilter(".*\\.txt".r))
    val ((listed, perms), forks) = Diag.shellForks((src.listing(spark).collect(), src.permissions(spark)))
    assert(listed.length == 5 && perms.length == 5)
    assert(forks == 0)
    perms.foreach { case (p, perm) => assert(perm == hadoop.getFileStatus(p).getPermission, p) }
  }

  test("getFileLinkStatus reports a real symlink as the link and a plain file as itself") {
    val base = tmpDir("graft_localfs_links")
    val target = Paths.get(base, "target.txt")
    Files.write(target, "x".getBytes)
    val link = Files.createSymbolicLink(Paths.get(base, "link.txt"), target)
    val fs = FileSystem.get(local, conf)
    val fc = FileContext.getFileContext(local, conf)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)), fc.getFileLinkStatus(new Path(link.toString))))
      assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString, st)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
    // a FileContext rename (the checkpoint logs' commit) looks up both link statuses
    fc.rename(new Path(target.toString), new Path(s"$base/moved.txt"))
    assert(!Files.exists(target) && Files.readAllBytes(Paths.get(base, "moved.txt")).sameElements("x".getBytes))
  }
}
