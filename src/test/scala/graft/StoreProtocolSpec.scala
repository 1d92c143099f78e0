package graft

import graft.operators.{Search, Similarity, StoreProtocol}
import org.apache.hadoop.fs.Path

/** Protocol-level properties: atomic marker writes, the reserved
  * numeric batch-id space, legacy `stream<N>` ledger migration,
  * corrupt-marker loudness, and the shared directory swap. */
class StoreProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fs(path: String) = StoreProtocol.fsOf(spark, path)

  private def delta = Seq((1L, "spark join window")).toDF("doc_id", "text")

  test("manual append refuses numeric batch ids (reserved for stream twins); streamBatch opts out") {
    val p = tmpDir("graft_proto_manual")
    Search.buildPostingsIndex(delta, p, "doc_id", "text")
    val d2 = Seq((2L, "filter scan")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Search.appendPostingsIndex(d2, p, "doc_id", "text", batchId = "900")
    }
    assert(e.getMessage.contains("reserved for stream batches"))
    // the refusal happens at entry, before any mutation
    assert(!new java.io.File(s"$p/_commits/900").exists())
    // legacy stream<N> spelling is equally reserved
    val e2 = intercept[IllegalArgumentException] {
      Search.appendPostingsIndex(d2, p, "doc_id", "text", batchId = "stream900")
    }
    assert(e2.getMessage.contains("reserved for stream batches"))
    // a deliberate stream-style driver opts out and the append applies
    Search.appendPostingsIndex(d2, p, "doc_id", "text", batchId = "7", streamBatch = true)
    assert(new java.io.File(s"$p/_commits/7").exists())
  }

  test("IVF manual append refuses numeric batch ids too") {
    val p = tmpDir("graft_proto_ivf")
    val vecs = (1L to 4L).map(i => (i, Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val centroids = Similarity.buildIvfIndex(vecs, p, "vec_id", "embedding",
      dim = 4, nCentroids = 2)
    val d2 = Seq((9L, Seq.fill(4)(2.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(d2, p, centroids, "embedding", dim = 4, batchId = "42")
    }
    assert(e.getMessage.contains("reserved for stream batches"))
    Similarity.appendIvfIndex(d2, p, centroids, "embedding", dim = 4,
      batchId = "42", streamBatch = true)
    assert(new java.io.File(s"$p/_commits/42").exists())
  }

  test("legacy stream<N> markers and ledger entries fold into the numeric high-water mark") {
    val p = tmpDir("graft_proto_legacy")
    val f = fs(p)
    // a store written by the pre-r14 twin: markers named stream<N>
    StoreProtocol.markCommitted(f, p, "stream3")
    StoreProtocol.markCommitted(f, p, "stream5")
    StoreProtocol.foldMarkersIntoLedger(f, p)
    // after upgrade the twin passes plain numeric ids: a redelivered
    // in-flight batch <=5 must still be covered
    assert(StoreProtocol.wasApplied(f, p, "4"))
    assert(StoreProtocol.wasApplied(f, p, "5"))
    assert(!StoreProtocol.wasApplied(f, p, "6"))
    // and the legacy spelling itself stays covered
    assert(StoreProtocol.wasApplied(f, p, "stream5"))
    // a pre-upgrade ledger whose SET half holds stream<N> names (the
    // old fold treated them as non-numeric) migrates them to hw on
    // the next fold, so the set stays bounded
    val p2 = tmpDir("graft_proto_legacy2")
    val f2 = fs(p2)
    val out = f2.create(new Path(s"$p2/_applied"), true)
    out.write("2\nstream9\nmanualA".getBytes("UTF-8")); out.close()
    StoreProtocol.foldMarkersIntoLedger(f2, p2)
    val (hw, ids) = StoreProtocol.readLedger(f2, p2)
    assert(hw == 9L, s"legacy set entry must fold into hw, got $hw")
    assert(ids == Set("manualA"), s"migrated set must drop stream<N>, got $ids")
    assert(StoreProtocol.wasApplied(f2, p2, "8"))
    assert(StoreProtocol.wasApplied(f2, p2, "manualA"))
  }

  test("corrupt 3-line marker with non-numeric content fails as corrupt, not NumberFormatException") {
    val p = tmpDir("graft_proto_corrupt")
    val f = fs(p)
    f.mkdirs(new Path(s"$p/_commits"))
    val out = f.create(new Path(s"$p/_commits/b1"), true)
    out.write("garbage\nmore\nlines".getBytes("UTF-8")); out.close()
    val e = intercept[java.io.IOException] {
      StoreProtocol.requireSameReplay(f, p, "b1", (1L, 2L, 3L))
    }
    assert(e.getMessage.contains("corrupt"))
  }

  test("markCommitted is write-then-rename: no tmp debris, and tmp leftovers are not markers") {
    val p = tmpDir("graft_proto_atomic")
    val f = fs(p)
    // a crashed prior attempt left a tmp file; it must neither count
    // as a marker nor block the retry
    f.mkdirs(new Path(s"$p/_commits"))
    val stale = f.create(new Path(s"$p/_commits/_tmp-b1"), true)
    stale.write("1".getBytes("UTF-8")); stale.close()
    assert(!StoreProtocol.isCommitted(f, p, "b1"))
    StoreProtocol.foldMarkersIntoLedger(f, p)
    assert(!StoreProtocol.wasApplied(f, p, "b1"), "tmp debris must not reach the ledger")
    StoreProtocol.markCommitted(f, p, "b1", Some((2L, 30L, 40L)))
    assert(StoreProtocol.isCommitted(f, p, "b1"))
    assert(!f.exists(new Path(s"$p/_commits/_tmp-b1")), "tmp must be renamed away")
    // the sealed fingerprint is complete and verifiable
    StoreProtocol.requireSameReplay(f, p, "b1", (2L, 30L, 40L))
    val e = intercept[java.io.IOException] {
      StoreProtocol.requireSameReplay(f, p, "b1", (3L, 30L, 40L))
    }
    assert(e.getMessage.contains("DIFFERENT content"))
  }

  private def writeDir(f: org.apache.hadoop.fs.FileSystem, dir: Path, body: String): Unit = {
    val out = f.create(new Path(dir, "part"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readDir(f: org.apache.hadoop.fs.FileSystem, dir: Path): String = {
    val in = f.open(new Path(dir, "part"))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("swap killed at every step boundary repairs to exactly the old or the new copy") {
    val root = tmpDir("graft_proto_swap")
    val f = fs(root)
    val names = StoreProtocol.swapSteps(f, new Path(s"$root/probe"),
      new Path(s"$root/probe__staging"), "t").map(_._1)
    assert(names == Seq("t-aside", "t-swap-in", "t-drop-old"))
    (0 to names.length).foreach { k =>
      val live = new Path(s"$root/k$k")
      val staging = new Path(s"$root/k${k}__staging")
      writeDir(f, live, "old")
      writeDir(f, staging, "new")
      StoreProtocol.swapSteps(f, live, staging, "t").take(k).foreach(_._2())
      StoreProtocol.repairSwap(f, live)
      // the old copy until the swap-in step ran, the new one after it
      assert(readDir(f, live) == (if (k >= 2) "new" else "old"), s"crash after $k steps")
      assert(!f.exists(StoreProtocol.aside(live)), s"crash after $k steps: aside copy left")
    }
  }

  test("a swap rename that returns false throws and leaves the old copy live") {
    val root = tmpDir("graft_proto_swapfail")
    val f = fs(root)
    val live = new Path(s"$root/t")
    val staging = new Path(s"$root/t__staging")
    writeDir(f, live, "old")
    writeDir(f, staging, "new")
    def failing(fails: Path => Boolean) = new org.apache.hadoop.fs.FilterFileSystem(f) {
      override def rename(src: Path, dst: Path): Boolean = !fails(src) && super.rename(src, dst)
    }
    // the aside rename fails: nothing moved
    intercept[java.io.IOException](StoreProtocol.swap(failing(_ => true), live, staging))
    assert(readDir(f, live) == "old")
    // the swap-in rename fails: the aside copy is put back before the throw
    intercept[java.io.IOException](StoreProtocol.swap(failing(_ == staging), live, staging))
    assert(readDir(f, live) == "old" && !f.exists(StoreProtocol.aside(live)))
    // the repair's restore rename fails on a torn swap
    assert(f.rename(live, StoreProtocol.aside(live)))
    intercept[java.io.IOException](StoreProtocol.repairSwap(failing(_ => true), live))
    StoreProtocol.repairSwap(f, live)
    assert(readDir(f, live) == "old")
  }
}
