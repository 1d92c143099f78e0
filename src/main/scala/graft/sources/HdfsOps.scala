package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.{AclEntry, AclEntryScope, AclEntryType, FsAction, FsPermission}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Filesystem utility surface of eel's HdfsOps (reference:
  * eel-core/src/main/scala/io/eels/HdfsOps.scala:1-21), on the Hadoop
  * FS API — works against whatever FS the session's hadoopConfiguration
  * resolves (local in this image, HDFS/S3A on a cluster unchanged). */
object HdfsOps {

  /** Strip a leading '.' (the in-progress marker convention) so the
    * file becomes visible to readers. Returns the new path, or the
    * original when it was already visible; a failed rename throws. */
  def makePathVisible(path: Path, fs: FileSystem): Path =
    if (path.getName.startsWith(".")) {
      val dest = new Path(path.getParent, path.getName.drop(1))
      if (!fs.rename(path, dest)) throw new java.io.IOException(s"rename $path -> $dest failed")
      dest
    } else path

  /** All files under `path`, optionally recursive. */
  def findFiles(path: Path, recursive: Boolean, fs: FileSystem): Iterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val it = fs.listFiles(path, recursive)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
  }

  /** mkdir -p: create every missing ancestor. */
  def mkdirsp(path: Path, fs: FileSystem): Boolean = fs.mkdirs(path)
}

/** One ACL entry in eel's AclSpec shape (reference:
  * eel-core/src/main/scala/io/eels/component/hdfs/AclSpec.scala):
  * `type` is user/group/other, `action` an rwx triplet like "rw-". */
final case class AclEntrySpec(`type`: String, name: String, action: String)
final case class AclSpec(entries: Seq[AclEntrySpec])

/** eel HdfsSource (reference:
  * eel-core/src/main/scala/io/eels/component/hdfs/HdfsSource.scala:1-40):
  * a FilePattern over a filesystem, exposing the LISTING as the data —
  * permissions, block locations, ACLs — rather than file contents.
  *
  * graft adds `listing()`: the file metadata as a DataFrame
  * (path/name/size/mtime/permission/replication/blocks), so listings
  * compose with every Gds/SQL operator — filter by mtime, aggregate
  * bytes by directory, anti-join against a manifest. The listing is
  * driver-built (same as Spark's own file index — metadata scale, not
  * data scale) and then distributed.
  *
  * HdfsWatcher (reference .../hdfs/HdfsWatcher.scala:1-62) is
  * DEFERRED: it rides HDFS inotify (HdfsAdmin.getInotifyEventStream),
  * which requires a namenode — no such service in this image, and
  * Structured Streaming's file source covers the
  * new-file-triggers-processing use case natively (SURVEY §2.4). */
final case class HdfsSource(pattern: FilePattern) {

  private def fs(spark: SparkSession): FileSystem =
    new Path(pattern.pattern).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The file listing as a relation. */
  def listing(spark: SparkSession): DataFrame = {
    val f = fs(spark)
    val rows = pattern.toPaths(spark).map { p =>
      val st = f.getFileStatus(new Path(p))
      Row(p, st.getPath.getName, st.getLen, st.getModificationTime,
        st.getPermission.toString, st.getReplication.toInt, st.getBlockSize)
    }
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("mtime", LongType, nullable = false),
      StructField("permission", StringType, nullable = false),
      StructField("replication", IntegerType, nullable = false),
      StructField("block_size", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  def permissions(spark: SparkSession): Seq[(Path, FsPermission)] = {
    val f = fs(spark)
    pattern.toPaths(spark).map(new Path(_)).map(f.getFileStatus)
      .map(st => (st.getPath, st.getPermission))
  }

  def setPermissions(spark: SparkSession, permission: FsPermission): Unit = {
    val f = fs(spark)
    pattern.toPaths(spark).foreach(p => f.setPermission(new Path(p), permission))
  }

  def blocks(spark: SparkSession): Map[Path, Seq[org.apache.hadoop.fs.BlockLocation]] = {
    val f = fs(spark)
    pattern.toPaths(spark).map(new Path(_)).map { p =>
      p -> f.getFileBlockLocations(p, 0, f.getFileStatus(p).getLen).toSeq
    }.toMap
  }

  /** Set an access ACL on every matched file. Requires an ACL-capable
    * FS (HDFS; the local FS in this image throws
    * UnsupportedOperationException — exercised for the translation
    * logic in the spec). */
  def setAcl(spark: SparkSession, spec: AclSpec): Unit = {
    val f = fs(spark)
    val entries = spec.entries.map(toHadoopAcl).asJava
    pattern.toPaths(spark).foreach(p => f.setAcl(new Path(p), entries))
  }

  private[graft] def toHadoopAcl(e: AclEntrySpec): AclEntry = {
    val t = e.`type`.toLowerCase match {
      case "user" => AclEntryType.USER
      case "group" => AclEntryType.GROUP
      case "other" => AclEntryType.OTHER
      case other => throw new IllegalArgumentException(s"unknown acl type $other")
    }
    new AclEntry.Builder().setName(e.name).setPermission(FsAction.getFsAction(e.action))
      .setType(t).setScope(AclEntryScope.ACCESS).build()
  }
}

object HdfsSource {
  def apply(path: String): HdfsSource = HdfsSource(FilePattern(path))
}
