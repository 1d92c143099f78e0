package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction (reference:
  * eel-hive/src/main/scala/io/eels/component/hive/Compactor.scala —
  * read table, rewrite with target parallelism, delete originals).
  *
  * Spark-first: read the directory, `repartition(targetFileCount)`,
  * write to a sibling temp dir, then swap it in with
  * [[StoreProtocol.swap]] — the original data is never deleted until
  * the compacted copy is in place. A crash between the swap's two
  * renames leaves the original only under its aside name; the next
  * compaction's entry [[StoreProtocol.repairSwap]] restores it before
  * anything reads `path`. The long-tail of tiny files is THE chronic
  * 100 TB ingest problem — compaction keeps scan task counts sane and
  * parquet row groups full. Returns the original file count. */
object Compact {

  def compactTo(spark: SparkSession, path: String, targetFileCount: Int,
                format: String = "parquet"): Int = {
    val hPath = new Path(path)
    val fs = StoreProtocol.fsOf(spark, path)
    StoreProtocol.repairSwap(fs, hPath)
    val originals = fs.listStatus(hPath).filterNot(_.getPath.getName.startsWith("_"))
    val tmp = new Path(hPath.getParent, hPath.getName + "__compacting")
    fs.delete(tmp, true)
    spark.read.format(format).load(path)
      .repartition(targetFileCount)
      .write.format(format).save(tmp.toString)
    StoreProtocol.swap(fs, hPath, tmp)
    originals.length
  }

  /** Byte-size-targeted compaction — the missing half of eel's
    * RollingParquetWriter contract (reference: eel-core .../parquet/
    * RollingParquetWriter.scala rolls on maxFileSize bytes; Spark task
    * writers only roll on maxRecordsPerFile, a record-COUNT proxy).
    * Spark cannot target output bytes a priori (encoded size isn't
    * known until written), but a post-write pass can: measure the
    * directory's actual bytes, derive the file count that lands each
    * file at ~`targetFileSizeBytes`, and rewrite via [[compactTo]]'s
    * crash-safe swap. Two jobs total — a 100 TB-safe pattern because
    * both the measure (a file listing) and the rewrite (one shuffle)
    * are distributed; compression ratio drift between the two passes
    * is bounded by the data's own self-similarity, which is what every
    * size-targeted table-maintenance job (e.g. lakehouse OPTIMIZE)
    * accepts. Returns (originalFileCount, newFileCount). */
  def compactToSize(spark: SparkSession, path: String, targetFileSizeBytes: Long,
                    format: String = "parquet"): (Int, Int) = {
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    val hPath = new Path(path)
    val fs = StoreProtocol.fsOf(spark, path)
    StoreProtocol.repairSwap(fs, hPath)
    val dataFiles = fs.listStatus(hPath).filterNot(_.getPath.getName.startsWith("_"))
    // Flat-directory contract: a partitioned tree (subdirs only) would
    // measure ~0 bytes and silently flatten everything into one file —
    // fail loudly instead (compactTo's rewrite would also discard the
    // partitioning, so rejecting the layout is the correct semantic).
    require(dataFiles.exists(_.isFile),
      s"$path contains no regular data files — compactToSize requires a flat (non-partitioned) directory")
    val totalBytes = dataFiles.filter(_.isFile).map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    val before = compactTo(spark, path, n, format)
    (before, n)
  }
}
