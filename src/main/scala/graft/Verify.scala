package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Representation-portability gate (closes the r10 corpus_manifest
    * defect CLASS, not just the instance): every dumped column must
    * either be integral/string/bool/date/timestamp/binary — exact in
    * every engine — or hold only values with |v| < 2^53, the largest
    * range float64 carries exactly. A dump that violates this can
    * hash differently in any harness that routes one side through
    * float64 and the other through an exact decimal path, even when
    * both engines agree mathematically. Arrays and structs are
    * checked element-/field-wise. Throws naming the query+column. */
  def assertPortable(df: DataFrame, name: String): Unit = {
    val limit = 9007199254740992d // 2^53
    def bad(c: Column, dt: DataType): Option[(String, Column)] = dt match {
      case DoubleType | FloatType | _: DecimalType =>
        Some(dt.simpleString -> (abs(c.cast("double")) >= lit(limit)))
      case ArrayType(et, _) =>
        bad(lit(0), et).map { case (lbl, _) =>
          s"array<$lbl>" -> exists(c, x => bad(x, et).get._2) }
      case st: StructType =>
        val inner = st.fields.toSeq.flatMap(f => bad(c.getField(f.name), f.dataType))
        inner.map(_._2).reduceOption(_ || _).map(p => "struct" -> p)
      case MapType(kt, vt, _) =>
        // keys AND values: a non-exact map key escaping here is the
        // same defect class as a column value
        val parts = Seq(
          bad(lit(0), kt).map { case (lbl, _) =>
            s"mapkey<$lbl>" -> exists(map_keys(c), x => bad(x, kt).get._2) },
          bad(lit(0), vt).map { case (lbl, _) =>
            s"map<$lbl>" -> exists(map_values(c), x => bad(x, vt).get._2) }).flatten
        parts.map(_._2).reduceOption(_ || _)
          .map(p => parts.map(_._1).mkString("+") -> p)
      case _ => None // integral/string/bool/date/timestamp/binary: exact everywhere
    }
    val perCol = df.schema.fields.toSeq.flatMap { f =>
      bad(col(f.name), f.dataType).map { case (lbl, p) =>
        (f.name, lbl, coalesce(p, lit(false))) }
    }
    if (perCol.nonEmpty) {
      val hit = df.filter(perCol.map(_._3).reduce(_ || _)).limit(1)
        .select(perCol.map { case (n, _, p) => p.as(n) }: _*).collect()
      if (hit.nonEmpty) {
        val cols = perCol.zipWithIndex.collect {
          case ((n, lbl, _), i) if hit(0).getBoolean(i) => s"$n ($lbl)" }
        throw new IllegalStateException(
          s"[portability] $name dumps |value| >= 2^53 in non-exact column(s) " +
          s"${cols.mkString(", ")} — re-encode (string / hi-lo lanes / mod < 2^53)")
      }
    }
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing query names restrict the dump (and the emitted
    // oracle/query lists, so tools/check.py checks just the subset) —
    // the driver passes exactly two args, so its contract is unchanged
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else {
        val unknown = only -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(only).toMap
      }
    // the ENGINE session (GraftSession.builder) so correctness is
    // verified under exactly the configs the bench runs with (r15:
    // Verify had drifted — no AQE, no join-strategy configs)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // portability gate runs on the READ-BACK dump (exactly what
        // the driver hashes); on violation the dump is removed so
        // check.py flags the query as missing rather than comparing
        // a value no representation carries exactly
        try assertPortable(spark.read.parquet(s"$outDir/$name"), name)
        catch { case e: Throwable =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
          throw e
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full query list so checkers can flag rows-only queries whose dump
    // is missing (a failed query writes nothing)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
