package graft

import graft.core.Gds
import graft.operators.Compact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line surface (reference: eel-cli — ShowSchemaMain,
  * StreamMain, AnalyzeMain; spec/applyspec re-express
  * eel-cli/src/main/scala/io/eels/cli/FetchSpecMain.scala:1 and
  * ApplySpecMain.scala:1 — dump a table's spec as JSON / create a
  * table from a dumped spec). Subcommands:
  *
  *   schema    <path> [format]
  *   analyze   <path> [format]          — rows / files / per-column stats
  *   copy      <in> <informat> <out> <outformat> [projection a,b] [filter expr] [limit n]
  *   compact   <path> <targetFileCount> [format]
  *   spec      <path> [format]          — table spec as round-trippable JSON
  *   applyspec <specFile> <path> [format] — create an EMPTY table from a spec
  *
  * `run` returns the printed output so tests can drive it without a
  * process boundary; `main` wires a session around it.
  */
object Cli {

  private def read(spark: SparkSession, path: String, format: String): DataFrame =
    format match {
      case "parquet" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case "json" => spark.read.json(path)
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case "avro" => graft.sources.AvroSource(path).read(spark)
      case "sequence" => graft.sources.SequenceSource(path).read(spark)
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }

  private def write(df: DataFrame, path: String, format: String): Unit = format match {
    case "parquet" => graft.sources.ParquetSink(path).write(df)
    case "orc" => graft.sources.OrcSink(path).write(df)
    case "json" => graft.sources.JsonSink(path).write(df)
    case "csv" => graft.sources.CsvSink(path).write(df)
    case "avro" => graft.sources.AvroSink(path).write(df)
    case "sequence" => graft.sources.SequenceSink(path).write(df)
    case other => throw new IllegalArgumentException(s"unknown format $other")
  }

  def run(spark: SparkSession, args: Seq[String]): String = args.toList match {
    case "schema" :: path :: rest =>
      read(spark, path, rest.headOption.getOrElse("parquet")).schema.treeString

    case "analyze" :: path :: rest =>
      val df = read(spark, path, rest.headOption.getOrElse("parquet"))
      // one aggregate pass: total count + a null count per column
      val aggs = count(lit(1)).as("__n") +:
        df.schema.fields.map(f => count(when(col(f.name).isNull, 1)).as(s"__null_${f.name}"))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val stats = df.schema.fields.zipWithIndex.map { case (f, i) =>
        s"${f.name} ${f.dataType.simpleString} nulls=${row.getLong(i + 1)}"
      }
      (s"rows=${row.getLong(0)}" +: stats).mkString("\n")

    case "copy" :: in :: inFmt :: out :: outFmt :: rest =>
      var ds = Gds(read(spark, in, inFmt))
      rest.grouped(2).foreach {
        case Seq("projection", fields) => ds = ds.projection(fields.split(',').toSeq)
        case Seq("filter", e) => ds = Gds(ds.toDF.filter(expr(e)))
        case Seq("limit", n) => ds = Gds(ds.toDF.limit(n.toInt))
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
      write(ds.toDF, out, outFmt)
      s"copied ${read(spark, out, outFmt).count()} rows to $out"

    case "compact" :: path :: target :: rest =>
      val orig = Compact.compactTo(spark, path, target.toInt, rest.headOption.getOrElse("parquet"))
      s"compacted $orig files to ${target.toInt}"

    case "spec" :: path :: rest =>
      // StructType.prettyJson round-trips via DataType.fromJson — the
      // applyspec input format (names, types, nullability, metadata)
      read(spark, path, rest.headOption.getOrElse("parquet")).schema.prettyJson

    case "applyspec" :: specFile :: path :: rest =>
      val fmt = rest.headOption.getOrElse("parquet")
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(specFile)), java.nio.charset.StandardCharsets.UTF_8)
      org.apache.spark.sql.types.DataType.fromJson(json) match {
        case schema: org.apache.spark.sql.types.StructType =>
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          write(empty, path, fmt)
          s"created empty $fmt table at $path with ${schema.fields.length} columns"
        case other =>
          s"error: spec must be a struct schema (StructType.prettyJson), got ${other.typeName}"
      }

    case other =>
      s"""usage: schema|analyze|copy|compact|spec|applyspec ... (got: ${other.mkString(" ")})
         |  schema    <path> [format]
         |  analyze   <path> [format]
         |  copy      <in> <informat> <out> <outformat> [projection a,b] [filter expr] [limit n]
         |  compact   <path> <targetFileCount> [format]
         |  spec      <path> [format]
         |  applyspec <specFile> <path> [format]""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, args.toIndexedSeq))
    spark.stop()
  }
}
