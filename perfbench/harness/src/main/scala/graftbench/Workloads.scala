package graftbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.operators.{Graph, Pipeline, Search, Similarity}

/** One call in a workload's mix. `call` does whatever work the
  * operator does eagerly and returns its result; the harness then
  * forces the plan and collects the rows. `rowsIn` counts the rows of
  * the generated tables the op consumes. `oracle` marks a graft gate
  * query whose DuckDB oracle (`SparkEntry.oracleSql`) checks the
  * result; every other op must return the same result in every cycle.
  * `verify` marks a dedup op whose plan has a candidate-verify step. */
final case class Op(name: String, rowsIn: Long, call: Cycle => DataFrame,
                    oracle: Boolean = false, verify: Boolean = false)

/** Per-cycle context: the session, the corpus, and a fresh scratch
  * directory for the stores a cycle writes. An op that starts a
  * streaming query reports its id through `streamStarted`, so a traced
  * cycle can attribute the query's triggers. */
final class Cycle(val spark: SparkSession, val dir: String, val root: String) {
  var streamStarted: java.util.UUID => Unit = _ => ()
}

/** A check made after the timed phase, outside the timing; a failed
  * check fails every execution of `op`. */
final case class Check(name: String, op: String, ok: Boolean, detail: String)

/** A workload bound to one corpus directory. */
trait Instance {
  def ops: Seq[Op]
  /** Work a session pays for once per corpus: sealed bases and master
    * stores. Part of set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed per-cycle preparation (fresh stores to write into). */
  def beforeCycle(c: Cycle): Unit = ()
  /** Bytes of stores under the cycle's root, if the workload writes any. */
  def storeBytes(c: Cycle): Option[Long] = None
  /** Cross-checks against a full recomputation; `digests` maps op name
    * to the digest it gave in every cycle. */
  def checks(spark: SparkSession, digests: Map[String, Seq[Digest]]): Seq[Check] = Nil
}

final case class Workload(name: String, shuffled: Boolean,
                          bind: (String, Map[String, Long], Long) => Instance)

object Workloads {
  private def rows(m: Map[String, Long], tables: String*): Long = tables.map(m).sum

  private def gates(m: Map[String, Long], spec: Seq[(String, Seq[String])],
                    verify: Set[String] = Set.empty): Seq[Op] =
    spec.map { case (q, tables) =>
      Op(q, rows(m, tables: _*), c => SparkEntry.queries(q)(c.spark, c.dir),
        oracle = true, verify = verify(q))
    }

  val relational: Workload = Workload("relational", shuffled = true, (dir, m, _) =>
    new Instance {
      val ops: Seq[Op] = gates(m, Seq(
        "q1_pricing_summary" -> Seq("lineitem"),
        "q3_shipping_priority" -> Seq("customer", "orders", "lineitem"),
        "q5_nation_revenue" -> Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
        "q7_nation_trade" -> Seq("supplier", "lineitem", "orders", "customer", "nation"),
        "q9_nation_profit" -> Seq("lineitem", "orders", "supplier", "nation"),
        "q10_returned_items" -> Seq("customer", "orders", "lineitem"),
        "q18_large_orders" -> Seq("customer", "orders", "lineitem"),
        "q21_waiting_suppliers" -> Seq("supplier", "lineitem", "orders")))
    })

  val dedupSearch: Workload = Workload("dedup_search", shuffled = true, (dir, m, _) =>
    new Instance {
      val ops: Seq[Op] = gates(m, Seq(
        "dedup_minhash" -> Seq("documents"),
        "dedup_simhash" -> Seq("documents"),
        "dedup_keeplist" -> Seq("documents"),
        "text_bm25" -> Seq("documents"),
        "text_classify" -> Seq("documents"),
        "sim_ivf_topk" -> Seq("embeddings")),
        verify = Set("dedup_minhash", "dedup_simhash"))
    })

  /** PageRank at 6 iterations crosses the operator's every-5th-round
    * checkpoint; the other three are the gate queries over the same
    * sealed purchase and burst graphs. */
  val graphIter: Workload = Workload("graph_iter", shuffled = true, (dir, m, _) =>
    new Instance {
      val ops: Seq[Op] =
        Op("pagerank_6", rows(m, "lineitem", "orders"), c => {
          val base = Tables.purchaseBase(c.spark, c.dir).select(col("c"), col("p"))
          val edges = base.select(col("c").as("src"), col("p").as("dst"))
            .union(base.select(col("p").as("src"), col("c").as("dst")))
          Graph.pagerank(edges, "src", "dst", iters = 6)
        }) +: gates(m, Seq(
          "graph_ppr" -> Seq("lineitem", "orders"),
          "graph_concomp" -> Seq("orders"),
          "graph_labelprop" -> Seq("lineitem", "orders")))

      override def prepare(spark: SparkSession): Unit = {
        Tables.purchaseBase(spark, dir)
        Tables.burstPairs(spark, dir)
      }
    })

  val corpusIngest: Workload = Workload("corpus_ingest", shuffled = false, Ingest.bind)

  val all: Seq[Workload] = Seq(relational, dedupSearch, graphIter, corpusIngest)
}

/** The write side. Each cycle writes a corpus state from the first
  * part of the documents, ingests the rest through the corpus stream as
  * two micro-batches, deletes documents from a postings index and
  * compacts it, and appends the last part of the vectors to an IVF
  * index. The postings index (all documents) and the IVF index (the
  * first part of the vectors) are master stores built once in set-up
  * and copied into each cycle.
  * Doc ids are dense, so "the first part" is an id range and every
  * batch holds only ids larger than the state's, as the incremental
  * contract requires. The seed picks the split points and the deleted
  * ids. */
object Ingest {
  private val Terms = Seq("spark", "join", "window")
  private val Shards = 8
  private val Dim = 64

  final case class Split(base: Long, stream1: Long, docs: Long,
                         vecBase: Long, vecs: Long, deleteMod: Int)

  def split(seed: Long, docs: Long, vecs: Long): Split = {
    val r = new scala.util.Random(seed)
    val base = (docs * (0.70 + 0.10 * r.nextDouble())).toLong
    val stream1 = base + ((docs - base) * (0.40 + 0.20 * r.nextDouble())).toLong
    Split(base, stream1, docs, (vecs * (0.70 + 0.10 * r.nextDouble())).toLong,
      vecs, r.nextInt(10))
  }

  def bind(dir: String, m: Map[String, Long], seed: Long): Instance = new Instance {
    val s: Split = split(seed, m("documents"), m("embeddings"))
    var master: String = _
    var centroids: Array[Double] = _

    def docs(spark: SparkSession, from: Long, to: Long): DataFrame =
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") >= from && col("doc_id") < to)
    def vecs(spark: SparkSession, from: Long, to: Long): DataFrame =
      Tables.embeddings(spark, dir).filter(col("vec_id") >= from && col("vec_id") < to)

    def path(c: Cycle, name: String): String = s"${c.root}/$name"

    val ops: Seq[Op] = Seq(
      Op("state_write", s.base, c =>
        Pipeline.writeCorpusState(docs(c.spark, 0, s.base), "doc_id", "text",
          path(c, "state"), nShards = Shards)),
      Op("crawl_stream", s.docs - s.base, c => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val crawl = c.spark.readStream
          .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
          .parquet(path(c, "crawl"))
        val q = graft.streaming.StreamOps.corpusStream(crawl, path(c, "state"), "doc_id", "text",
          checkpoint = path(c, "ckpt"), nShards = Shards).start()
        c.streamStarted(q.id)
        try {
          q.processAllAvailable()
          // the second micro-batch arrives: its files move into the crawl directory
          new File(path(c, "crawl_next")).listFiles().filter(_.getName.endsWith(".parquet"))
            .foreach(f => FileUtils.moveFileToDirectory(f, new File(path(c, "crawl")), false))
          q.processAllAvailable()
        } finally q.stop()
        c.spark.read.parquet(s"${path(c, "state")}/export")
      }),
      Op("postings_compact", (0L until s.docs).count(_ % 10 == s.deleteMod).toLong, c => {
        Search.deleteFromPostingsIndex(c.spark, path(c, "postings"),
          docs(c.spark, 0, s.docs).filter(col("doc_id") % 10 === s.deleteMod), "doc_id")
        Search.compactPostingsIndex(c.spark, path(c, "postings"))
        Search.queryPostingsIndex(c.spark, path(c, "postings"), "doc_id", Terms, k = 10)
      }),
      Op("ivf_append", s.vecs - s.vecBase, c => {
        Similarity.appendIvfIndex(vecs(c.spark, s.vecBase, s.vecs), path(c, "ivf"),
          centroids, "embedding", Dim, batchId = "crawl")
        Similarity.queryIvfIndex(c.spark, path(c, "ivf"), centroids,
          Tables.embeddings(c.spark, dir).filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "vec_id", "embedding", "qid", "qvec", k = 5, dim = Dim)
      }))

    override def prepare(spark: SparkSession): Unit = {
      master = java.nio.file.Files.createTempDirectory("graftbench_master").toString
      Search.buildPostingsIndex(docs(spark, 0, s.docs), s"$master/postings", "doc_id", "text")
      centroids = Similarity.buildIvfIndex(vecs(spark, 0, s.vecBase), s"$master/ivf",
        "vec_id", "embedding", dim = Dim)
    }

    override def beforeCycle(c: Cycle): Unit = {
      Seq("postings", "ivf").foreach(n =>
        FileUtils.copyDirectory(new File(s"$master/$n"), new File(path(c, n))))
      docs(c.spark, s.base, s.stream1).write.parquet(path(c, "crawl"))
      docs(c.spark, s.stream1, s.docs).write.parquet(path(c, "crawl_next"))
    }

    override def storeBytes(c: Cycle): Option[Long] =
      Some(Seq("state", "ckpt", "postings", "ivf").map(n => sizeOf(new File(path(c, n)))).sum)

    override def checks(spark: SparkSession, digests: Map[String, Seq[Digest]]): Seq[Check] = {
      def digest(df: DataFrame) = Digest.of(df.schema, df.collect())
      // replay == rebuild: the export after both micro-batches equals a
      // full prepareCorpus over the state's documents plus both batches
      val rebuild = digest(Pipeline.prepareCorpus(docs(spark, 0, s.docs), "doc_id", "text",
        nShards = Shards))
      // delete-then-compact equals BM25 over the surviving documents
      val survivors = docs(spark, 0, s.docs).filter(col("doc_id") % 10 =!= s.deleteMod)
      val bm25 = digest(Search.bm25TopK(survivors, "doc_id", "text", Terms, k = 10))
      Seq(Check("replay_equals_rebuild", "crawl_stream",
          digests("crawl_stream").forall(_ == rebuild), s"rebuild ${rebuild.rows} rows ${rebuild.hex}"),
        Check("compact_equals_bm25", "postings_compact",
          digests("postings_compact").forall(_ == bm25), s"bm25 ${bm25.rows} rows ${bm25.hex}"))
    }
  }

  def sizeOf(f: File): Long = if (f.exists()) FileUtils.sizeOfDirectory(f) else 0L
}
