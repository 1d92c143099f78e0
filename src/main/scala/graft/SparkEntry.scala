package graft

import graft.core.Gds
import graft.functions.{HllAggregate, PiiFunctions => P, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Cluster, Dedup, Pipeline, Quality, Quantize, Search, Similarity, TimeSeries}
import graft.multimodal.Multimodal
import graft.sql.GraftSqlContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract: every operator in SURVEY.md §2 has a `queries`
  * entry; SQL-expressible ones also have a DuckDB `oracleSql` entry
  * with identical column names/aliases (the driver sorts columns by
  * name and hash-compares values).
  *
  * Result-stability discipline (distributed engine vs single-node
  * oracle): every query ends in an ORDER-BY-free but *deterministic*
  * relation — aggregates keyed by group, or explicitly ranked rows —
  * and money/ratio floats are rounded on BOTH sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** A gate query by name, else the production twin of that name; an
    * unknown name fails listing every valid one. */
  def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, perfQueries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; valid names: " +
        (queries.keys ++ perfQueries.keys).toSeq.sorted.mkString(", "))))

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Order-independent money sum: per-row cast to decimal (exact,
    * deterministic on both engines for non-boundary doubles), exact
    * decimal addition, then round — float sums differ across partition
    * orders by ~n·ulp, which occasionally lands a .xx5 boundary on one
    * engine only. SQL twin: [[dsumSql]]. */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(c.cast(DecimalType(18, 6))), 2).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 DataStream transforms -----------------------------------
    "ds_projection" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem")).projection("l_orderkey", "l_quantity", "l_extendedprice").toDF),

    "ds_filter" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem"))
        .filter(col("l_quantity") > 30)
        .filterNot(col("l_returnflag") === "A")
        .filter("l_discount", _ <= 0.05)
        .projection("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_discount").toDF),

    "ds_map" -> ((s, dir) =>
      Gds(t(s, dir, "part"))
        .mapField("p_name", upper _)
        // *2 is exact in binary floating point — a round(c*1.1, 2) here
        // would sit on .xx5 half-boundaries that Spark and DuckDB round
        // differently (see SURVEY §5 float rules)
        .mapField("p_retailprice", c => c * 2)
        .projection("p_partkey", "p_name", "p_retailprice").toDF),

    "ds_addfield" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem"))
        // unrounded: per-row IEEE product is bit-identical across engines,
        // while round() on a .xx5 boundary is not (Spark rounds the shortest
        // decimal repr, DuckDB the binary value)
        .addField("net_price", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .addFieldIfNotExists("l_quantity", 0.0) // no-op: exists
        .addFieldIfNotExists("source_tag", "graft")
        .projection("l_orderkey", "l_linenumber", "net_price", "source_tag").toDF),

    "ds_renamefield" -> ((s, dir) =>
      Gds(t(s, dir, "region"))
        .renameField("r_name", "region_name")
        .projection("r_regionkey", "region_name").toDF),

    "ds_dropfield" -> ((s, dir) =>
      Gds(t(s, dir, "customer"))
        .removeField("c_acctbal")
        .removeFields("c_mkt.*".r).toDF),

    "ds_dropnullrows" -> ((s, dir) =>
      Gds(t(s, dir, "documents"))
        .mapField("lang", c => when(c === "en", c)) // manufacture nulls deterministically
        .dropNullRows()
        .projection("doc_id", "lang").toDF),

    "ds_replacenulls" -> ((s, dir) =>
      Gds(t(s, dir, "documents"))
        .mapField("lang", c => when(c =!= "en", c))
        .replaceNullValues("english")
        .projection("doc_id", "lang").toDF),

    "ds_take" -> ((s, dir) =>
      Gds(t(s, dir, "orders"))
        .take(50, col("o_orderkey"))
        .projection("o_orderkey", "o_totalprice").toDF),

    "ds_takewhile" -> ((s, dir) =>
      Gds(t(s, dir, "orders"))
        .takeWhile(col("o_orderkey") < 1000, col("o_orderkey"))
        .projection("o_orderkey", "o_orderstatus").toDF),

    "ds_union" -> ((s, dir) => {
      val o = Gds(t(s, dir, "orders"))
      val hi = o.filter(col("o_totalprice") > 400000)
      val lo = o.filter(col("o_totalprice") < 1000)
      (hi ++ lo).projection("o_orderkey", "o_totalprice").toDF
    }),

    "ds_subtract" -> ((s, dir) => {
      val c = Gds(t(s, dir, "customer")).projection("c_custkey", "c_mktsegment")
      val b = c.filter(col("c_mktsegment") === "BUILDING")
      c.subtract(b).toDF
    }),

    "ds_intersection" -> ((s, dir) => {
      val c = Gds(t(s, dir, "customer")).projection("c_custkey", "c_nationkey")
      val small = c.filter(col("c_custkey") <= 500)
      val even = c.filter(col("c_custkey") % 2 === 0)
      small.intersection(even).toDF
    }),

    "ds_cartesian" -> ((s, dir) =>
      Gds(t(s, dir, "region")).cartesian(Gds(t(s, dir, "nation")))
        .projection("r_regionkey", "r_name", "n_nationkey", "n_name").toDF),

    "ds_join" -> ((s, dir) => {
      val li = Gds(t(s, dir, "lineitem")).projection("l_orderkey", "l_partkey", "l_quantity")
        .renameField("l_partkey", "p_partkey")
      val p = Gds(t(s, dir, "part")).projection("p_partkey", "p_brand")
      li.join("p_partkey", p, broadcastOther = true)
        .projection("l_orderkey", "p_partkey", "l_quantity", "p_brand").toDF
    }),

    "ds_explode" -> ((s, dir) =>
      Gds(t(s, dir, "documents"))
        .projection("doc_id", "text")
        .explodeCol(T.tokens(col("text")), "token")
        .projection("doc_id", "token").toDF),

    "ds_sample" -> ((s, dir) =>
      Gds(t(s, dir, "events"))
        .sampleEvery(10, col("event_id"))
        .projection("event_id", "event_type").toDF),

    "ds_minby" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(min_by(col("o_orderkey"), col("o_totalprice")).as("min_order"),
             round(min(col("o_totalprice")), 2).as("min_price"))),

    "ds_maxby" -> ((s, dir) =>
      // o_totalprice is tie-free in this corpus (verified), so plain
      // max_by is deterministic on both engines
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), col("o_totalprice")).as("max_order"),
             round(max(col("o_totalprice")), 2).as("max_price"))),

    "ds_distinct" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem")).projection("l_returnflag", "l_linestatus").distinct().toDF),

    "ds_concat_zip" -> ((s, dir) => {
      val l = Gds(t(s, dir, "region")).projection("r_regionkey", "r_name")
      val r = Gds(t(s, dir, "region")).projection("r_regionkey", "r_name")
        .renameField("r_regionkey", "k2").renameField("r_name", "name2")
      l.zip(r, col("r_regionkey").asc, col("k2").desc).toDF
    }),

    "ds_align" -> ((s, dir) =>
      Gds(t(s, dir, "nation")).align(StructType(Seq(
        StructField("n_name", StringType),
        StructField("n_nationkey", LongType),   // cast int -> long
        StructField("n_comment", StringType)))) // missing -> null
        .toDF),

    "ds_schema_ops" -> ((s, dir) =>
      Gds(t(s, dir, "supplier"))
        .withLowerCaseSchema()
        .stripCharsFromFieldNames(Seq('_'))
        .replaceFieldType("sacctbal".r, StringType)
        .projection("ssuppkey", "sname", "sacctbal").toDF),

    // ---- §2.2 grouped aggregation -------------------------------------
    "gds_groupby_agg" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem"))
        .groupBy("l_returnflag")
        .sum("l_quantity").count("l_orderkey").avg("l_discount")
        .min("l_extendedprice").max("l_extendedprice")
        .toGds
        .mapField("sum_l_quantity", round(_, 2))
        .mapField("avg_l_discount", round(_, 6))
        .mapField("min_l_extendedprice", round(_, 2))
        .mapField("max_l_extendedprice", round(_, 2)).toDF),

    "gds_aggregated" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem")).aggregated()
        .agg(dsum(col("l_extendedprice")).as("total_price"),
             count(lit(1)).as("n_rows"),
             round(avg(col("l_quantity")), 6).as("avg_qty")).toDF),

    "gds_groupby_multi" -> ((s, dir) =>
      Gds(t(s, dir, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(avg(col("l_extendedprice")), 4).as("avg_price"),
             count(lit(1)).as("n"),
             countDistinct(col("l_orderkey")).as("n_orders")).toDF),

    // ---- §2.4 sources / sinks (roundtrips through a scratch dir) ------
    "src_parquet" -> ((s, dir) => {
      val out = scratch(s, dir, "src_parquet")
      graft.sources.ParquetSink(out).write(
        t(s, dir, "nation").filter(col("n_regionkey") <= 2))
      graft.sources.ParquetSource(out).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    "src_csv" -> ((s, dir) => {
      val out = scratch(s, dir, "src_csv")
      graft.sources.CsvSink(out, header = true, delimiter = "|").write(
        t(s, dir, "region"))
      graft.sources.CsvSource(out, header = true, delimiter = "|",
        schema = Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
        .read(s)
    }),

    "src_json" -> ((s, dir) => {
      val out = scratch(s, dir, "src_json")
      graft.sources.JsonSink(out).write(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"), col("s_acctbal")))
      graft.sources.JsonSource(out, schema = Some(StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_acctbal", DoubleType))))).read(s)
        .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
    }),

    "src_orc" -> ((s, dir) => {
      val out = scratch(s, dir, "src_orc")
      graft.sources.OrcSink(out).write(t(s, dir, "customer"))
      graft.sources.OrcSource(out).read(s)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    }),

    "sql_context" -> ((s, dir) => {
      val ctx = GraftSqlContext.withTables(s, dir)
      ctx.sql("""SELECT n_name, count(*) AS n_cust, CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
                 FROM customer JOIN nation ON c_nationkey = n_nationkey
                 GROUP BY n_name""").toDF
    }),

    // ---- §2.5 headline queries ----------------------------------------
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
      // customer scales with the corpus — no forced broadcast; AQE
      // broadcasts at runtime when the filtered side is actually small
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q5_nation_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val joined = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        // customer/supplier scale with the corpus (no forced broadcast;
        // AQE decides) — only the fixed-cardinality nation/region dims
        // are unconditionally broadcast
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      joined.groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    "q7_nation_trade" -> ((s, dir) => {
      // TPC-H Q7 adaptation: trade volume between two nation pairs by year.
      // The nation dims are pre-filtered to the two nations of interest
      // BEFORE the fact joins: the broadcast joins then act as filters
      // that prune supplier- and customer-side rows to ~2/25 immediately
      // (Catalyst cannot push the OR-across-sides pair predicate through
      // the joins by itself — at 100× scale the unfiltered form drags
      // every fact row through four joins before discarding 92%). Only
      // the cross-side pair-combination filter remains after the joins.
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier").join(n1, col("s_nationkey") === col("s_nk")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").join(n2, col("c_nationkey") === col("c_nk")),
          col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    "q9_nation_profit" -> ((s, dir) =>
      // TPC-H Q9 adaptation (no partsupp table): profit by supplier nation and year
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("profit"))),

    "q10_returned_items" -> ((s, dir) => {
      // TPC-H Q10 adaptation: top 20 customers by returned-item revenue,
      // shaped for the scale where neither orders nor customer is
      // broadcastable (they grow with the corpus): (1) returned-line
      // revenue pre-aggregated per order before the orders join (the
      // shuffled fact side shrinks by the lines-per-order collapse);
      // (2) revenue aggregated to the customer KEY and the top-20 taken
      // BEFORE the customer join — c_name/c_mktsegment are functionally
      // dependent on the PK, so the wide customer relation joins
      // against 20 rows (broadcast) instead of every order. At sf0.1
      // AQE broadcasts both dims and all shapes measure within stage-
      // floor noise of each other (recorded in SURVEY §7); the shuffled-
      // bytes ordering is what survives the 100× scale-up. Decimal
      // addition is exact and associative, so the two-level sum is
      // bit-identical to the single-level dsum.
      val rev = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("__rev"))
      val top = rev
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("__rev")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(20)
      top.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
    }),

    "q_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("rk"))
    }),

    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))),

    "q_cube" -> ((s, dir) =>
      // full CUBE with grouping_id — all four aggregation lattices of
      // (status, priority) in one pass (Spark expands the cube into a
      // single partial-agg'd Expand, not four scans)
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"),
          grouping_id().as("gid"))),

    "q4_order_priority" -> ((s, dir) => {
      // TPC-H Q4 adaptation (corpus has no commitdate): orders counted
      // per priority when at least one line shipped after the order
      // date. LEFT SEMI join: the probe side carries only (l_orderkey,
      // l_shipdate) into the exchange and each order emits at most
      // once — no fact×fact row multiplication at any scale.
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1998-01-01"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    "q6_forecast_revenue" -> ((s, dir) =>
      // TPC-H Q6: pure scan→filter→agg. All four predicates reach the
      // parquet scan as PushedFilters; at 100 TB this is one
      // embarrassingly parallel pass with a scalar partial agg.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15: supplier(s) with max revenue in a quarter. The max
      // is a 1-row broadcast joined back on equality of the exact
      // decimal-rounded revenue — the revenue relation is small
      // (one row per supplier) and computed once per branch
      // deterministically, so the equality cannot flake.
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("__mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("__mx"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18: large-quantity orders. The HAVING subquery is one
      // partial-agg groupBy on the fact (quantity is integer-valued →
      // the long sum is exact and order-free); only qualifying
      // orderkeys — a vanishing fraction — reach the joins.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      big.join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
    }),

    "q21_waiting_suppliers" -> ((s, dir) => {
      // TPC-H Q21 adaptation (corpus has no commit/receipt dates):
      // "late" = shipped >30 days after the order date. Suppliers who
      // were the SOLE late supplier on a finished multi-supplier
      // order. Shape at scale: the fact collapses to one row per
      // (orderkey, suppkey) FIRST (partial-agg'd max of the late
      // flag — the exchange carries two longs + a bit, never lines),
      // the per-order supplier/late counts are a second agg on the
      // SAME orderkey partitioning (no extra exchange), and the
      // verdict join is orderkey-equi on two already-aggregated
      // order-sized relations. No fact×fact row multiplication, no
      // window, no distinct-count shuffle of raw lines.
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val perSupp = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") > date_add(col("o_orderdate"), 30), 1)
          .otherwise(0)).as("late"))
      val perOrder = perSupp.groupBy(col("l_orderkey").as("__ok"))
        .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
      perSupp.filter(col("late") === 1)
        .join(perOrder, col("l_orderkey") === col("__ok"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
    }),

    "q19_disjunctive" -> ((s, dir) =>
      // TPC-H Q19 adaptation: OR-of-conjunctions across both join
      // sides. Catalyst extracts the common per-side disjuncts
      // (p_brand IN (...), l_quantity range) and pushes them below the
      // join into both scans — the join sees only pre-filtered rows.
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) && col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#7" && col("p_size").between(10, 40) && col("l_quantity").between(20, 35)))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))),

    "ds_pivot" -> ((s, dir) =>
      // eel grouped pivot → Spark pivot with an EXPLICIT value list
      // (static output schema, no distinct-values pre-job at scale);
      // counts coalesced to 0 so empty combos match the CASE oracle
      Gds(t(s, dir, "orders"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .pivotOn("o_orderstatus", Seq("F", "O", "P")).toDF
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).cast("long").as("f_cnt"),
          coalesce(col("O"), lit(0L)).cast("long").as("o_cnt"),
          coalesce(col("P"), lit(0L)).cast("long").as("p_cnt"))),

    "q_window_analytics" -> ((s, dir) => {
      // window-function breadth on one relation: sequence windows
      // (lag/lead/ntile over order date) + value windows (percent_rank/
      // cume_dist over price), every ORDER BY ending in the unique
      // orderkey so ranks can't flip across partitionings; prev/next
      // prices pass through UNROUNDED (per-row, IEEE-identical)
      val wSeq = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wVal = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(wSeq).as("prev_price"),
        lead(col("o_totalprice"), 1).over(wSeq).as("next_price"),
        ntile(4).over(wSeq).as("seq_quartile"),
        round(percent_rank().over(wVal), 6).as("price_pct_rank"),
        round(cume_dist().over(wVal), 6).as("price_cume_dist"))
    }),

    "q22_dormant_customers" -> ((s, dir) => {
      // TPC-H Q22 adaptation: above-average-balance customers with no
      // 2001 orders, aggregated by nation. The average test never
      // materializes a rounded float threshold: c_acctbal·n > Σbal in
      // exact DECIMAL×integer arithmetic (order-free, engine-free).
      // The anti join probes only (o_custkey) from the filtered fact.
      val cust = t(s, dir, "customer")
      val stats = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast(DecimalType(18, 6))).as("__tot"), count(lit(1)).as("__n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(stats))
        .filter(col("c_acctbal").cast(DecimalType(18, 6)) * col("__n") > col("__tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
    }),

    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8 adaptation (no partsupp): of the ECONOMY-part revenue
      // bought by ASIA customers, the share supplied by NATION_12's
      // suppliers, per order year. Dims (nation/region) are fixed-25/5-
      // row relations → broadcast; part/customer/supplier scale with
      // the corpus → AQE decides. The region filter prunes the customer
      // side to 1/5 BEFORE the fact join. Share = exact decimal sums
      // cast to double at the end (num/den each order-free), round 6dp.
      val asiaNations = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk")))
      val suppNation = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val econParts = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      t(s, dir, "lineitem")
        .join(econParts, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").join(asiaNations, col("c_nationkey") === col("c_nk")),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier").join(suppNation, col("s_nationkey") === col("s_nk")),
          col("l_suppkey") === col("s_suppkey"))
        .withColumn("vol", (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 6)))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_12", col("vol")).otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double")
          / sum(col("vol")).cast("double"), 6).as("mkt_share"))
    }),

    "q12_ship_delay" -> ((s, dir) =>
      // TPC-H Q12 adaptation (corpus has no l_shipmode/commitdate):
      // service-level buckets on ship delay (shipdate − orderdate),
      // counting urgent-priority vs other lines per bucket. One
      // fact-fact hash join on the order key, then a map-side CASE
      // classification — no second shuffle (counts are partial-agg'd).
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_d", datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")))
        .withColumn("bucket",
          when(col("delay_d") < 0, "early")
            .when(col("delay_d") <= 60, "normal")
            .otherwise("late"))
        .groupBy(col("bucket"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L)).as("low_line_count"))),

    "q13_cust_distribution" -> ((s, dir) =>
      // TPC-H Q13: customer order-count distribution. LEFT OUTER join
      // (zero-order customers must appear with c_count = 0), double
      // aggregation; the priority filter stands in for the comment
      // NOT-LIKE of the original. Both groupBys are partial-agg'd;
      // the second input is one row per customer.
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    "q14_promo_revenue" -> ((s, dir) =>
      // TPC-H Q14: promo-part revenue share for one ship month. The
      // date range reaches the lineitem scan as PushedFilters; part is
      // projected to (key, type) only. Numerator/denominator are exact
      // decimal sums (order-free) → double division → round 6dp.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01") && col("l_shipdate") < lit("1997-10-01"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("vol", (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 6)))
        .agg(round(lit(100) * sum(when(col("p_type") === "PROMO", col("vol")).otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double")
          / sum(col("vol")).cast("double"), 6).as("promo_revenue"))),

    "q17_small_qty_revenue" -> ((s, dir) => {
      // TPC-H Q17 adaptation: revenue lost to small-quantity orders of
      // Brand#3 small parts. The per-part average test is EXACT
      // integer arithmetic on both engines (5·qty·cnt < sum over long
      // quantities — no float threshold to flake). The part filter
      // prunes lineitem first; the per-part stats relation is tiny
      // (one row per qualifying part) → AQE broadcasts the rejoin.
      val pt = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#3" && col("p_size") < 15)
        .select(col("p_partkey"))
      val li = t(s, dir, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"), col("l_extendedprice"))
      val stats = li.groupBy(col("l_partkey").as("sp_key"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      li.join(stats, col("l_partkey") === col("sp_key"))
        .filter(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
        .agg(round(sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast("double") / 7.0, 2).as("avg_yearly"))
    }),

    // ---- §2.6 events / time-series ------------------------------------
    "evt_window_agg" -> ((s, dir) =>
      TimeSeries.tumblingAgg(t(s, dir, "events"), "ts", 60, Seq("event_type"))),

    "evt_sessionize" -> ((s, dir) =>
      TimeSeries.sessionize(t(s, dir, "events"), "user_id", "ts", 30)
        .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))),

    "evt_session_stats" -> ((s, dir) =>
      // session-level rollup of the sessionize relation: event count +
      // integer-µs duration per (user, session) — the engagement view
      TimeSeries.sessionize(t(s, dir, "events"), "user_id", "ts", 30)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))),

    "evt_asof_join" -> ((s, dir) => {
      val clicks = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = t(s, dir, "events").filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
      TimeSeries.asofJoin(clicks, views, "user_id", "ts", "view_ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("view_value"), 2).as("view_value"))
    }),

    "evt_asof_tolerance" -> ((s, dir) => {
      val clicks = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = t(s, dir, "events").filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
      TimeSeries.asofJoin(clicks, views, "user_id", "ts", "view_ts", Seq("view_value"),
        toleranceSeconds = Some(3600))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("view_value"), 2).as("view_value"))
    }),

    "evt_props_parse" -> ((s, dir) =>
      // semi-structured props column: schema-driven from_json — one
      // parse per ROW into a typed struct, where get_json_object is
      // one parse per extracted PATH (~10% faster at this single
      // field, linearly better with every additional field at scale)
      t(s, dir, "events")
        .select(from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_val"), col("event_type"))
        .groupBy("k_val")
        .agg(count(lit(1)).as("n"), countDistinct(col("event_type")).as("n_types"))),

    // ---- §2.7 dedup ----------------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    "dedup_exact_norm" -> ((s, dir) =>
      Dedup.exactNormalized(t(s, dir, "documents"), "text", "doc_id")),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")),

    "dedup_simhash" -> ((s, dir) =>
      // md5-derived token hash so the DuckDB oracle recomputes the
      // identical 64-bit signatures; production defaults to xxhash64
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        tokenHash = Dedup.md5TokenHash)),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // fixed candidate set: consecutive doc pairs — exercises the exact
      // verify join independent of LSH candidate generation. String
      // shingle sets (not hashed) so the DuckDB oracle rebuilds the
      // identical sets; production uses the hashed form (ngramJaccard).
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_l"), (col("doc_id") + 1).as("id_r"))
        .filter(col("id_l") % 10 === 0)
      Dedup.ngramJaccardStrings(pairs, docs, "doc_id", "text", 3)
        .filter(col("jaccard") > 0)
    }),

    "dedup_method_eval" -> ((s, dir) => {
      // detector-tuning metric: one-row recall/precision of the simhash
      // pipeline (hamming ≤ 3, portable md5 hash) against the EXACT
      // 3-gram Jaccard ≥ 0.5 truth. Banding is exact for hamming ≤ 3
      // (pigeonhole over the 4 16-bit chunks), so the oracle's
      // all-pairs hamming join replays the banded pipeline exactly
      val docs = t(s, dir, "documents")
      val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      val pred = Dedup.simhashPairs(docs, "doc_id", "text",
        tokenHash = Dedup.md5TokenHash).select(col("id_l"), col("id_r"))
      Dedup.pairEval(truth, pred)
    }),

    "dedup_containment" -> ((s, dir) => {
      // asymmetric containment over the same fixed candidate pairs —
      // the quote/subset-duplicate signal Jaccard misses; string
      // shingles for the oracle, hashed twin in perfQueries
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_l"), (col("doc_id") + 1).as("id_r"))
        .filter(col("id_l") % 10 === 0)
      Dedup.ngramContainment(pairs, docs, "doc_id", "text", 3, hashShingles = false)
    }),

    "dedup_embedding" -> ((s, dir) =>
      // LCG-derived hyperplanes (exact dyadic rationals) so the DuckDB
      // oracle rebuilds identical buckets; production defaults to
      // Gaussian planes — same operator, same shuffle shape
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        planes = Some(graft.functions.VectorExpressions.lcgPlanes(64, 8, 8)))),

    "dedup_keeplist" -> ((s, dir) => {
      // end-to-end: minhash pairs -> connected components -> keep flags
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
        .select(col("id_l"), col("id_r"))
      Dedup.dedupeKeepList(docs, pairs, "doc_id")
        .filter(!col("keep")) // the drop list: duplicates + their canonical
    }),

    // ---- §2.8 similarity search ---------------------------------------
    "sim_bruteforce_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "qid", "qvec", k = 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // portable LCG planes (see dedup_embedding) → DuckDB rebuilds the
      // same candidate set and ranks it identically
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nBits = 8,
        planes = Some(graft.functions.VectorExpressions.lcgPlanes(64, 8, 8)))
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // md5-of-id sampling order so the DuckDB oracle derives the
      // identical centroid set; production defaults to xxhash64
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_recall_eval" -> ((s, dir) => {
      // recall@5 of the LSH ANN against the exact brute-force top-5 —
      // the parameter-tuning metric; both sides are k·|queries| rows
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5)
      val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nBits = 8,
        planes = Some(graft.functions.VectorExpressions.lcgPlanes(64, 8, 8)))
      Similarity.recallAtK(ann, truth, "qid", "vec_id")
    }),

    "sim_ivf_recall" -> ((s, dir) => {
      // recall@5 of the IVF probe against exact brute force — the
      // nProbe/nCentroids tuning metric, completing the eval matrix
      // (sim_recall_eval scores LSH, dedup_method_eval scores the
      // dedup detectors); same md5 sampling key as sim_ivf_topk so
      // the oracle replays the identical centroid set
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5)
      val ann = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
      Similarity.recallAtK(ann, truth, "qid", "vec_id")
    }),

    "sim_ivfpq_topk" -> ((s, dir) => {
      // IVF+PQ: coarse probe → approximate scoring on PQ-DECODED
      // vectors → exact rescore of the top-20 shortlist → top-5; one
      // md5 sampling key drives both the coarse centroids and the
      // per-subspace Lloyd inits so DuckDB replays the whole chain
      // (the emb_pq codebook recipe + the sim_ivf probe recipe)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 8,
        rescore = 20,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivfpq_recall" -> ((s, dir) => {
      // recall@5 of the full IVF+PQ chain (coarse probe + quantized
      // scoring + exact rescore of the top-20 shortlist) vs brute
      // truth — measures what the PQ approximation actually costs in
      // recall, the metric that decides m/codes/rescore at scale
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5)
      val ann = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 8,
        rescore = 20,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
      Similarity.recallAtK(ann, truth, "qid", "vec_id")
    }),

    "sim_ivfpq_index" -> ((s, dir) => {
      // persisted IVF+PQ store: the memory-bounded index shape — the
      // query scans only (id, cell, 4 codes) of the probed cells and
      // touches raw vectors solely for the rescore shortlist via the
      // cell-partitioned sidecar. Same frozen centroids/codebooks as
      // sim_ivfpq_topk, so it must match that chain row-for-row and
      // shares its oracle (the sim_ivf_index argument: the store only
      // changes which files are read). Master built once per session;
      // this gate times the pruned two-phase query path.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (path, flat, cbs) = masterIvfPqIndex(s, dir)
      Similarity.queryIvfPqIndex(s, path, flat, cbs, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = 64, nProbe = 4, rescore = 20)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivf_index" -> ((s, dir) => {
      // persisted-IVF path: query the session-master cell-partitioned
      // index through the static partition filter — must equal
      // sim_ivf_topk row-for-row (same centroids, same probes; the
      // index only changes WHICH FILES the scan touches, proven via
      // numFiles in SimilaritySpec), so it shares that oracle. The
      // master is built once per session (the store-gate rule): this
      // gate times the pruned-query path, the spec pins the build.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (path, flat) = masterIvfIndex(s, dir)
      Similarity.queryIvfIndex(s, path, flat, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = 64, nProbe = 4)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivf_append" -> ((s, dir) => {
      // nightly embedding-store growth: index built on the old 3/4 of
      // the corpus, the new 1/4 appended under the FROZEN quantizer
      // (assignment depends only on (vector, centroids), so the
      // appended index is bit-identical to a fresh build of the union
      // with the same centroids — the oracle replays exactly that);
      // old vectors are never re-read, the append costs O(delta)
      val emb = t(s, dir, "embeddings")
      val old = emb.filter(col("vec_id") % 4 < 3)
      val delta = emb.filter(col("vec_id") % 4 === 3)
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val path = scratchDir("graft_ivf_app") + "/idx"
      val flat = Similarity.buildIvfIndex(old, path, "vec_id", "embedding",
        dim = 64, nCentroids = 16,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
      Similarity.appendIvfIndex(delta, path, flat, "embedding", dim = 64, batchId = "delta")
      Similarity.queryIvfIndex(s, path, flat, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = 64, nProbe = 4)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivf_delete" -> ((s, dir) => {
      // embedding-store retirement: index built on the FULL corpus,
      // then every vec_id % 10 == 7 vector deleted in place (frozen
      // quantizer, only touched cell partitions rewritten, emptied
      // cells dropped — Similarity.deleteFromIvfIndex); queries (all
      // % 1000 == 0, disjoint from the deletes) must see exactly a
      // fresh index of the survivors under the same centroids — the
      // oracle replays that rebuild (full-corpus centroid sample,
      // survivor-only cell relation). Master index COPIED to a fresh
      // dir per run (the delete mutates the store — the
      // corpus_incremental_delta discipline), so the gate times
      // delete + query, not the build the spec already pins.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (master, flat) = masterIvfIndex(s, dir)
      val path = scratchDir("graft_ivf_del") + "/idx"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(master), new java.io.File(path))
      Similarity.deleteFromIvfIndex(s, path,
        emb.filter(col("vec_id") % 10 === 7).select(col("vec_id")), "vec_id")
      Similarity.queryIvfIndex(s, path, flat, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = 64, nProbe = 4)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    // ---- §2.9 text analysis -------------------------------------------
    "text_tokencount" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n_tokens"),
          T.subwordEstimate(col("text")).cast("long").as("est_subwords"))),

    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), T.qualityStruct(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_chars").cast("long").as("n_chars"),
          col("q.n_tokens").cast("long").as("n_tokens"), col("q.mean_token_len").as("mean_token_len"),
          col("q.punct_ratio").as("punct_ratio"), col("q.stopword_ratio").as("stopword_ratio"))),

    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))),

    "text_repetition" -> ((s, dir) => {
      // within-doc duplicate-3-gram fraction (Gopher/C4 repetition
      // filter signal) over the native shingle pass
      val sh = T.shingles(col("text"), 3)
      t(s, dir, "documents").select(col("doc_id"),
        size(sh).cast("long").as("n_ngrams"),
        size(array_distinct(sh)).cast("long").as("n_distinct"),
        T.repetitionRatio(col("text"), 3).as("rep_ratio"))
    }),

    "text_quality_filter" -> ((s, dir) => {
      // composite keep/drop decision (Gopher-style rule conjunction)
      // over the quality + repetition signals; thresholds compare the
      // ROUNDED ratios, which both engines compute bit-identically
      val q = T.qualityStruct(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), q.as("q"), T.repetitionRatio(col("text"), 3).as("rep"))
        .select(col("doc_id"),
          (col("q.n_tokens").between(20, 1000) &&
            col("q.stopword_ratio") >= 0.05 &&
            col("rep") < 0.2).as("keep"))
    }),

    "ds_schema_merge" -> ((s, dir) => {
      // eel SchemaMerger/mergedUnion: heterogeneous projections of the
      // same corpus unioned under the superset schema, null-filled
      val docs = t(s, dir, "documents")
      graft.core.SchemaOps.mergedUnion(Seq(
        docs.select(col("doc_id"), col("lang")),
        docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))))
    }),

    // ---- §2.11 corpus prep (training-pipeline ops) --------------------
    "contamination_ngram" -> ((s, dir) => {
      // benchmark-contamination screen: docs sharing word-3-grams with
      // the held-out eval slice (doc_id % 50). Gate variant joins on
      // gram STRINGS so DuckDB rebuilds identical sets; production
      // (perfQueries twin) joins on xxhash64 longs.
      val docs = t(s, dir, "documents")
      Pipeline.contamination(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 3, hashGrams = false)
    }),

    "contamination_embedding" -> ((s, dir) => {
      // the SEMANTIC contamination screen (contamination_ngram's
      // twin): corpus docs whose embedding lies within cosine ≥ 0.35
      // of any held-out benchmark row (vec_id % 100) — catches the
      // paraphrased/translated leakage n-grams miss. Benchmark
      // broadcast (eval suites are small by construction), corpus
      // streamed once; round-6 cosines, exact counts. Threshold
      // safety: min flagged cosine 0.3502 at every SF — 1.8e-4 above
      // the cut, ≥5 orders over cross-engine ulp noise.
      val emb = t(s, dir, "embeddings")
      Pipeline.contaminationEmbedding(
        emb.filter(col("vec_id") % 100 =!= 0), emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", threshold = 0.35)
    }),

    "sample_split_hash" -> ((s, dir) =>
      // deterministic md5-bucket train/val/test split (80/10/10) —
      // stable across reruns, row order, partitioning, and engines
      Pipeline.hashSplit(t(s, dir, "documents"), "doc_id")),

    "shuffle_shard" -> ((s, dir) =>
      // deterministic corpus shuffle into 8 training shards: shard =
      // md5 bucket (map-side), pos = per-shard hash rank — the export
      // layout that breaks source/crawl locality without a global sort
      Pipeline.shuffleShard(t(s, dir, "documents"), "doc_id", nShards = 8)),

    "dedup_keep_best" -> ((s, dir) =>
      // keep the highest-quality representative per normalized-content
      // cluster (score = token count, tie-break doc_id)
      Pipeline.keepBestByFingerprint(t(s, dir, "documents"), "doc_id", "text",
        score = T.qualityStruct(col("text")).getField("n_tokens"))),

    "corpus_manifest" -> ((s, dir) =>
      // per-shard export manifest over the shuffle_shard layout: doc/
      // token/char totals + the position-salted DECIMAL(38,0) hash-sum
      // content fingerprint (order-sensitive yet partial-agg'able)
      Pipeline.shardManifest(t(s, dir, "documents"), "doc_id", "text", nShards = 8)),

    // ---- §2.10 multimodal ---------------------------------------------
    "mm_binary_meta" -> ((s, dir) => {
      val media = Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(media)
        .select(col("media_id"), col("n_bytes"), col("first_byte"), col("byte_sum"), col("format"))
    }),

    "mm_resize" -> ((s, dir) => {
      // resize → decode so the oracle checks the resized CONTENT
      // (byte_sum of the truncated/padded payload), not just its length
      val media = Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(Multimodal.resizePayload(media, 128))
        .select(col("media_id"), col("n_bytes"), col("byte_sum"))
    }),

    "mm_features" -> ((s, dir) => {
      // portable md5-slot features (see Multimodal.extractFeaturesPortable)
      // so DuckDB recomputes the identical embedding and norm;
      // production uses the xxhash64 variant
      val media = Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeaturesPortable(media, 16)
        .select(col("media_id"), size(col("embedding")).cast("long").as("dim"),
          round(graft.functions.VectorFunctions.norm(col("embedding")), 6).as("norm"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val media = Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes").cast("long").as("frame_bytes"))
    }),

    "mm_frame_dedup" -> ((s, dir) => {
      // cross-media near-dup by sampled-frame fingerprint overlap
      // (the video-dedup shape: re-encodes/trims share frames even
      // when whole-payload hashes differ). Gate plants trimmed-tail
      // clones of every 5th doc's payload — each shares its base's
      // full 64-byte frames while the edited tail frame differs
      val docs = t(s, dir, "documents")
      val base = Multimodal.attachPayload(docs, "doc_id", "text")
      val clones = Multimodal.attachPayload(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(col("text"), lit(" re-encoded tail")).as("text")),
        "doc_id", "text")
      Multimodal.frameDedup(base.unionByName(clones),
        frameBytes = 64, stride = 1, minShared = 3)
    }),

    // ---- §2.12 PII / sampling / mixing / span-dedup / LM quality ------
    "text_pii" -> ((s, dir) => {
      // the synthetic corpus carries no natural PII, so the scan runs
      // over a deterministically derived contact suffix (1 in 3 docs)
      // — the regex machinery, counts, and scrub are the real operator
      val contact = piiContact(s, dir)
      contact.select(col("doc_id"),
        P.emailCount(col("__txt")).cast("long").as("n_emails"),
        P.phoneCount(col("__txt")).cast("long").as("n_phones"),
        P.ipCount(col("__txt")).cast("long").as("n_ips"),
        md5(P.scrub(col("__txt"))).as("scrub_fp"))
    }),

    "text_script" -> ((s, dir) => {
      // Unicode script composition (the multilingual corpus probe;
      // langId covers Latin-alphabet languages only — script anomalies
      // are how mojibake/mixed-script spam/wrong-langid docs surface).
      // ASCII corpus -> planted script suffixes: 1-in-4 docs become
      // Cyrillic-dominant, others gain CJK or Greek+digit admixtures
      val base = t(s, dir, "documents")
      val txt = when(col("doc_id") % 4 === 1, repeat(lit("привет мир "), 20))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" 世界 你好 123")))
        .when(col("doc_id") % 4 === 3, concat(col("text"), lit(" αβγ δεζ 456789")))
        .otherwise(col("text"))
      base.select(col("doc_id"), graft.functions.TextFunctions.scriptCounts(txt).as("__sc"))
        .select(col("doc_id") +:
          graft.functions.TextFunctions.scriptRanges.map { case (n, _) =>
            col(s"__sc.n_$n").cast("long").as(s"n_$n") } :+
          col("__sc.main_script").as("main_script"): _*)
    }),

    "text_pii_luhn" -> ((s, dir) => {
      // checksum-validated payment-card detection: 16-digit runs on
      // word boundaries, Luhn-verified (pure integer fold — the part
      // that separates cards from ids/hashes), valid ones scrubbed.
      // Synthetic card = fixed 12-digit prefix + id-derived tail, so
      // ~10% of planted candidates pass the checksum by construction
      val withCard = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" card 411111111111"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(col("text")).as("__txt"))
      // the nondeterministic __barrier column stops CollapseProject
      // from inlining the struct per consumer (which would re-run the
      // Luhn fold for each projected field — HOFs are excluded from
      // codegen subexpression elimination); the fold runs ONCE here
      withCard.select(col("doc_id"), P.cardStruct(col("__txt")).as("__c"),
          monotonically_increasing_id().as("__barrier"))
        .select(col("doc_id"), col("__c.n_cards").as("n_cards"),
          col("__c.n_valid").as("n_valid"),
          md5(col("__c.scrubbed")).as("scrub_fp"))
    }),

    "sample_stratified" -> ((s, dir) =>
      // downweight over-represented languages: per-stratum keep rate,
      // pure per-row hash arithmetic (no corpus stats, no shuffle)
      Pipeline.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        rates = Seq("en" -> 40, "de" -> 70), defaultPct = 100)),

    "corpus_mix" -> ((s, dir) =>
      // mix sources to target 3:2 ratios (integer-quota, rank-filled);
      // src15..19 carry no weight -> kept rows flagged keep=false
      Pipeline.corpusMix(t(s, dir, "documents"), "doc_id", "source", mixWeights)),

    "sample_systematic" -> ((s, dir) =>
      // token-weighted systematic (PPS) sampling: 50 evenly-spaced
      // points on the cumulative token axis in hash order —
      // P(picked) ∝ n_chars, the token-faithful eval subsample
      Pipeline.systematicSample(t(s, dir, "documents"), "doc_id", "n_chars",
        n = 50L)),

    "corpus_mix_temperature" -> ((s, dir) =>
      // α=1/2 temperature sampling: per-source quota ∝ isqrt(count),
      // capped at count, budget 300 — the derived-ratio member of the
      // mixing family (corpus_mix = fixed ratios, sample_token_mix =
      // token budgets); isqrt is float-seeded + integer ±1-corrected
      Pipeline.corpusMixTemperature(t(s, dir, "documents"), "doc_id", "source",
        budget = 300L)),

    "dedup_spans" -> ((s, dir) =>
      // cross-doc repeated 5-gram spans (boilerplate/template signal).
      // Gate variant shuffles gram STRINGS so DuckDB rebuilds the sets;
      // production (perfQueries twin) shuffles xxhash64 longs.
      Pipeline.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2, hashGrams = false)),

    "dedup_spans_maximal" -> ((s, dir) =>
      // variable-length exact-substring dedup (Lee et al. 2022 signal):
      // maximal common token spans per doc pair via 3-gram anchors
      // chained along match diagonals. Gate variant joins on gram
      // STRINGS so DuckDB replays it; production twin on shingle hashes.
      Dedup.maximalSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 3, minLen = 4, hashGrams = false)
        .select(col("id_l"), col("id_r"), col("pos_l").cast("long").as("pos_l"),
          col("pos_r").cast("long").as("pos_r"), col("span_len"))),

    "dedup_spans_cut" -> ((s, dir) => {
      // the CUT half: every duplicated span kept once (smallest id),
      // removed from each later occurrence — the corpus REWRITE of
      // Lee et al. 2022, with per-doc interval union before cutting
      val docs = t(s, dir, "documents")
      val spans = Dedup.maximalSpans(docs, "doc_id", "text",
        k = 3, minLen = 4, hashGrams = false)
      Dedup.cutSpans(docs, spans, "doc_id", "text", k = 3)
        .select(col("doc_id"), col("n_tokens"), col("n_cut_tokens"),
          md5(col("text")).as("clean_fp"))
    }),

    "text_unigram" -> ((s, dir) =>
      // corpus-unigram-frequency doc scoring (all-integer signals; the
      // mean-log-prob production variant is benched as text_unigram_prod)
      Pipeline.unigramScore(t(s, dir, "documents"), "doc_id", "text")),

    "text_dsir" -> ((s, dir) =>
      // DSIR-style target-affinity scoring (target = English docs):
      // gate scores the exact integer token-mass ratio; the paper's
      // mean-log-ratio production variant is benched as text_dsir_prod
      Pipeline.dsirScore(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en")),

    "text_collocations" -> ((s, dir) =>
      // corpus bigram collocations (count >= 5) with unigram margins +
      // token total — the exact-integer inputs to PMI; the PMI value
      // itself (log) is benched as text_collocations_prod
      Pipeline.collocations(t(s, dir, "documents"), "text", minCount = 5)),

    "text_bigram_lm" -> ((s, dir) =>
      // bigram-LM fluency score: mean fixed-point P(w|prev) per doc
      // (conditional rates — the KenLM-filter shape; dsir/unigram are
      // the marginal twins); prod twin hashes the bigram join keys
      Pipeline.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")),

    "sample_topk_per_group" -> ((s, dir) =>
      // deterministic 10-docs-per-language sample via bounded-heap
      // TopKAggregate over the md5-hash order — ≤k rows per stratum
      // per map task into the exchange, never a full per-stratum window
      Pipeline.topKPerGroup(t(s, dir, "documents"), "lang", "doc_id", k = 10)),

    "text_lexical" -> ((s, dir) => {
      // lexical-diversity quality signals: type-token ratio (low =
      // repetitive/spammy — the unigram twin of text_repetition) and
      // vowel-group syllable density; all integers + rounded divisions
      val toks = T.tokens(col("text"))
      val syll = regexp_count(T.normText(col("text")), lit("[aeiouy]+"))
      t(s, dir, "documents").select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("ttr"),
        syll.cast("long").as("n_syllables"),
        round(syll.cast("double") / size(toks), 6).as("syll_per_word"))
    }),

    "emb_quantize" -> ((s, dir) =>
      // per-dimension affine int8 quantization (SQ8): stats = one tiny
      // dim-cardinality aggregate; encode = map-side transform with
      // the stats inlined — codes bit-identical across engines
      Quantize.scalarQuantize(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim_idx", "code")))
        .select(col("vec_id"), col("dim_idx").cast("int").as("dim_idx"), col("code"))),

    "emb_pq" -> ((s, dir) => {
      // product quantization: 4 per-subspace k-means codebooks (k=8,
      // 2 Lloyd iters, md5-sampled init — the cluster_kmeans recipe per
      // 16-dim slice), then one map-side encode pass; 256 B/vec → 4 B
      val emb = t(s, dir, "embeddings")
      val cbs = Quantize.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
        m = 4, k = 8, iters = 2,
        sampleKey = Some(id => md5(concat(lit("km:"), id.cast("string")))))
      Quantize.pqEncode(emb, "vec_id", "embedding", dim = 64, cbs)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub_idx", "code")))
        .select(col("vec_id"), col("sub_idx").cast("int").as("sub_idx"), col("code"))
    }),

    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup: cluster-then-verify semantic dedup; md5 sampling
      // order so DuckDB derives the identical centroid set (production
      // twin uses the xxhash64 default)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        nCentroids = 16, threshold = 0.4,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
        .select(col("vec_id"), col("cell").cast("int").as("cell"), col("keep"))),

    "chunk_tokens" -> ((s, dir) =>
      // overlapping token windows (32 tokens, overlap 8) — the
      // pre-embedding/pre-training chunking pass; map-side explode only
      Pipeline.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_fp"))),

    "pack_sequences" -> ((s, dir) =>
      // concat-and-split packing layout into 512-token windows, 8
      // shards (per-shard running sum = per-writer-task packing)
      Pipeline.packSequences(t(s, dir, "documents"), "doc_id", "text",
        contextLen = 512, nShards = 8)),

    "corpus_stats" -> ((s, dir) =>
      // per-language corpus report: doc/token volume + exact length
      // spread (median interpolates identically in both engines —
      // .5-exact dyadic doubles)
      t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        median(col("n_chars")).as("median_chars"))),

    // ---- §2.13 event analytics ----------------------------------------
    "evt_funnel" -> ((s, dir) =>
      // view -> click -> purchase with a 1-day conversion window
      TimeSeries.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSeconds = Some(86400L))),

    "evt_retention" -> ((s, dir) =>
      // daily purchase retention: cohort = first purchase day
      TimeSeries.retention(t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", periodDays = 1)),

    "evt_anomaly" -> ((s, dir) =>
      // activity-spike detection: per-user daily counts z-scored
      // against the user's own exact integer moments (|z| > 2)
      TimeSeries.activityAnomaly(t(s, dir, "events"), "user_id", "ts")),

    "evt_paths" -> ((s, dir) =>
      // first-order event-type transition matrix over per-user
      // sequences, (ts, event_id)-ordered so same-ts neighbors are
      // deterministic under any partitioning
      TimeSeries.transitions(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id")),

    "evt_conversion_lag" -> ((s, dir) =>
      // first-view → first-purchase latency histogram (1-hour
      // buckets); all-integer epoch-microsecond arithmetic
      TimeSeries.conversionLag(t(s, dir, "events"), "user_id", "ts",
        "event_type", "view", "purchase", bucketSeconds = 3600L)),

    "evt_top_paths" -> ((s, dir) =>
      // top-20 five-event user journeys — per-user window + path-keyed
      // count + global partial top-k; (ts, event_id) order throughout
      TimeSeries.topPaths(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id", pathLen = 5, k = 20)),

    "evt_dau_rolling" -> ((s, dir) =>
      // daily actives + trailing-7-day actives via bounded fan-out of
      // the distinct (user, day) relation — no distinct-over-window,
      // no day² self-join
      TimeSeries.rollingActive(t(s, dir, "events"), "user_id", "ts", windowDays = 7)),

    "evt_churn" -> ((s, dir) =>
      // week-over-week churn: distinct (user, period) anti-joined
      // against its own next-period shift (integer epoch-µs periods)
      TimeSeries.churn(t(s, dir, "events"), "user_id", "ts", periodDays = 7)),

    "bpe_pairs" -> ((s, dir) =>
      // BPE merge-candidate counts: char pairs over the DISTINCT vocab
      // weighted by word frequency (per-word work once, not per token)
      Pipeline.bpePairs(t(s, dir, "documents"), "text", topK = 50)),

    "text_html_extract" -> ((s, dir) => {
      // HTML→text boilerplate strip (stripHtml) over a deterministic
      // HTML-ification of the corpus (same simulate-the-input trick as
      // corpus_diff): wrap each doc in markup with a script block and
      // entities, extract, fingerprint. Patterns are Java-regex/RE2
      // agreeing (classes + lazy quantifiers only) so DuckDB
      // recomputes the extraction exactly.
      val html = concat(
        lit("<html><body><h1 class=\"t\">"), substring(col("text"), 1, 40),
        lit("</h1><script>var x = 1 < 2;</script><p>"), col("text"),
        lit(" &amp; more &lt;tail&gt;</p></body></html>"))
      val clean = graft.functions.TextFunctions.stripHtml(html)
      t(s, dir, "documents").select(col("doc_id"),
        md5(clean).as("clean_fp"), length(clean).cast("long").as("n_chars"))
    }),

    "bpe_train" -> ((s, dir) =>
      // full iterative BPE merge-rule training (10 rounds); the
      // sequential argmax→merge loop has no SQL twin → rows-only gate;
      // rule-by-rule equality with a single-node reference BPE is
      // spec-pinned (PipelineSpec), and round 1 must equal bpe_pairs'
      // gated argmax by construction
      Pipeline.bpeTrain(t(s, dir, "documents"), "text", merges = 10)),

    "bpe_encode" -> ((s, dir) => {
      // train 10 merge rules, then BPE-segment the whole corpus with
      // them (the apply half of the tokenizer-prep pair). No SQL twin
      // for the segmentation → rows-only gate; symbol fingerprints
      // keep the dump value-sensitive, and the concatenation/greedy
      // semantics are spec-pinned (PipelineSpec)
      val docs = t(s, dir, "documents")
      val rules = Pipeline.bpeCollectRules(Pipeline.bpeTrain(docs, "text", merges = 10))
      val syms = Pipeline.bpeEncode(col("text"), rules)
      docs.select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_words"),
        size(syms).cast("long").as("n_symbols"),
        md5(concat_ws(" ", syms)).as("symbols_fp"))
    }),

    "evt_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits its value to the
      // most recent preceding view (as-of join), revenue rolled up by
      // attributed view hour. Tie-immune: same-ts views share the hour.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("ts").as("touch_ts"))
      TimeSeries.asofJoin(purchases, views, "user_id", "ts", "view_ts", Seq("touch_ts"))
        .filter(col("touch_ts").isNotNull)
        .groupBy(date_trunc("hour", col("touch_ts")).as("view_hour"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
    }),

    "evt_trend" -> ((s, dir) =>
      // per-event-type daily-count OLS slope: exact BIGINT moments +
      // cross-multiplied numerator/denominator, one float division
      TimeSeries.activityTrend(t(s, dir, "events"), "event_type", "ts")),

    "evt_attribution_multi" -> ((s, dir) => {
      // linear multi-touch: every view in the 3-day window before a
      // purchase shares its value equally; revenue by view hour
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"))
      TimeSeries.multiTouchAttribution(purchases, views,
        "event_id", "user_id", "ts", "view_ts", "value", lookbackDays = 3)
    }),

    "evt_cohort_ltv" -> ((s, dir) =>
      // weekly-cohort cumulative purchase revenue (exact decimal sums,
      // cumsum over the aggregated cohort×offset relation)
      TimeSeries.cohortLtv(t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value", periodDays = 7)),

    "evt_rfm" -> ((s, dir) =>
      // recency/frequency/monetary quintiles over purchase events —
      // exact metrics, id-tie-broken ntile windows
      TimeSeries.rfm(t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value")),

    "text_feature_hash" -> ((s, dir) =>
      // hashing-trick featurizer (16 slots, md5 gate hash) — dense
      // vector posexploded to rows for the value-level oracle compare
      Pipeline.featureHash(t(s, dir, "documents"), "doc_id", "text", dim = 16)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("slot", "n")))
        .select(col("doc_id"), col("slot").cast("int").as("slot"), col("n"))),

    "sample_importance" -> ((s, dir) =>
      // importance-weighted Bernoulli sample (p = w/max_w, weight =
      // doc length) via an EXACT integer keep test — no float rate
      // boundary, stable across engines/partitionings
      Pipeline.importanceSample(t(s, dir, "documents"), "doc_id", "n_chars")),

    "text_classify" -> ((s, dir) =>
      // trained centroid classifier (lang as the label): integer
      // fixed-point token rates per class, token-keyed scoring join,
      // argmax per doc — engine-exact by construction
      Pipeline.classifyCentroid(t(s, dir, "documents"), "doc_id", "text", "lang")),

    "emb_pca" -> ((s, dir) => {
      // distributed PCA's corpus-sized pass: the integer second-moment
      // (Gram) relation over SQ8 codes — exact BIGINT sums, one
      // partial-agg'd aggregation (d(d+1)/2 rows per map task into the
      // shuffle); the driver-side Jacobi + projection halves are
      // spec-pinned (PcaSpec) and benched as emb_pca_prod
      val codes = Quantize.scalarQuantize(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64)
      operators.Pca.gram(codes, "codes", 64)
    }),

    "emb_outlier" -> ((s, dir) =>
      // embedding-space outlier scoring: exact integer squared distance
      // to the per-label integer centroid (codes, not floats), flagged
      // by the integer cross-multiplication dist2·n > 4·Σdist2 — no
      // float threshold anywhere, engine-exact by construction
      Quantize.codeOutliers(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, labelCol = Some("label"))),

    "emb_truncate" -> ((s, dir) => {
      // Matryoshka-style prefix truncation (first 16 of 64 dims) — the
      // cheap-ANN representation; retained-mass ratio per vector. Pure
      // map-side; norms are sequential left-folds (IEEE-identical in
      // both engines), only the emitted values rounded.
      val pre = slice(col("embedding"), 1, 16)
      t(s, dir, "embeddings").select(col("vec_id"),
        round(V.norm(pre), 6).as("prefix_norm"),
        round(V.norm(col("embedding")), 6).as("full_norm"),
        round(V.norm(pre) / V.norm(col("embedding")), 6).as("retained"))
    }),

    "corpus_quantiles" -> ((s, dir) =>
      // exact distributed quartiles of doc length per language —
      // (n−1)·q rank interpolation over INTEGER values with dyadic
      // fractions {.25, .5, .75} is exact in doubles, so the two
      // engines' quantile_cont formulas agree bit-for-bit
      t(s, dir, "documents").groupBy("lang").agg(
        percentile(col("n_chars"), lit(0.25)).as("q1_chars"),
        percentile(col("n_chars"), lit(0.5)).as("med_chars"),
        percentile(col("n_chars"), lit(0.75)).as("q3_chars"))),

    "evt_ab_test" -> ((s, dir) => {
      // hash-assigned A/B groups (md5 bucket of user — reproducible
      // across engines/reruns) with exact-decimal purchase metrics
      val g = when(Pipeline.md5Bucket(col("user_id"), "ab", 2) === 0, "control")
        .otherwise("treatment")
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(g.as("grp"), col("user_id"), col("value"))
        .groupBy("grp")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          round(sum(col("value").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6).as("mean_value"))
    }),

    "text_normalize" -> ((s, dir) => {
      // Unicode NFC normalization (native codegen expression, ASCII
      // fast path) — fingerprint + changed flag per doc. The corpus is
      // ASCII (flag all-false); semantics over composed/decomposed
      // accents and ligatures are pinned by TextFunctionsSpec.
      val nfc = graft.functions.TextExpressions.unicodeNormalize(col("text"), "NFC")
      t(s, dir, "documents").select(col("doc_id"),
        md5(nfc).as("nfc_fp"), (nfc =!= col("text")).as("changed"))
    }),

    "corpus_diff" -> ((s, dir) => {
      // snapshot delta vs a deterministically simulated next crawl:
      // md5-bucket 0-9 deleted, 10-19 edited, 90-99 cloned as new ids.
      // One full-outer join on (id, fingerprint) — no payloads shuffled.
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        Pipeline.md5Bucket(col("doc_id"), "rev", 100).as("__b"), col("text"))
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val v2 = base.filter(col("__b") >= 10)
        .select(col("doc_id"),
          when(col("__b") < 20, md5(concat(col("text"), lit("v2"))))
            .otherwise(md5(col("text"))).as("fp"))
        .union(base.filter(col("__b") >= 90)
          .select((col("doc_id") + 1000000L).as("doc_id"), md5(col("text")).as("fp")))
      Pipeline.corpusDiff(v1, v2, "doc_id", "fp")
    }),

    "corpus_incremental" -> ((s, dir) => {
      // the nightly-crawl shape end-to-end: state built from the
      // current corpus, then a simulated next batch — exact clones
      // (bucket 90-99, +1e6), light edits (10-19, +2e6) and synthetic
      // novel docs (0-9, +3e6: alternating stopwords and doc-unique
      // md5 words, so they pass the quality gate and near-dup nothing)
      // — processed O(batch) against the stores. The DuckDB oracle
      // replays the FULL REBUILD on old ∪ batch, so the hash match IS
      // the incremental == rebuild proof.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stateDir = scratchDir("graft_corpus_state")
      Pipeline.writeCorpusState(docs, "doc_id", "text", stateDir, nShards = 8,
        tokenHash = Dedup.md5TokenHash, hashedShard = false)
      Pipeline.prepareCorpusIncremental(s, stateDir, crawlBatch(docs), "doc_id", "text",
        nShards = 8, tokenHash = Dedup.md5TokenHash, hashedShard = false)
        .select(col("doc_id"), md5(col("text")).as("fp"), col("shard"), col("pos"))
    }),

    "corpus_incremental_delta" -> ((s, dir) => {
      // the nightly's HONEST cost: the same increment as
      // corpus_incremental, but against a pre-existing state — the
      // pristine master is built once per session and COPIED to a
      // fresh dir per run (the increment appends to its state, so
      // sharing the live dir across bench passes would pollute it).
      // Identical output => shares corpus_incremental's rebuild
      // oracle; the bench delta between the two entries is the state
      // build the nightly never pays.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val master = pristineCorpusState(s, dir, docs)
      val stateDir = scratchDir("graft_corpus_delta")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(master), new java.io.File(stateDir))
      Pipeline.prepareCorpusIncremental(s, stateDir, crawlBatch(docs), "doc_id", "text",
        nShards = 8, tokenHash = Dedup.md5TokenHash, hashedShard = false)
        .select(col("doc_id"), md5(col("text")).as("fp"), col("shard"), col("pos"))
    }),

    "corpus_stream" -> ((s, dir) => {
      // the nightly as a STRUCTURED STREAMING job end-to-end: the same
      // simulated crawl as corpus_incremental, split into two genuine
      // micro-batches (edits+clones, then novel docs) delivered
      // through a file source; after both triggers the crash-safe
      // export must hash-match the full-rebuild oracle — the
      // spec-pinned replay==rebuild contract, now driver-gated. The
      // batch writes/processAllAvailable calls are gate HARNESS (a
      // production job tails a real crawl directory); the operator
      // under test is StreamOps.corpusStream. Seed state from the
      // session's pristine master COPIED to a fresh dir (the
      // corpus_incremental_delta discipline — the stream appends to
      // its state, and rebuilding the identical seed every bench pass
      // timed the build, not the stream).
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stateDir = scratchDir("graft_corpus_stream")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(pristineCorpusState(s, dir, docs)), new java.io.File(stateDir))
      val crawlDir = s"$stateDir/crawl"
      val batch = crawlBatch(docs)
      batch.filter(col("doc_id") < 3000000L).write.mode("append").parquet(crawlDir)
      val crawl = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(crawlDir)
      val q = graft.streaming.StreamOps.corpusStream(crawl, stateDir, "doc_id", "text",
        checkpoint = s"$stateDir/ckpt", nShards = 8,
        tokenHash = Dedup.md5TokenHash, hashedShard = false).start()
      try {
        q.processAllAvailable()
        batch.filter(col("doc_id") >= 3000000L).write.mode("append").parquet(crawlDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(s"$stateDir/export")
        .select(col("doc_id"), md5(col("text")).as("fp"), col("shard"), col("pos"))
    }),

    "graph_pagerank_weighted" -> ((s, dir) => {
      // weighted pagerank: edge weight = shared-order count, share =
      // (rank·w) div Σw — still pure integer arithmetic; base from
      // the shared sealed purchase-graph cache (Tables.purchaseBase)
      val base = Tables.purchaseBase(s, dir)
      val edges = base.select(col("c").as("src"), col("p").as("dst"), col("w"))
        .union(base.select(col("p").as("src"), col("c").as("dst"), col("w")))
      operators.Graph.pagerank(edges, "src", "dst", iters = 2, weightCol = Some("w"))
    }),

    "graph_triangles" -> ((s, dir) => {
      // exact triangle count on the PREFERRED-supplier graph (pairs
      // sharing ≥8 orders — unthresholded co-occurrence is near-
      // complete at scale and triangle count on a complete graph is
      // meaningless); degree-ordered orientation keeps the wedge join
      // O(m^1.5) — no hub blowup. Pairs from the shared SEALED
      // co-occurrence base (Tables.coSupplierPairs — the purchaseBase
      // treatment, r12): the lineitem self-join is paid once per
      // session, the ≥8 cut is a filter on the sealed relation
      val pairs = Tables.coSupplierPairs(s, dir)
        .filter(col("n") >= 8).select(col("a"), col("b"))
      operators.Graph.triangleCount(pairs, "a", "b")
    }),

    "graph_labelprop" -> ((s, dir) => {
      // community detection (2 synchronous LP rounds, min-label ties)
      // on the same bidirected purchase graph as graph_pagerank;
      // distinct pairs = the cached grouped base's keys
      val base = Tables.purchaseBase(s, dir).select(col("c"), col("p"))
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .union(base.select(col("p").as("src"), col("c").as("dst")))
      operators.Graph.labelPropagation(edges, "src", "dst", iters = 2)
    }),

    "graph_pagerank" -> ((s, dir) => {
      // PageRank (2 iterations, exact 2^40 fixed-point integer units)
      // over the bidirected customer↔supplier purchase graph —
      // pairwise-signal → per-node-score propagation. Suppliers get
      // disjoint ids (key + 10^9) so the two partites can't collide.
      // Distinct pairs = the shared sealed cache's group keys.
      val base = Tables.purchaseBase(s, dir).select(col("c"), col("p"))
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .union(base.select(col("p").as("src"), col("c").as("dst")))
      operators.Graph.pagerank(edges, "src", "dst", iters = 2)
    }),

    "graph_ppr" -> ((s, dir) => {
      // personalized PageRank from a sparse trusted-customer seed set
      // (custkey % 50): proximity-to-seeds over the same bidirected
      // purchase graph — the "expand a high-quality seed corpus"
      // scorer; same integer fixed-point, teleport split over seeds
      val base = Tables.purchaseBase(s, dir).select(col("c"), col("p"))
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .union(base.select(col("p").as("src"), col("c").as("dst")))
      val seeds = base.select(col("c")).distinct().filter(col("c") % 50 === 0)
      operators.Graph.personalizedPagerank(edges, "src", "dst", seeds, "c", iters = 2)
    }),

    "graph_ppr_weighted" -> ((s, dir) => {
      // weighted personalized PageRank — the full pagerank-variant
      // matrix: seed-set teleport (custkey % 50) AND count-weighted
      // edges (share = rank·w div Σw) in one run; prRun supports the
      // combination natively, this gate pins it cross-engine
      val base = Tables.purchaseBase(s, dir)
      val edges = base.select(col("c").as("src"), col("p").as("dst"), col("w"))
        .union(base.select(col("p").as("src"), col("c").as("dst"), col("w")))
      val seeds = base.select(col("c")).distinct().filter(col("c") % 50 === 0)
      operators.Graph.personalizedPagerank(edges, "src", "dst", seeds, "c",
        iters = 2, weightCol = Some("w"))
    }),

    "q_skew_join" -> ((s, dir) => {
      // explicit salt-and-replicate skew join (SkewJoin.hotKeyJoin): every
      // supplier key is a heavy hitter vs the 500-row threshold
      // (~600 lineitems per supplier at every SF), so the salted path
      // carries the whole stream — gate-proves the salted result is
      // row-identical to the plain join (oracle = plain SQL join)
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      operators.SkewJoin.hotKeyJoin(li, sup, "l_suppkey", hotThreshold = 500L, salt = 8)
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("nation"))
    }),

    "graph_concomp" -> ((s, dir) => {
      // order-burst components: orders by the same customer within 7
      // days are linked; CC chains OVERLAPPING windows transitively
      // (a→b and b→c within 7 days puts a,c in one burst even when
      // they are 10 days apart — exactly what a pairwise filter can't
      // express). Gate-exercises Graph.connectedComponents' DISTRIBUTED
      // min-label path — dedup_keeplist's tiny pair sets take the
      // driver union-find shortcut, so this is the path's only gate.
      // Pairs from the shared sealed burst cache (Tables.burstPairs —
      // the custkey-keyed self-join with fanout bounded by
      // orders-per-customer runs once per gate session).
      val e = Tables.burstPairs(s, dir).select(col("a"), col("b"))
      operators.Graph.connectedComponents(e, "a", "b").orderBy(col("node"))
    }),

    "graph_bfs" -> ((s, dir) => {
      // multi-source shortest-hop BFS over the bidirected order-burst
      // graph (same edge construction as graph_concomp), seeded by a
      // sparse deterministic order subset (o_orderkey % 97 == 0).
      // Components are per-customer bursts, so distances stay small
      // but genuinely multi-hop; unreachable orders are absent.
      val pairs = Tables.burstPairs(s, dir).select(col("a"), col("b"))
      val e = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey"))
      operators.Graph.bfs(e, "a", "b", seeds, "o_orderkey").orderBy(col("node"))
    }),

    "graph_sssp" -> ((s, dir) => {
      // weighted shortest paths over the burst graph: edge cost =
      // 1 + day gap, explored within a 21-cost budget (the bounded-
      // radius variant that keeps the recursive-CTE oracle finite)
      val pairs = Tables.burstPairs(s, dir)
      val e = pairs.union(pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      val seeds = t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey"))
      operators.Graph.sssp(e, "a", "b", "w", seeds, "o_orderkey", maxCost = 21L)
        .orderBy(col("node"))
    }),

    "graph_kcore" -> ((s, dir) => {
      // 2-core of the bidirected order-burst graph: peel nodes of
      // degree < 2 until stable — path endpoints peel first, then
      // chains unravel from the ends, so only CYCLE-bearing burst
      // clusters survive (the 3-core is empty on this corpus, which
      // made the old gate trivially green — r9); oracle = the same
      // peeling unrolled maxRounds times (idempotent once converged)
      val pairs = Tables.burstPairs(s, dir).select(col("a"), col("b"))
      val e = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      operators.Graph.kcore(e, "a", "b", k = 2, maxRounds = 8)
        .orderBy(col("node"))
    }),

    "q_range_join" -> ((s, dir) => {
      // point-in-interval join via the binned equi-join rewrite (a
      // BETWEEN join planned as hash join, not BroadcastNestedLoop):
      // revenue landing in each 10-day month-opening promo window.
      // Integer epoch-day arithmetic on both sides.
      val epoch = lit("1970-01-01").cast("date")
      val windows = t(s, dir, "orders")
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("__w")).distinct()
        .select(datediff(col("__w"), epoch).cast("long").as("w_lo"))
        .withColumn("w_hi", col("w_lo") + 9)
      val pts = t(s, dir, "lineitem")
        .select(datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("ship_day"),
          col("l_extendedprice"), col("l_discount"))
      operators.RangeJoin.pointInInterval(pts, "ship_day", windows, "w_lo", "w_hi", binWidth = 16)
        .groupBy(col("w_lo"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    // ---- §2.14 line dedup / clustering / kNN graph / search (r6) ------
    "dedup_lines" -> ((s, dir) =>
      // RefinedWeb-style line-level boilerplate dedup over the
      // deterministic 8-token line-ization (the word-salad corpus has
      // no natural newlines — the machinery is the operator). Gate
      // variant joins on line STRINGS so DuckDB rebuilds the sets;
      // production twin joins on xxhash64 longs.
      Pipeline.lineDedup(
        Pipeline.linify(t(s, dir, "documents"), "doc_id", "text", lineTokens = 8),
        "doc_id", "line_idx", "line", minDocs = 2, hashLines = false)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"), col("dup_ratio"),
          md5(col("clean_text")).as("clean_fp"))),

    "dedup_lines_within" -> ((s, dir) => {
      // intra-doc boilerplate pass: every 5th line re-appended with a
      // shifted index (deterministic repeats — word salad has no
      // natural intra-doc line duplicates), repeats dropped keeping
      // the first occurrence, clean text rebuilt in line order
      val lines = Pipeline.linify(t(s, dir, "documents"), "doc_id", "text", lineTokens = 8)
      val extra = lines.filter(col("line_idx") % 5 === 0)
        .withColumn("line_idx", col("line_idx") + lit(1000000L))
      Pipeline.dedupLinesWithin(lines.unionByName(extra), "doc_id", "line_idx", "line")
        .select(col("doc_id"), col("n_lines"), col("n_repeat_lines"),
          col("repeat_ratio"), md5(col("clean_text")).as("clean_fp"))
    }),

    "cluster_kmeans" -> ((s, dir) =>
      // 2 Lloyd updates from md5-sampled init; centroid sums are
      // floor(v·2^20) exact longs, so the update — and therefore every
      // assignment — is bit-identical across engines/partitionings
      Cluster.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        k = 8, iters = 2,
        sampleKey = Some(id => md5(concat(lit("km:"), id.cast("string")))))),

    "sim_knn_graph" -> ((s, dir) =>
      // all-corpus kNN graph over LSH-bucket candidates; LCG planes so
      // DuckDB rebuilds the identical candidate set + ranking
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, nBits = 8,
        planes = Some(graft.functions.VectorExpressions.lcgPlanes(64, 8, 8)))),

    "text_search_tf" -> ((s, dir) =>
      // inverted-index retrieval, integer-exact core (tf/df/rank)
      Search.searchTopK(t(s, dir, "documents"), "doc_id", "text",
        terms = searchTerms, k = 10)),

    "text_search_proximity" -> ((s, dir) =>
      // minimal covering window over the three search terms — the
      // integer-exact proximity ("slop") scorer; docs holding all
      // three terms only
      Search.proximityWindow(t(s, dir, "documents"), "doc_id", "text",
        terms = searchTerms)),

    "text_search_phrase" -> ((s, dir) =>
      // positional phrase retrieval ("hash join", adjacent in order)
      // via the diagonal trick — integer-exact (positions + count
      // distinct), engine-reproducible as-is
      Search.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        phrase = Seq("hash", "join"))),

    "text_search_phrase_indexed" -> ((s, dir) =>
      // the same phrase query served from the session-master
      // POSITIONAL index: stored occurrences, bucket-pruned — corpus
      // text never read at query time; same relation, shared oracle
      Search.phraseSearchIndexed(s, masterPostingsIndex(s, dir), "doc_id",
        phrase = Seq("hash", "join"))),

    "text_search_proximity_indexed" -> ((s, dir) =>
      // minimal covering window from stored positions (shared oracle
      // with the tokenize-at-query-time twin)
      Search.proximityWindowIndexed(s, masterPostingsIndex(s, dir), "doc_id",
        terms = searchTerms)),

    "text_bm25" -> ((s, dir) =>
      // full BM25 over the same relation. GATE-SAFE despite the
      // per-row ln(): every input to the one transcendental is the
      // identical double on both engines (integer tf/df/N; avgdl is an
      // exact integer-valued-double sum / n), so engines differ by
      // ≤1 ulp; measured min adjacent-score gap on this corpus is
      // ~2e-5 and every score sits ≥1e-8 from a round-6 boundary at
      // all 3 SFs (7 orders above ulp noise) — ranking and the
      // rounded value are deterministic. Float SUMS (the actual flake
      // class) never occur: the only aggregation of doubles, avgdl,
      // sums integer-valued doubles « 2^53, which is exact and
      // order-free.
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        terms = searchTerms, k = 10)),

    "text_search_ranked" -> ((s, dir) =>
      // proximity-RANKED retrieval: per-doc BM25 total × slop boost
      // (1 + 1/minimal-covering-window). GATE-SAFE by the text_bm25
      // argument extended to the composition: per-term scores are
      // bit-identical up to the single ln() ulp; the per-doc total is
      // a fixed-order PIVOT (((s0+s1)+s2), not an order-dependent
      // float sum); the boost is integer-derived (one exact division).
      // Measured on this corpus: min adjacent-score gap among the
      // top-20 rank competitors 7.6e-5 (sf0.1; larger at smaller SFs)
      // and min distance of any top-10 score to a round-6 boundary
      // 5.6e-9 — both ≥6 orders above the O(3-ulp) ≈ 5e-15
      // cross-engine noise.
      Search.rankedTopK(t(s, dir, "documents"), "doc_id", "text",
        terms = searchTerms, k = 10)),

    "text_search_ranked_indexed" -> ((s, dir) =>
      // rankedTopK served from the persisted store: per-term scores
      // from the pruned postings (identical doubles — the
      // text_search_indexed argument), proximity boost from the
      // stored occurrences, fusion core SHARED with the scratch
      // operator so the paths cannot drift — completing the
      // index-served retrieval surface (tf/BM25/phrase/proximity/
      // ranked all answer without touching corpus text). Shares the
      // text_search_ranked oracle; reads the session master.
      Search.rankedTopKIndexed(s, masterPostingsIndex(s, dir), "doc_id",
        searchTerms, k = 10)),

    "text_search_hybrid" -> ((s, dir) => {
      // HYBRID retrieval — RRF fusion (1/(60+text_rank) +
      // 1/(60+vec_rank)) of the gated text ranking (rankedTopK) and
      // the gated vector ranking (exact cosine vs vec_id 0's
      // embedding) over the docs-that-have-embeddings corpus. Scores
      // stay UNROUNDED: ranks are exact integers, IEEE division of
      // integers is correctly rounded (bit-identical cross-engine),
      // and the two-term sum is a fixed expression tree — no
      // transcendental, no order-dependent float sum; ties break to
      // the smaller id on both engines.
      val emb = t(s, dir, "embeddings")
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      Search.hybridTopK(corpus, "doc_id", "text", "embedding", qv,
        terms = searchTerms, k = 10)
    }),

    "text_search_indexed" -> ((s, dir) => {
      // persisted-postings path: tokenize once into term-hash-bucket
      // partitions + exact integer corpus stats, query through the
      // static bucket filter — must equal bm25TopK bit-for-bit (N and
      // avgdl derive from the integer stats exactly as the scorer's
      // count/avg; the index changes WHICH FILES are read, proven via
      // numFiles in SearchSpec), so it shares the text_bm25 oracle.
      // The index is the session MASTER (built once, read-only here —
      // the pristineCorpusState discipline): an index's entire point
      // is that the O(corpus) tokenize is paid once and amortized, so
      // timing a rebuild per bench pass would measure the build the
      // spec already pins, not the query path under test.
      Search.queryPostingsIndex(s, masterPostingsIndex(s, dir), "doc_id",
        searchTerms, k = 10)
    }),

    "text_search_delete" -> ((s, dir) => {
      // search-index retirement: every doc_id %10==7 doc TOMBSTONED
      // (O(batch) — a doc's terms touch ~every bucket, so in-place
      // rewrite would be O(index); Lucene's delete-then-merge
      // instead), then queried. The tombstone-corrected N/avgdl/df
      // are exact integer arithmetic, so results must equal a fresh
      // build of the survivors — the oracle replays exactly that
      // (bm25 over the filtered corpus). Master index COPIED to a
      // fresh dir per run (tombstones mutate the store — the
      // corpus_incremental_delta discipline).
      val docs = t(s, dir, "documents")
      val path = scratchDir("graft_postings_del") + "/idx"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(masterPostingsIndex(s, dir)), new java.io.File(path))
      Search.deleteFromPostingsIndex(s, path,
        docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")), "doc_id")
      Search.queryPostingsIndex(s, path, "doc_id", searchTerms, k = 10)
    }),

    "text_search_compact" -> ((s, dir) => {
      // the merge half of delete-then-merge: same tombstone batch as
      // text_search_delete, then compactPostingsIndex folds it in
      // physically (postings/positions/docs rewritten minus victims,
      // stats RECOMPUTED from the surviving sidecar, epoch bumped,
      // tombstones cleared) and the COMPACTED store is queried —
      // compaction changes bytes, never results, so this shares the
      // bm25-over-survivors oracle (the sim_ivf_delete pattern:
      // maintenance op + query under one oracle). Master COPIED to a
      // per-run scratch dir (compact mutates the store).
      val docs = t(s, dir, "documents")
      val path = scratchDir("graft_postings_cmp") + "/idx"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(masterPostingsIndex(s, dir)), new java.io.File(path))
      Search.deleteFromPostingsIndex(s, path,
        docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")), "doc_id")
      Search.compactPostingsIndex(s, path)
      Search.queryPostingsIndex(s, path, "doc_id", searchTerms, k = 10)
    }),

    "text_keyphrase" -> ((s, dir) =>
      // per-doc TF-IDF keyphrases: integer fixed-point idf (N·1024 div
      // df), >50%-df stopword cut, top-5 per doc with (score DESC,
      // term ASC) ties — all-integer, engine-exact
      Search.keyphrases(t(s, dir, "documents"), "doc_id", "text", k = 5)),

    "sketch_hll" -> ((s, dir) => {
      // persisted HLL distinct sketches, hash-checked (r9): the gate
      // variant hashes with the portable md5 hi/lo 64-bit derivation
      // (Dedup.md5TokenHash) so DuckDB rebuilds the registers with
      // exact integer arithmetic — bucket = top-12 bits, rank =
      // leading zeros of the low-52 suffix + 1 (via bin() length).
      // Register CONTENT is pinned (fingerprint + integer moments);
      // the float estimator stays spec-pinned in HllSpec and benched
      // on the xxhash64 production twin (sketch_hll_prod).
      val docs = t(s, dir, "documents")
      val regs = HllAggregate.registers(col("__s"))
      docs.groupBy(col("lang"))
        .agg(HllAggregate.sketch(Dedup.md5TokenHash(col("doc_id").cast("string"))).as("__s"),
          countDistinct(col("doc_id")).as("exact"))
        .select(col("lang"), col("exact"),
          aggregate(regs, lit(0L), (a, x) => a + x).as("reg_sum"),
          size(filter(regs, x => x =!= 0)).cast("long").as("reg_nonzero"),
          md5(concat_ws(",", regs.cast("array<string>"))).as("reg_fp"))
    }),

    "corpus_overlap" -> ((s, dir) => {
      // cross-segment vocabulary overlap from KMV bottom-k sketches,
      // hash-checked (r9): tokens hashed with the portable 60-bit md5
      // derivation (15 hex chars — non-negative, so signed==unsigned
      // order and DuckDB's bottom-k is a plain ORDER BY h LIMIT k);
      // the oracle replays the (n−1)/θ estimator with Spark's exact
      // float arithmetic and the Jaccard |M∩A∩B|/|M| from union CTEs.
      // Production (xxhash64) twin benched as corpus_overlap_prod.
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("lang"), explode(T.tokens(col("text"))).as("__t"))
      val sk = tok.groupBy(col("lang"))
        .agg(graft.functions.KmvAggregate.sketch(
            conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long"), kmvK).as("__s"),
          countDistinct(col("__t")).as("exact_vocab"))
      val en = sk.filter(col("lang") === "en").select(col("__s").as("__en"))
      sk.crossJoin(broadcast(en))
        .select(col("lang"), col("exact_vocab"),
          round(graft.functions.KmvAggregate.estimate(col("__s")), 3).as("est_vocab"),
          round(graft.functions.KmvAggregate.jaccard(col("__s"), col("__en")), 6)
            .as("jaccard_vs_en"))
        .orderBy(col("lang"))
    }),

    // ---- §2.15 data quality / upsert / SCD2 / nearest-asof (r9) -------
    "quality_profile" -> ((s, dir) =>
      // single-pass column profiler over lineitem (int + string columns
      // — native-typed extrema cast to string; doubles go through
      // profileNumeric). exactDistinct opt-in so the oracle can
      // recompute; production default is the Expand-free approx path.
      Quality.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        exactDistinct = true)),

    "quality_constraints" -> ((s, dir) => {
      // declarative constraint suite: 4 row-level rules in ONE scan
      // (sum(CASE) per rule) + the two rules that genuinely need their
      // own exchange — referential FK (anti-join) and key-uniqueness
      // (groupBy count) — unioned into a single
      // (rule, n_violations, n_rows, passed) report
      val li = t(s, dir, "lineitem")
      Quality.checkConstraints(li, Seq(
        "qty_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "discount_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1)))
        .unionByName(Quality.referentialCheck("order_fk", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"))
        .unionByName(Quality.uniqueCheck("pk_unique", li,
          Seq("l_orderkey", "l_linenumber")))
    }),

    "quality_profile_numeric" -> ((s, dir) =>
      // numeric profiler over the lineitem measures: exact decimal
      // mean (the money-sum recipe — order-free on both engines),
      // native double extrema, exact distinct for the oracle
      Quality.profileNumeric(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        exactDistinct = true)),

    "ds_upsert" -> ((s, dir) => {
      // key-based MERGE: segment rewrite on custkey%7 (matched update)
      // + custkey%11 shifted by 9M (not-matched insert); updates are
      // key-unique by construction (the documented contract)
      val cust = t(s, dir, "customer")
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + lit(9000000L)))
      Gds(cust).upsert(Gds(updates), "c_custkey").toDF
    }),

    "ds_upsert_latest" -> ((s, dir) => {
      // latest-wins MERGE with non-unique, out-of-order updates: the
      // per-user latest of the even-id half as the target, the RAW
      // odd-id half (duplicate keys) as updates — the merge must
      // reconstruct exactly the per-user latest over ALL events
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val target = ev.filter(col("event_id") % 2 === 0)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val updates = ev.filter(col("event_id") % 2 === 1)
      Gds(target).upsertLatest(Gds(updates), Seq("user_id"), Seq("ts", "event_id")).toDF
    }),

    "evt_scd2" -> ((s, dir) =>
      // SCD2 dimension build from the event stream: per-user state =
      // event_type, consecutive repeats collapsed into validity
      // intervals, ties broken by event_id (pure function of the data)
      TimeSeries.scd2History(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")),

    "evt_scd2_lookup" -> ((s, dir) => {
      // point-in-time join: what was each user's last click/view state
      // WHEN they purchased — SCD2 build (deduped change stream, so
      // valid_from is unique per key) + backward as-of lookup
      val ev = t(s, dir, "events")
      val wDedup = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val src = ev.filter(col("event_type").isin("click", "view"))
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
      val hist = TimeSeries.scd2History(src, "user_id", "event_type", "ts", "event_id")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      TimeSeries.pointInTime(hist, probes, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("state"))
    }),

    "evt_asof_nearest" -> ((s, dir) => {
      // nearest-event as-of join (backward OR forward, ties backward):
      // clicks pick up the value of the closest view. Right side is
      // deduped to one row per (user, ts) so tie-breaks are pure
      // timestamp distance — oracle replays it with two DuckDB ASOF
      // joins (<= and >=) and the same tie rule.
      val clicks = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = t(s, dir, "events").filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      TimeSeries.asofNearest(clicks, views, "user_id", "ts", "ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("view_value"), 2).as("view_value"))
    }),

    "quality_correlation" -> ((s, dir) =>
      // pairwise Pearson over the lineitem measures from ONE scan of
      // exact decimal moments — bit-deterministic r (see scaladoc)
      Quality.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),

    "quality_histogram" -> ((s, dir) =>
      // 16-bin fixed-width histogram of the price measure: broadcast
      // scalar min/max + map-side IEEE bin expression + partial count
      Quality.histogramNumeric(t(s, dir, "lineitem"), "l_extendedprice", bins = 16)),

    "quality_emb_drift" -> ((s, dir) => {
      // embedding-space drift between the even/odd snapshot halves:
      // centroid cosine from exact decimal per-dim sums + spread
      // (mean |x|²) per side — the vector-space drift monitor
      val emb = t(s, dir, "embeddings")
      Quality.embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "embedding")
    }),

    "quality_drift" -> ((s, dir) => {
      // numeric drift between the early and late halves of the fact
      // stream (shipdate ≤ 1997 vs after): count/mean/distinct/range
      // movement per measure, from one profile pass per side
      val li = t(s, dir, "lineitem")
      val cut = col("l_shipdate") < lit("1998-01-01").cast("timestamp")
      Quality.profileDrift(li.filter(cut), li.filter(!cut),
        Seq("l_quantity", "l_extendedprice"), exactDistinct = true)
    }),

    "quality_content_drift" -> ((s, dir) => {
      // the script/PII monitor's batch halves gated end-to-end:
      // baseline = the raw corpus, "tonight's batch" = the same docs
      // with a deterministically planted incident (1-in-5 flip to
      // Cyrillic, a further 1-in-7 leak an email + Luhn-valid card);
      // the drift rows must register exactly the planted composition
      // shifts. All counts integer, rates round-6 integer-derived
      // divisions, rate_shift a difference of round-6 doubles — fully
      // engine-deterministic.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, repeat(lit("привет мир "), 10))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact x@y.io pay 4111111111111111 now")))
          .otherwise(col("text")).as("text"))
      Quality.contentDriftFromProfiles(
        Quality.contentProfile(docs, "text"),
        Quality.contentProfile(batch, "text"))
    }),

    "quality_schema_diff" -> ((s, dir) => {
      // schema-drift report between yesterday's load and today's:
      // narrowed key, float-compressed money, a dropped column, a new
      // lineage column — metadata-only, no scan, no job. The timestamp
      // column is left untouched on both sides (its Spark/DuckDB type
      // NAMES differ; unchanged columns never reach the report)
      val before = t(s, dir, "orders")
      val after = before
        .withColumn("o_orderkey", col("o_orderkey").cast("int"))
        .withColumn("o_totalprice", col("o_totalprice").cast("float"))
        .drop("o_orderpriority")
        .withColumn("o_load_src", lit("batch"))
      Quality.schemaDiff(before, after)
    }),

    "sample_split_group" -> ((s, dir) => {
      // leakage-safe split: bucket by the exact-dup CLUSTER canonical
      // (min doc_id per normalized fingerprint), so duplicate copies
      // can never straddle train/test — the contamination channel a
      // row-hash split leaves open
      val docs = t(s, dir, "documents")
      val withFp = docs.select(col("doc_id"), md5(T.normText(col("text"))).as("__fp"))
      val canon = withFp.groupBy(col("__fp")).agg(min(col("doc_id")).as("canon"))
      Pipeline.groupSplit(withFp.join(canon, "__fp").select(col("doc_id"), col("canon")),
        "doc_id", "canon")
    }),

    "sample_token_budget" -> ((s, dir) =>
      // best-100k-chars selection in (n_chars DESC, doc_id ASC)
      // priority order — exact integer running total, selected while
      // within budget; distributed via range-partition + per-partition
      // prefix offsets, never a single-task global window
      Pipeline.selectToBudget(t(s, dir, "documents"), "doc_id", "n_chars",
        col("n_chars"), budget = 100000L)),

    "sample_token_mix" -> ((s, dir) =>
      // token-budget mixture: src0/src1/src2 get 3:2:1 char budgets,
      // each filled by hash-priority prefix; unbudgeted sources pass
      // through selected=false — the per-source generalization of
      // sample_token_budget (same prefix-offset machinery, per group)
      Pipeline.tokenMixToBudget(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", budgets = Seq("src0" -> 6000L, "src1" -> 4000L, "src2" -> 2000L))),

    "evt_asof_nearest_tol" -> ((s, dir) => {
      // tolerance-bounded nearest: candidates farther than 30 min are
      // disqualified BEFORE the pick (a stale backward loses to an
      // in-budget forward; neither in budget -> NULL payload)
      val clicks = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = t(s, dir, "events").filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      TimeSeries.asofNearest(clicks, views, "user_id", "ts", "ts", Seq("view_value"),
        toleranceSeconds = Some(1800))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("view_value"), 2).as("view_value"))
    }),
  )

  /** Query terms for the search gate/bench entries — common corpus
    * vocabulary, shared with the generated oracle IN-list. */
  private val searchTerms = Seq("spark", "join", "window")

  /** KMV sketch size for the corpus_overlap gate — small enough that
    * every per-lang sketch is FULL at sf0.001 (the (n−1)/θ estimator
    * path is exercised, not the exact-set fallback), shared with the
    * generated oracle's bottom-k LIMIT. */
  private val kmvK = 256

  /** Deterministic PII-bearing text column: every third doc gets a
    * contact suffix derived from its id (email + phone + IPv4). The
    * corpus itself is synthetic word-salad with no natural PII, so
    * this is what makes the detector/scrubber verifiable end-to-end. */
  private def piiContact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
          lit("-0142 at 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".7")))
        .otherwise(col("text")).as("__txt"))

  /** Integer mix weights for corpus_mix — sources src0..9 at weight 3,
    * src10..14 at weight 2, src15..19 unweighted (dropped). Shared
    * with the generated oracle VALUES list. */
  private val mixWeights: Seq[(String, Int)] =
    (0 until 10).map(i => s"src$i" -> 3) ++ (10 until 15).map(i => s"src$i" -> 2)

  /** Perf-only PRODUCTION-mode twins of the gate queries whose
    * `queries` entry swaps in an engine-portable derivation (md5 /
    * LCG planes / string shingles) purely so the DuckDB oracle can
    * rebuild the result. These run the production defaults
    * (xxhash64 token hashes, Gaussian hyperplanes, hashed shingle
    * sets) through the SAME operator code paths. No oracle — they are
    * timing entries only, benched so the production path keeps a perf
    * signal (the gate variants carry an oracle-portability tax: md5 is
    * ~3× xxhash64, string shingle sets ~3× hashed). Not part of the
    * driver's `queries` contract, so CORRECTNESS stays 100%
    * hash-checked. */
  def perfQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_search_hybrid_indexed_prod" -> ((s, dir) => {
      // the 100 TB hybrid path: RRF fused ENTIRELY from the two
      // persisted stores — ≤|terms| postings buckets + nProbe of 16
      // IVF cells read; corpus text and the full vector set never
      // touched. The scratch hybrid is the gated twin; exhaustive-
      // probe equivalence is spec-pinned (SearchSpec); production
      // recall is the gated sim_ivf_recall number.
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      val (ivfPath, flat) = masterIvfIndex(s, dir)
      Search.hybridTopKIndexed(s, masterHybridPostings(s, dir), ivfPath, flat, qv,
        "vec_id", "embedding", searchTerms, k = 10, dim = 64, nProbe = 4)
    }),

    "sketch_hll_prod" -> ((s, dir) => {
      // the sketch-table rollup at event scale: per-type user sketches
      // merged to one corpus sketch — distinct-users-anywhere answered
      // from |types| 4 KB sketches, never a re-scan
      val ev = t(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(HllAggregate.sketch(xxhash64(col("user_id"))).as("__s"))
        .agg(HllAggregate.merge(col("__s")).as("__s"))
        .select(round(HllAggregate.estimate(col("__s")), 3).as("est_users"))
    }),

    "quality_profile_prod" -> ((s, dir) =>
      // the 100 TB profile path: approx_count_distinct default —
      // mergeable HLL partial agg, NO multi-distinct Expand (the plan
      // shape QualitySpec asserts), over the event-scale relation
      Quality.profile(t(s, dir, "events"),
        Seq("event_id", "user_id", "event_type", "props"))),

    "corpus_overlap_prod" -> ((s, dir) => {
      // production KMV path: xxhash64 token hashes (~3× cheaper than
      // the gate's portable md5 derivation), same operator code
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("lang"), explode(T.tokens(col("text"))).as("__t"))
      val sk = tok.groupBy(col("lang"))
        .agg(graft.functions.KmvAggregate.sketch(xxhash64(col("__t"))).as("__s"),
          countDistinct(col("__t")).as("exact_vocab"))
      val en = sk.filter(col("lang") === "en").select(col("__s").as("__en"))
      sk.crossJoin(broadcast(en))
        .select(col("lang"), col("exact_vocab"),
          round(graft.functions.KmvAggregate.estimate(col("__s")), 3).as("est_vocab"),
          round(graft.functions.KmvAggregate.jaccard(col("__s"), col("__en")), 6)
            .as("jaccard_vs_en"))
        .orderBy(col("lang"))
    }),

    "corpus_quantiles_prod" -> ((s, dir) =>
      // the 100-TB quantile path: approx_percentile (one-pass
      // mergeable sketch, no sort) — exactness traded for a fixed
      // accuracy budget; the exact sort-based twin is gated
      t(s, dir, "documents").groupBy("lang").agg(
        approx_percentile(col("n_chars"), lit(0.25), lit(10000)).as("q1_chars"),
        approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("med_chars"),
        approx_percentile(col("n_chars"), lit(0.75), lit(10000)).as("q3_chars"))),

    "text_compress_prod" -> ((s, dir) =>
      // deflate-ratio quality signal (native codegen expression); no
      // SQL oracle exists (DuckDB has no deflate) → spec-pinned, benched
      t(s, dir, "documents").select(col("doc_id"),
        round(graft.functions.TextExpressions.deflateRatio(col("text")), 6).as("deflate_ratio"))),

    "dedup_simhash_prod" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")),

    "dedup_method_eval_prod" -> ((s, dir) => {
      // production-hash twin of dedup_method_eval, scoring the MINHASH
      // pipeline (banding has no portable-hash twin, so this one is
      // benched): recall/precision of banded minhash ≥ 0.5 vs the
      // exact shared-shingle Jaccard truth
      val docs = t(s, dir, "documents")
      Dedup.pairEval(
        Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5),
        Dedup.minhashPairs(docs, "doc_id", "text").select(col("id_l"), col("id_r")))
    }),

    "text_classify_prod" -> ((s, dir) =>
      // production scoring path: xxhash64 token keys — the scoring
      // shuffle carries longs, never token strings
      Pipeline.classifyCentroid(t(s, dir, "documents"), "doc_id", "text", "lang",
        hashed = true)),

    "emb_pca_prod" -> ((s, dir) =>
      // the full PCA path: quantize → moment aggregate → driver Jacobi
      // → map-side top-4 projection (no SQL eigensolve → benched;
      // component/projection semantics spec-pinned in PcaSpec)
      operators.Pca.fitTransform(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 4)),

    "bpe_train_prod" -> ((s, dir) =>
      // deeper merge run (50 rules): benches the per-round marginal —
      // the number that holds when a production 32k-merge run multiplies
      // the round count, since per-round work is constant by design
      Pipeline.bpeTrain(t(s, dir, "documents"), "text", merges = 50)),

    "graph_pagerank_prod" -> ((s, dir) => {
      // production iteration count (10 vs the gate's 2) on the same
      // purchase graph: benches the LINEAR-lineage iteration shape —
      // per-iteration marginal cost is the number that holds at a
      // cluster's 30-50 iteration convergence runs
      val base = Tables.purchaseBase(s, dir).select(col("c"), col("p"))
      val edges = base.select(col("c").as("src"), col("p").as("dst"))
        .union(base.select(col("p").as("src"), col("c").as("dst")))
      operators.Graph.pagerank(edges, "src", "dst", iters = 10)
    }),

    "dedup_ngram_jaccard_prod" -> ((s, dir) => {
      // identical candidate pairs to the gate entry; hashed shingle
      // sets (longs) instead of strings — the scale-safe verify join
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_l"), (col("doc_id") + 1).as("id_r"))
        .filter(col("id_l") % 10 === 0)
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", 3)
        .filter(col("jaccard") > 0)
    }),

    "dedup_embedding_prod" -> ((s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64)),

    "contamination_ngram_prod" -> ((s, dir) => {
      // hashed-gram variant: broadcast/build side and join keys are
      // xxhash64 longs, never shingle text
      val docs = t(s, dir, "documents")
      Pipeline.contamination(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 3, hashGrams = true)
    }),

    "sim_lsh_topk_prod" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nBits = 8)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "sim_ivf_topk_prod" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
    }),

    "mm_features_prod" -> ((s, dir) => {
      val media = Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, 16)
        .select(col("media_id"), size(col("embedding")).cast("long").as("dim"),
          round(graft.functions.VectorFunctions.norm(col("embedding")), 6).as("norm"))
    }),

    "dedup_spans_maximal_prod" -> ((s, dir) =>
      // hashed anchors: every exchange carries (hash, doc, pos) longs
      Dedup.maximalSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 3, minLen = 4)),

    "dedup_spans_prod" -> ((s, dir) =>
      // hashed-gram variant: the gram shuffle and the shared-gram join
      // carry xxhash64 longs, never 5-gram text
      Pipeline.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2, hashGrams = true)),

    "text_unigram_prod" -> ((s, dir) =>
      // hashed tokens + the classic mean-log-prob quality score
      Pipeline.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    "text_dsir_prod" -> ((s, dir) =>
      // the paper's smoothed mean log-ratio over hashed tokens
      Pipeline.dsirLogRatio(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en")),

    "shuffle_shard_prod" -> ((s, dir) =>
      // xxhash64 shard bucket + sort key (~3x cheaper/row than md5)
      Pipeline.shuffleShard(t(s, dir, "documents"), "doc_id", nShards = 8,
        hashed = true)),

    "dedup_containment_prod" -> ((s, dir) => {
      // hashed shingle sets (longs) — the scale-safe containment join
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_l"), (col("doc_id") + 1).as("id_r"))
        .filter(col("id_l") % 10 === 0)
      Dedup.ngramContainment(pairs, docs, "doc_id", "text", 3)
    }),

    "text_collocations_prod" -> ((s, dir) =>
      // hashed tokens + the transcendental PMI value
      Pipeline.collocationsPmi(t(s, dir, "documents"), "text", minCount = 5)),

    "text_bigram_lm_prod" -> ((s, dir) =>
      // xxhash64 bigram keys — the scoring shuffle carries longs
      Pipeline.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
        hashTokens = true)),

    "sample_topk_per_group_prod" -> ((s, dir) =>
      // xxhash64 rank order (cheaper; not oracle-recomputable)
      Pipeline.topKPerGroup(t(s, dir, "documents"), "lang", "doc_id", k = 10,
        hashed = true)),

    "emb_pq_prod" -> ((s, dir) => {
      // production PQ: k=16 codes/subspace, xxhash64-sampled init
      val emb = t(s, dir, "embeddings")
      val cbs = Quantize.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
        m = 4, k = 16, iters = 2)
      Quantize.pqEncode(emb, "vec_id", "embedding", dim = 64, cbs)
    }),

    "sim_ivfpq_prod" -> ((s, dir) => {
      // the memory-bounded ANN composition: IVF probe over PQ codes +
      // exact rescore of the 20-deep shortlist
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 1000 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 16,
        rescore = 20)
    }),

    "pipeline_prepare_prod" -> ((s, dir) =>
      // the one-call end-to-end corpus prep (quality -> scrub -> exact
      // dedup -> near-dup components -> shuffle/shard)
      Pipeline.prepareCorpus(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8)),

    "dedup_semantic_prod" -> ((s, dir) =>
      // xxhash64 centroid sampling (production default)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        nCentroids = 16, threshold = 0.4)),

    "sample_stratified_prod" -> ((s, dir) =>
      // xxhash64 bucket (~3x cheaper/row than the md5 gate bucket)
      Pipeline.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        rates = Seq("en" -> 40, "de" -> 70), defaultPct = 100,
        bucketOf = Pipeline.xxBucket)),

    "dedup_lines_prod" -> ((s, dir) =>
      // hashed-line variant: duplicate detection shuffles 8-byte
      // xxhash64 keys, never line text
      Pipeline.lineDedup(
        Pipeline.linify(t(s, dir, "documents"), "doc_id", "text", lineTokens = 8),
        "doc_id", "line_idx", "line", minDocs = 2, hashLines = true)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"), col("dup_ratio"),
          md5(col("clean_text")).as("clean_fp"))),

    "cluster_kmeans_prod" -> ((s, dir) =>
      // production config: xxhash64 init sampling, deeper Lloyd run
      Cluster.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        k = 8, iters = 4)),

    "sim_knn_graph_prod" -> ((s, dir) =>
      // Gaussian hyperplanes (production default)
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, nBits = 8)),

    "text_bm25_prod" -> ((s, dir) =>
      // full BM25 scoring over the searchTopK relation (log() is
      // transcendental → benched, not gated)
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        terms = searchTerms, k = 10)),
  )

  /** Per-query scratch dir for sink roundtrips (driver may run Verify
    * with a read-only CWD, so use java.io.tmpdir). */
  private def scratch(s: SparkSession, dir: String, name: String): String = {
    val base = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    s"$base/graft_scratch/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/$name"
  }

  // -------------------------------------------------------------------
  // DuckDB oracle SQL — identical column names & rounding as above.
  // Tables are registered by the driver from the same parquet files.
  // -------------------------------------------------------------------

  /** SQL fragments generated from the same marker lists as
    * TextFunctions so both engines compute identical occurrence
    * arithmetic (plain replace, not regex). */
  private val normSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
  private def occSql(word: String): String = {
    val needle = s" $word "
    s"((length(' ' || $normSql || ' ') - length(replace(' ' || $normSql || ' ', ' $word ', ' '))) // ${needle.length - 1})"
  }
  private def langScoreSql(words: Seq[String]): String = words.map(occSql).mkString("(", " + ", ")")
  private val langIdSql: String = {
    val scores = graft.functions.TextFunctions.langMarkers.map { case (l, ws) => l -> langScoreSql(ws) }
    val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    // same fold direction as TextFunctions.langId: first language in
    // priority order whose score equals the (positive) max wins
    scores.reverse.foldLeft("'und'") { case (elseC, (lang, s)) =>
      s"CASE WHEN $s = __best AND __best > 0 THEN '$lang' ELSE $elseC END"
    }.replace("__best", best)
  }

  // ---- generated oracle fragments for the LLM-pipeline queries ------

  /** Word-k-shingle distinct sets per doc — the DuckDB twin of
    * TextFunctions.shingles + array_distinct (incl. the <k-token
    * whole-text case, mirroring StringShinglesImpl). */
  private def shingleSetsSqlK(k: Int): String = raw"""
    s AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+${k - 1}], ' ') FOR i IN range(1, len(toks)-${k - 2})] END) AS sh
      FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
            FROM documents))"""

  private val shingleSetsSql = shingleSetsSqlK(3)

  /** Exact all-pairs Jaccard >= threshold via a shared-shingle
    * prefilter (any J>0 pair shares a shingle, so this is exact). */
  private val exactJaccardPairsSql = raw"""
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
    cand AS (SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
    jac AS (SELECT c.id_l, c.id_r,
              round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
            FROM cand c JOIN s sa ON c.id_l = sa.doc_id JOIN s sb ON c.id_r = sb.doc_id)"""

  /** Cosine mirroring VectorExpressions.CosineSimilarity exactly:
    * sequential left-to-right double accumulation of dot/|a|²/|b|²
    * over min-length, then dot / (sqrt·sqrt). */
  private def cosSql(a: String, b: String): String = {
    def fold(terms: String) = s"list_reduce($terms, (x, y) -> x + y)"
    val n = s"least(len($a), len($b))"
    val dot = fold(s"[CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE) FOR i IN range(0, $n)]")
    val na = fold(s"[CAST($a[i+1] AS DOUBLE) * CAST($a[i+1] AS DOUBLE) FOR i IN range(0, $n)]")
    val nb = fold(s"[CAST($b[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE) FOR i IN range(0, $n)]")
    s"($dot / (sqrt($na) * sqrt($nb)))"
  }

  /** The nTables LCG-plane sign-LSH bucket ids of a vector column —
    * the DuckDB twin of VectorExpressions.lcgPlanes + LshSignBuckets
    * (identical integer plane derivation, identical double fold). */
  private def lcgBucketsSql(vec: String, dim: Int = 64, nBits: Int = 8, nTables: Int = 8): String =
    s"""[ list_reduce([ CASE WHEN list_reduce(
       [ CAST($vec[d+1] AS DOUBLE) * (((1103515245::BIGINT * ((tb*$nBits+bb)*$dim+d) + 12345) % 2147483648)/2147483648.0 - 0.5)
         FOR d IN range(0, least($dim, len($vec))) ], (x, y) -> x + y) >= 0
       THEN (1::BIGINT << bb) ELSE 0 END FOR bb IN range(0, $nBits)], (x, y) -> x + y)
     FOR tb IN range(0, $nTables) ]"""

  /** Per-table (vec, table, bucket) relations + ranked ANN top-k tail
    * shared by the sim_lsh/sim_ivf oracles. */
  private val annRankTail = """
    SELECT qid, vec_id, score, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
          FROM scored WHERE NOT isnan(score))
    WHERE rnk <= 5"""

  /** IVF coarse-quantizer CTE body shared by the sim_ivf_topk /
    * sim_ivf_index / sim_ivfpq_topk oracles: 16 md5-sampled centroids,
    * corpus cell = nearest-by-cosine (ties to the lower centroid
    * index, the nearestCentroids contract), queries probe their 4
    * nearest cells. */
  private def ivfCoarseCtesFrom(centWhere: String, corpusWhere: String = ""): String =
    s"""cent AS (SELECT cv, cidx FROM (
              SELECT embedding AS cv,
                     row_number() OVER (ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR))) - 1 AS cidx
              FROM embeddings $centWhere) WHERE cidx < 16),
       asgn AS (SELECT v.vec_id, c.cidx,
                  row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY ${cosSql("v.embedding", "c.cv")} DESC, c.cidx ASC) AS rnk
                FROM (SELECT * FROM embeddings $corpusWhere) v CROSS JOIN cent c),
       ccell AS (SELECT vec_id, cidx AS cell FROM asgn WHERE rnk = 1),
       q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 1000 = 0),
       qasgn AS (SELECT q.qid, c.cidx,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.cidx ASC) AS rnk
                 FROM q CROSS JOIN cent c),
       qcell AS (SELECT qid, cidx AS cell FROM qasgn WHERE rnk <= 4)"""

  private lazy val ivfCoarseCtes: String = ivfCoarseCtesFrom("")

  /** IVF ANN top-5 — shared by sim_ivf_topk and sim_ivf_index (the
    * persisted-index path is pruning-only, same relation). */
  private def ivfTopkSqlFrom(coarseCtes: String): String =
    s"""WITH $coarseCtes,
        scored AS (SELECT qc.qid, cc.vec_id, round(${cosSql("e.embedding", "qq.qv")}, 6) AS score
                   FROM qcell qc JOIN ccell cc ON qc.cell = cc.cell
                   JOIN embeddings e ON cc.vec_id = e.vec_id JOIN q qq ON qc.qid = qq.qid)
        $annRankTail"""

  private lazy val ivfTopkSql: String = ivfTopkSqlFrom(ivfCoarseCtes)

  /** sim_ivf_append: the coarse quantizer is sampled from the OLD
    * three-quarters of the corpus only (the frozen-centroid append
    * contract); assignment/probing/ranking are unchanged over the full
    * corpus — a fresh build under the same centroids IS the appended
    * index's relation. */
  private lazy val ivfAppendSql: String =
    ivfTopkSqlFrom(ivfCoarseCtesFrom("WHERE vec_id % 4 < 3"))

  /** sim_ivf_delete: centroids from the FULL corpus (delete keeps the
    * quantizer frozen), cell relation over the survivors only — a
    * fresh build of the surviving set IS the deleted index's relation
    * (the append argument, mirrored). */
  private lazy val ivfDeleteSql: String =
    ivfTopkSqlFrom(ivfCoarseCtesFrom("", "WHERE vec_id % 10 <> 7"))

  /** Unrolled-round DuckDB twin of Pipeline.bpeTrain (and the training
    * half of bpe_encode). The greedy left-to-right merge FOLD equals a
    * single-pass non-overlapping string REPLACE on a marker
    * representation — one symbol = chr(2)‖sym‖chr(3), pair pattern =
    * the two bracketed symbols — because both scanners move past what
    * they just emitted: the fold's merged symbol is never re-eligible
    * as `l` within its own pass, and replace() continues after the
    * replacement text (the overlap argument VERDICT_r9 #6 asked for;
    * 'a a a' under rule (a,a) → 'aa a' on both sides). Corpus is
    * control-char-free, so the markers cannot collide with symbol
    * text. Round CTEs AS MATERIALIZED — a 10-round chain where round i
    * references round i−1 twice would otherwise inline 2^10-fold (the
    * graph_kcore lesson). */
  private def bpeTrainCtes(merges: Int): String = {
    val marked = "array_to_string([chr(2) || c || chr(3) FOR c IN string_split(w, '')], '')"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""w0 AS MATERIALIZED (
         SELECT $marked AS s, CAST(cnt AS BIGINT) AS f
         FROM (SELECT w, count(*) AS cnt
               FROM (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents) GROUP BY w)
         WHERE length(w) BETWEEN 2 AND 64)""")
    var prev = "w0"
    (1 to merges).foreach { i =>
      ctes += s"""p_$i AS MATERIALIZED (
         SELECT u.l AS l, u.r AS r, CAST(sum(f) AS BIGINT) AS c FROM (
           SELECT f, unnest([struct_pack(l := sy[i], r := sy[i+1]) FOR i IN range(1, len(sy))]) AS u
           FROM (SELECT f, string_split(substr(s, 2, length(s) - 2), chr(3) || chr(2)) AS sy FROM $prev)
         ) GROUP BY 1, 2)"""
      ctes += s"""b_$i AS MATERIALIZED (SELECT l, r, c FROM p_$i ORDER BY c DESC, l ASC, r ASC LIMIT 1)"""
      ctes += s"""w_$i AS MATERIALIZED (
         SELECT s, f FROM (
           SELECT replace(w.s, chr(2)||b.l||chr(3)||chr(2)||b.r||chr(3), chr(2)||b.l||b.r||chr(3)) AS s, w.f
           FROM $prev w CROSS JOIN b_$i b)
         WHERE length(s) - length(replace(s, chr(2), '')) >= 2)"""
      prev = s"w_$i"
    }
    ctes.mkString(",\n")
  }

  private lazy val bpeTrainSql: String = {
    val tail = (1 to 10).map(i =>
      s"""SELECT CAST($i AS INT) AS "rank", l AS "left", r AS "right", l || r AS merged, c AS pair_count FROM b_$i""")
      .mkString(" UNION ALL ")
    s"WITH ${bpeTrainCtes(10)}\n$tail"
  }

  /** Encode twin: the whole doc as marked words joined by chr(4) (the
    * word separator no pair pattern can cross), the 10 trained rules
    * applied in rank order as the same marker replaces, then symbol
    * count and the space-joined-symbol md5 recovered from the marker
    * string. */
  private lazy val bpeEncodeSql: String = {
    val marked = "array_to_string([chr(2) || c || chr(3) FOR c IN string_split(w, '')], '')"
    val ctes = scala.collection.mutable.ArrayBuffer(bpeTrainCtes(10))
    ctes += s"""d_0 AS MATERIALIZED (
       SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
              array_to_string([$marked FOR w IN ws], chr(4)) AS s
       FROM (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents))"""
    var prev = "d_0"
    (1 to 10).foreach { i =>
      ctes += s"""d_$i AS MATERIALIZED (
         SELECT doc_id, n_words,
                replace(d.s, chr(2)||b.l||chr(3)||chr(2)||b.r||chr(3), chr(2)||b.l||b.r||chr(3)) AS s
         FROM $prev d CROSS JOIN b_$i b)"""
      prev = s"d_$i"
    }
    s"""WITH ${ctes.mkString(",\n")}
       SELECT doc_id, n_words,
              CAST(length(s) - length(replace(s, chr(2), '')) AS BIGINT) AS n_symbols,
              md5(CASE WHEN length(s) < 2 THEN ''
                       ELSE substr(replace(replace(s, chr(3)||chr(4)||chr(2), ' '), chr(3)||chr(2), ' '),
                                   2, length(replace(replace(s, chr(3)||chr(4)||chr(2), ' '), chr(3)||chr(2), ' ')) - 2)
                  END) AS symbols_fp
       FROM $prev"""
  }

  /** Positional 3-gram anchors → diagonal islands → one maximal common
    * span per (pair, diagonal, island): the CTE body shared by the
    * dedup_spans_maximal and dedup_spans_cut oracles. Exposes
    * `tok(doc_id, toks)` and `sp(id_l, id_r, pos_l, pos_r, span_len)`. */
  private lazy val maximalSpanCtes: String =
    s"""tok AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       grams AS (SELECT doc_id, [array_to_string(toks[i:i+2], ' ')
                                 FOR i IN range(1, len(toks) - 1)] AS gs
                 FROM tok WHERE len(toks) >= 3),
       occ0 AS (SELECT doc_id, generate_subscripts(gs, 1) - 1 AS pos, unnest(gs) AS g FROM grams),
       fok AS (SELECT g FROM occ0 GROUP BY g HAVING count(*) <= 10000),
       occ AS (SELECT occ0.* FROM occ0 JOIN fok USING (g)),
       m AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.pos AS pos_l, b.pos AS pos_r
             FROM occ a JOIN occ b ON a.g = b.g AND a.doc_id < b.doc_id),
       r AS (SELECT *, pos_l - pos_r AS d,
               pos_l - row_number() OVER (PARTITION BY id_l, id_r, pos_l - pos_r
                                          ORDER BY pos_l) AS isl
             FROM m),
       sp AS (SELECT id_l, id_r, min(pos_l) AS pos_l, min(pos_r) AS pos_r,
                     CAST(max(pos_l) - min(pos_l) + 3 AS BIGINT) AS span_len
              FROM r GROUP BY id_l, id_r, d, isl
              HAVING max(pos_l) - min(pos_l) + 3 >= 4)"""

  /** Gap sessionization (30 min) — shared by evt_sessionize and (as
    * the session relation) evt_session_stats. */
  private val sessionizeSql =
    """SELECT event_id, user_id, ts,
              CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       FROM (SELECT event_id, user_id, ts,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                         THEN 1 ELSE 0 END AS is_new
             FROM events)"""

  /** Exact brute-force top-5 — shared by sim_bruteforce_topk and (as
    * the ground-truth side) sim_recall_eval. */
  private val bruteTopkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 1000 = 0),
            scored AS (SELECT q.qid, e.vec_id,
                              round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
                       FROM embeddings e CROSS JOIN q)
       SELECT qid, vec_id, score, CAST(rnk AS INT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
             FROM scored)
       WHERE rnk <= 5"""

  /** LCG-plane LSH ANN top-5 — shared by sim_lsh_topk and (as the
    * approximate side) sim_recall_eval. */
  private lazy val lshTopkSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 1000 = 0),
        cbkt AS (SELECT vec_id, ${lcgBucketsSql("embedding")} AS bks FROM embeddings),
        qbkt AS (SELECT qid, ${lcgBucketsSql("qv")} AS bks FROM q),
        ct AS (SELECT vec_id, t.t AS tb, bks[t.t + 1] AS bucket FROM cbkt, range(0, 8) t(t)),
        qt AS (SELECT qid, t.t AS tb, bks[t.t + 1] AS bucket FROM qbkt, range(0, 8) t(t)),
        cand AS (SELECT DISTINCT qt.qid, ct.vec_id FROM qt JOIN ct ON qt.tb = ct.tb AND qt.bucket = ct.bucket),
        scored AS (SELECT cand.qid, cand.vec_id, round(${cosSql("e.embedding", "qq.qv")}, 6) AS score
                   FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id JOIN q qq ON cand.qid = qq.qid)
        $annRankTail"""

  /** md5-derived 64-bit simhash signature as 4×16-bit chunks — the
    * DuckDB twin of Dedup.simhashSignatures(md5TokenHash),
    * parameterized by the source relation (must expose doc_id, text).
    * Exposes `sig(doc_id, c0..c3)`. */
  private def simhashChunksCtes(src: String): String = {
    val bitSums = (0 until 64).map { i =>
      val half = if (i < 32) "lo" else "hi"
      s"sum(CASE WHEN (($half >> ${i % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(", ")
    val chunks = (0 until 4).map { c =>
      (0 until 16).map(j => s"(CASE WHEN s${16 * c + j} >= 0 THEN 1 ELSE 0 END << $j)")
        .mkString("(", " + ", s") AS c$c")
    }.mkString(", ")
    raw"""
    tok AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
            FROM $src),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo,
                         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi FROM tok),
    sums AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, $chunks FROM sums)"""
  }
  private val simhashChunksSql: String = simhashChunksCtes("documents")

  /** Full-rebuild twin of corpus_incremental: the whole prepareCorpus
    * pipeline (quality gate, scrub, exact dedup, simhash near-dup CC,
    * md5 shard layout) over old ∪ simulated-batch. The gate's Spark
    * side computes the same relation INCREMENTALLY from the persisted
    * stores, so the hash match proves incremental == rebuild. The
    * O(n²) hamming join stands in for Spark's banded candidates —
    * banding is exact for hamming ≤ 3 (pigeonhole over 4×16-bit
    * chunks), so the relations agree. */
  private lazy val corpusIncrementalSql: String = {
    val nt = s"len(string_split($normSql, ' '))"
    val stop = langScoreSql(T.langMarkers.head._2)
    s"""WITH RECURSIVE
        bk0 AS (SELECT doc_id,
                  ('0x' || substr(md5('rev:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
                  text
                FROM documents),
        corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000, text || ' updated in the next crawl' FROM bk0 WHERE b BETWEEN 10 AND 19
          UNION ALL
          SELECT doc_id + 1000000, text FROM bk0 WHERE b BETWEEN 90 AND 99
          UNION ALL
          SELECT doc_id + 3000000,
                 array_to_string([CASE WHEN i % 2 = 0
                        THEN ['the','of','and','to','a'][(i % 10) // 2 + 1]
                        ELSE substr(md5(CAST(doc_id + 3000000 AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8) END
                   FOR i IN range(0, 40)], ' ')
          FROM bk0 WHERE b < 10),
        qual AS (SELECT doc_id, text,
                   $nt AS nt,
                   round($stop / CAST(greatest($nt, 1) AS DOUBLE), 6) AS sr,
                   string_split($normSql, ' ') AS toks
                 FROM corpus),
        rep AS (SELECT doc_id, text, nt, sr,
                  round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS rr
                FROM (SELECT doc_id, text, nt, sr,
                        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                             ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)] END AS sh
                      FROM qual)),
        cleaned AS (SELECT doc_id,
                      regexp_replace(regexp_replace(regexp_replace(text,
                        '${P.emailPattern}', '[EMAIL]', 'g'),
                        '${P.ipPattern}', '[IP]', 'g'),
                        '${P.phonePattern}', '[PHONE]', 'g') AS text
                    FROM rep
                    WHERE nt BETWEEN 20 AND 1000 AND sr >= 0.05 AND rr < 0.2),
        exact AS (SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
                    FROM cleaned) WHERE rn = 1),
        ${simhashChunksCtes("exact")},
        prs AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
                    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3),
        sym AS (SELECT id_l AS a, id_r AS bb FROM prs UNION SELECT id_r, id_l FROM prs),
        reach(a, bb) AS (SELECT a, bb FROM sym
                         UNION SELECT r.a, s2.bb FROM reach r JOIN sym s2 ON r.bb = s2.a WHERE s2.bb <> r.a),
        canon AS (SELECT a AS doc_id, least(min(bb), a) AS c FROM reach GROUP BY a),
        keepers AS (SELECT e.doc_id, e.text FROM exact e LEFT JOIN canon ON e.doc_id = canon.doc_id
                    WHERE canon.c IS NULL OR canon.c >= e.doc_id)
        SELECT doc_id, md5(text) AS fp, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
        FROM (SELECT doc_id, text,
                CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS shard,
                ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
              FROM keepers)"""
  }

  private val qualitySql: String = {
    val toks = s"len(string_split($normSql, ' '))"
    val stop = langScoreSql(graft.functions.TextFunctions.langMarkers.head._2)
    s"""SELECT doc_id,
               length(text) AS n_chars,
               $toks AS n_tokens,
               round((length($normSql) - ($toks - 1)) / CAST($toks AS DOUBLE), 4) AS mean_token_len,
               round((length(text) - length(translate(text, '.,;:!?''"()-', ''))) / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
               round($stop / CAST(greatest($toks, 1) AS DOUBLE), 6) AS stopword_ratio
        FROM documents"""
  }

  // same shingle construction as the dedup_ngram_jaccard oracle;
  // note multiset semantics: n_ngrams counts ALL shingles, distinct
  // only collapses for the ratio
  private val repetitionSql: String =
    """SELECT doc_id,
              CAST(len(sh) AS BIGINT) AS n_ngrams,
              CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
              round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS rep_ratio
       FROM (SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)] END AS sh
             FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
                   FROM documents))"""

  def oracleSql: Map[String, String] = Map(
    "text_langid" ->
      s"SELECT doc_id, $langIdSql AS lang_pred FROM documents",

    "text_quality" -> qualitySql,

    "text_quality_filter" ->
      s"""SELECT tq.doc_id,
                 (tq.n_tokens BETWEEN 20 AND 1000)
                   AND (tq.stopword_ratio >= 0.05)
                   AND (tr.rep_ratio < 0.2) AS keep
          FROM ($qualitySql) tq JOIN ($repetitionSql) tr ON tq.doc_id = tr.doc_id""",

    "ds_projection" ->
      "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",

    "ds_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
         FROM lineitem
         WHERE l_quantity > 30 AND NOT l_returnflag = 'A' AND l_discount <= 0.05""",

    "ds_map" ->
      "SELECT p_partkey, upper(p_name) AS p_name, p_retailprice * 2 AS p_retailprice FROM part",

    "ds_addfield" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) AS net_price,
                'graft' AS source_tag
         FROM lineitem""",

    "ds_renamefield" ->
      "SELECT r_regionkey, r_name AS region_name FROM region",

    "ds_dropfield" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer",

    "ds_dropnullrows" ->
      "SELECT doc_id, lang FROM documents WHERE lang = 'en'",

    "ds_replacenulls" ->
      "SELECT doc_id, CASE WHEN lang <> 'en' THEN lang ELSE 'english' END AS lang FROM documents",

    "ds_take" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50",

    "ds_takewhile" ->
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000",

    "ds_union" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
         UNION ALL
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000""",

    "ds_subtract" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         EXCEPT
         SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'""",

    "ds_intersection" ->
      """SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey <= 500
         INTERSECT
         SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 2 = 0""",

    "ds_cartesian" ->
      "SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation",

    "ds_join" ->
      """SELECT l_orderkey, p.p_partkey, l_quantity, p_brand
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""",

    "ds_explode" ->
      """SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
         FROM documents""",

    "ds_sample" ->
      "SELECT event_id, event_type FROM events WHERE event_id % 10 = 0",

    "ds_minby" ->
      """SELECT o_orderstatus,
                min_by(o_orderkey, o_totalprice) AS min_order,
                round(min(o_totalprice), 2) AS min_price
         FROM orders GROUP BY o_orderstatus""",

    "ds_maxby" ->
      """SELECT o_orderstatus,
                max_by(o_orderkey, o_totalprice) AS max_order,
                round(max(o_totalprice), 2) AS max_price
         FROM orders GROUP BY o_orderstatus""",

    "ds_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "ds_concat_zip" ->
      """WITH l AS (SELECT r_regionkey, r_name, row_number() OVER (ORDER BY r_regionkey ASC) AS rn FROM region),
              r AS (SELECT r_regionkey AS k2, r_name AS name2, row_number() OVER (ORDER BY r_regionkey DESC) AS rn FROM region)
         SELECT l.r_regionkey, l.r_name, r.k2, r.name2 FROM l JOIN r USING (rn)""",

    "ds_align" ->
      "SELECT n_name, CAST(n_nationkey AS BIGINT) AS n_nationkey, CAST(NULL AS VARCHAR) AS n_comment FROM nation",

    "ds_schema_ops" ->
      "SELECT s_suppkey AS ssuppkey, s_name AS sname, CAST(s_acctbal AS VARCHAR) AS sacctbal FROM supplier",

    "gds_groupby_agg" ->
      """SELECT l_returnflag,
                round(sum(l_quantity), 2) AS sum_l_quantity,
                count(l_orderkey) AS count_l_orderkey,
                round(avg(l_discount), 6) AS avg_l_discount,
                round(min(l_extendedprice), 2) AS min_l_extendedprice,
                round(max(l_extendedprice), 2) AS max_l_extendedprice
         FROM lineitem GROUP BY l_returnflag""",

    "gds_aggregated" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
                count(*) AS n_rows,
                round(avg(l_quantity), 6) AS avg_qty
         FROM lineitem""",

    "gds_groupby_multi" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                count(*) AS n,
                count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "src_parquet" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <= 2",

    "src_csv" ->
      "SELECT r_regionkey, r_name FROM region",

    "src_json" ->
      "SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal FROM supplier",

    "src_orc" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer",

    "sql_context" ->
      """SELECT n_name, count(*) AS n_cust, CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
                round(avg(l_quantity), 6) AS avg_qty,
                round(avg(l_extendedprice), 6) AS avg_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""",

    "q5_nation_revenue" ->
      """SELECT n_name,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name""",

    "q7_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3""",

    "q9_nation_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2""",

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_mktsegment,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey ASC
         LIMIT 20""",

    "q_window_topn" ->
      """SELECT o_orderstatus, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rk
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
               FROM orders)
         WHERE rk <= 5""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                 CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""",

    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",

    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",

    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM big JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON o_custkey = c_custkey""",

    "q21_waiting_suppliers" ->
      """WITH per_supp AS (
           SELECT l_orderkey, l_suppkey,
                  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'
           GROUP BY l_orderkey, l_suppkey),
         per_order AS (
           SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
           FROM per_supp GROUP BY l_orderkey)
         SELECT s_suppkey, s_name, count(*) AS numwait
         FROM per_supp
         JOIN per_order USING (l_orderkey)
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE per_supp.late = 1 AND n_supp > 1 AND n_late = 1
         GROUP BY s_suppkey, s_name""",

    "q19_disjunctive" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 35)""",

    "q22_dormant_customers" ->
      """WITH stats AS (
           SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS __tot, count(*) AS __n
           FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS numcust,
                CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
         FROM customer, stats
         WHERE CAST(c_acctbal AS DECIMAL(18,6)) * __n > __tot
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         GROUP BY c_nationkey""",

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                round(CAST(sum(CASE WHEN sn.n_name = 'NATION_12'
                                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                      / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         GROUP BY 1""",

    "q12_ship_delay" ->
      """SELECT CASE WHEN delay_d < 0 THEN 'early'
                     WHEN delay_d <= 60 THEN 'normal'
                     ELSE 'late' END AS bucket,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM (SELECT o_orderpriority,
                      datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS delay_d
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         GROUP BY 1""",

    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey)
         GROUP BY c_count""",

    "q14_promo_revenue" ->
      """SELECT round(100 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                      / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""",

    "q17_small_qty_revenue" ->
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE p_brand = 'Brand#3' AND p_size < 15),
            st AS (SELECT l_partkey AS sp_key, sum(qty) AS sum_qty, count(*) AS cnt
                   FROM li GROUP BY 1)
         SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
         FROM li JOIN st ON l_partkey = sp_key
         WHERE qty * 5 * cnt < sum_qty""",

    "evt_window_agg" ->
      """SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start, event_type,
                count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "evt_sessionize" -> sessionizeSql,

    "evt_session_stats" ->
      s"""WITH sess AS ($sessionizeSql)
          SELECT user_id, session_seq, count(*) AS n_events,
                 CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us
          FROM sess GROUP BY 1, 2""",

    "ds_pivot" ->
      """SELECT o_orderpriority,
                CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_cnt,
                CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_cnt,
                CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_cnt
         FROM orders GROUP BY o_orderpriority""",

    "evt_asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts, round(v.view_value, 2) AS view_value
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts, value AS view_value FROM events WHERE event_type = 'view') v
           ON c.user_id = v.user_id AND v.ts <= c.ts""",

    "evt_asof_tolerance" ->
      """SELECT c.event_id, c.user_id, c.ts,
                CASE WHEN v.ts IS NOT NULL AND c.ts - v.ts <= INTERVAL 3600 SECONDS
                     THEN round(v.view_value, 2) END AS view_value
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts, value AS view_value FROM events WHERE event_type = 'view') v
           ON c.user_id = v.user_id AND v.ts <= c.ts""",

    "evt_props_parse" ->
      """SELECT json_extract(props, '$.k')::BIGINT AS k_val,
                count(*) AS n, count(DISTINCT event_type) AS n_types
         FROM events GROUP BY 1""",

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",

    "dedup_exact_norm" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",

    "text_tokencount" ->
      """SELECT doc_id,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
                CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_subwords
         FROM documents""",

    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents""",

    "text_repetition" -> repetitionSql,

    // corpus text is ASCII-only (verified), so codepoint == UTF-8 byte
    "mm_binary_meta" ->
      """SELECT doc_id AS media_id,
                CAST(length(text) AS BIGINT) AS n_bytes,
                CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END AS first_byte,
                CAST(list_aggregate(list_transform(string_split(text, ''), c -> ascii(c)), 'sum') AS BIGINT) AS byte_sum,
                'txt' AS format
         FROM documents""",
    // corpus text is ASCII-only, so char arithmetic == byte arithmetic
    "mm_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
                CAST(length(substr(text, CAST(f * 64 + 1 AS INT), 64)) AS BIGINT) AS frame_bytes
         FROM (SELECT doc_id, text,
                      unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS f
               FROM documents)
         WHERE f % 4 = 0""",

    // frameDedup twin: same 64-byte frame slicing (ASCII corpus ->
    // char slicing == byte slicing), md5 frame fingerprints, 2..64
    // bucket cap, pair overlap count
    "mm_frame_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS txt FROM documents
                    UNION ALL
                    SELECT doc_id + 5000000, text || ' re-encoded tail'
                    FROM documents WHERE doc_id % 5 = 0),
          fr AS (SELECT media_id,
                   substr(md5(substr(txt, CAST(f * 64 + 1 AS INT), 64)), 1, 15) AS fp
                 FROM (SELECT media_id, txt,
                         unnest(range(0, CAST(ceil(length(txt) / 64.0) AS INT))) AS f
                       FROM m WHERE length(txt) > 0)),
          d AS (SELECT DISTINCT media_id, fp FROM fr),
          ok AS (SELECT fp FROM d GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
          dd AS (SELECT d.media_id, d.fp FROM d JOIN ok USING (fp))
          SELECT x.media_id AS media_a, y.media_id AS media_b, count(*) AS n_shared
          FROM dd x JOIN dd y ON x.fp = y.fp AND x.media_id < y.media_id
          GROUP BY 1, 2 HAVING count(*) >= 3""",

    "sim_bruteforce_topk" -> bruteTopkSql,

    "sim_recall_eval" ->
      s"""WITH truth AS ($bruteTopkSql), ann AS ($lshTopkSql)
          SELECT t.qid, count(*) AS truth_k,
                 CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                 round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall
          FROM truth t LEFT JOIN ann a ON t.qid = a.qid AND t.vec_id = a.vec_id
          GROUP BY t.qid""",
    // LLM-pipeline oracles. Two flavors:
    //  - dedup_minhash / dedup_keeplist: the oracle is the EXACT
    //    all-pairs answer; it hash-matches because the threshold-matched
    //    band geometry achieves (deterministically, verified at
    //    sf0.001/0.01/0.1) 100% recall on this corpus.
    //  - simhash / embedding / lsh / ivf / features: the gate queries
    //    use engine-portable hash derivations (md5 halves, LCG planes,
    //    md5 sampling order) that DuckDB recomputes EXACTLY — same
    //    operator code paths, production defaults stay on xxhash64 /
    //    Gaussian planes.
    "dedup_minhash" ->
      s"""WITH $shingleSetsSql, $exactJaccardPairsSql
          SELECT id_l, id_r, jaccard FROM jac WHERE jaccard >= 0.5""",

    "ds_schema_merge" ->
      """SELECT doc_id, lang, NULL AS n_chars FROM documents
         UNION ALL
         SELECT doc_id, NULL AS lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents""",

    "contamination_ngram" ->
      s"""WITH $shingleSetsSql,
          ex AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM s),
          bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 50 = 0)
          SELECT e.doc_id, count(*) AS n_shared,
                 round(CAST(count(*) AS DOUBLE) / e.n_grams, 6) AS contam_ratio
          FROM ex e JOIN bench b ON e.g = b.g
          WHERE e.doc_id % 50 <> 0
          GROUP BY e.doc_id, e.n_grams""",

    // contaminationEmbedding twin: brute cosine of every corpus row
    // against the broadcast-small benchmark slice, round-6 scores
    // (the dedup_embedding recipe), exact integer match counts
    "contamination_embedding" ->
      s"""WITH bench AS (SELECT embedding AS bv FROM embeddings WHERE vec_id % 100 = 0),
          corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
          j AS (SELECT c.vec_id, round(${cosSql("c.embedding", "b.bv")}, 6) AS cs
                FROM corp c CROSS JOIN bench b),
          f AS (SELECT vec_id, cs FROM j WHERE NOT isnan(cs) AND cs >= 0.35)
          SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches, max(cs) AS max_cosine
          FROM f GROUP BY vec_id""",

    "sample_split_hash" ->
      """SELECT doc_id, bucket,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
               FROM documents)""",

    "dedup_keep_best" ->
      s"""SELECT doc_id,
                 (row_number() OVER (PARTITION BY fp ORDER BY nt DESC, doc_id ASC) = 1) AS keep
          FROM (SELECT doc_id, md5($normSql) AS fp,
                       len(string_split($normSql, ' ')) AS nt
                FROM documents)""",

    "shuffle_shard" ->
      """SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS shard,
                 ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
               FROM documents)""",

    // shardManifest twin: the shuffle_shard layout rejoined to the
    // docs, per-row 60-bit hash of (shard:pos:md5(text)) summed as
    // two BIGINT lanes (hi = fp>>30, lo = fp & (2^30-1)) — each lane
    // stays below 2^53 so the value survives every numeric path a
    // harness can take (a single 60-bit sum lands ~4e19, above both
    // int64 max and float64's exact range — the r10 red row)
    "corpus_manifest" ->
      s"""WITH l AS (
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
            FROM (SELECT doc_id,
                    CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS shard,
                    ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
                  FROM documents)),
          r AS (SELECT l.shard,
                  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS t,
                  CAST(length(d.text) AS BIGINT) AS c,
                  ('0x' || substr(md5(CAST(l.shard AS VARCHAR) || ':' || CAST(l.pos AS VARCHAR) || ':' || md5(d.text)), 1, 15))::BIGINT AS fp
                FROM l JOIN documents d USING (doc_id))
          SELECT shard, count(*) AS n_docs,
                 CAST(sum(t) AS BIGINT) AS n_tokens, CAST(sum(c) AS BIGINT) AS n_chars,
                 CAST(sum(fp >> 30) AS BIGINT) AS fp_hi,
                 CAST(sum(fp & 1073741823) AS BIGINT) AS fp_lo
          FROM r GROUP BY shard""",

    "text_bigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, string_split($normSql, ' ') AS ts FROM documents),
          bi AS (SELECT doc_id, u.w1, u.w2
                 FROM tok, unnest([struct_pack(w1 := ts[i], w2 := ts[i+1])
                                   FOR i IN range(1, len(ts))]) t(u)),
          nxy AS (SELECT w1, w2, count(*) AS cxy FROM bi GROUP BY 1, 2),
          marg AS (SELECT w1, CAST(sum(cxy) AS BIGINT) AS cx FROM nxy GROUP BY 1),
          model AS (SELECT nxy.w1, nxy.w2, (cxy * 1048576) // cx AS p
                    FROM nxy JOIN marg USING (w1)),
          dbi AS (SELECT doc_id, w1, w2, count(*) AS n FROM bi GROUP BY 1, 2, 3)
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                 CAST(sum(n * p) AS BIGINT) AS p_sum,
                 CAST(CAST(sum(n * p) AS BIGINT) // CAST(sum(n) AS BIGINT) AS BIGINT) AS avg_p_fp
          FROM dbi JOIN model USING (w1, w2) GROUP BY 1""",

    "text_dsir" ->
      s"""WITH tok AS (SELECT doc_id, (lang = 'en') AS tgt,
                              unnest(string_split($normSql, ' ')) AS t
                       FROM documents),
          freq AS (SELECT t, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tf,
                          count(*) AS af
                   FROM tok GROUP BY 1)
          SELECT tok.doc_id, count(*) AS n_tokens,
                 CAST(sum(tf) AS BIGINT) AS tgt_mass,
                 CAST(sum(af) AS BIGINT) AS all_mass,
                 round(CAST(sum(tf) AS DOUBLE) / CAST(sum(af) AS DOUBLE), 6) AS affinity
          FROM tok JOIN freq USING (t) GROUP BY tok.doc_id""",

    "dedup_keeplist" ->
      s"""WITH RECURSIVE $shingleSetsSql, $exactJaccardPairsSql,
          p AS (SELECT id_l, id_r FROM jac WHERE jaccard >= 0.5),
          sym AS (SELECT id_l AS a, id_r AS b FROM p UNION SELECT id_r AS a, id_l AS b FROM p),
          reach(a, b) AS (SELECT a, b FROM sym
                          UNION SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a WHERE s2.b <> r.a),
          canon AS (SELECT a AS id, least(min(b), a) AS canonical_id FROM reach GROUP BY a)
          SELECT id, canonical_id, CAST(false AS BOOLEAN) AS keep FROM canon WHERE canonical_id < id""",

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleSetsSql,
          pr AS (SELECT doc_id AS id_l, doc_id + 1 AS id_r FROM documents WHERE doc_id % 10 = 0),
          jac AS (SELECT p.id_l, p.id_r,
                    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
                  FROM pr p JOIN s sa ON p.id_l = sa.doc_id JOIN s sb ON p.id_r = sb.doc_id)
          SELECT id_l, id_r, jaccard FROM jac WHERE jaccard > 0""",

    "dedup_containment" ->
      s"""WITH $shingleSetsSql,
          pr AS (SELECT doc_id AS id_l, doc_id + 1 AS id_r FROM documents WHERE doc_id % 10 = 0),
          ct AS (SELECT p.id_l, p.id_r,
                   CAST(len(sa.sh) AS BIGINT) AS n_l, CAST(len(sb.sh) AS BIGINT) AS n_r,
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common
                 FROM pr p JOIN s sa ON p.id_l = sa.doc_id JOIN s sb ON p.id_r = sb.doc_id)
          SELECT id_l, id_r, n_l, n_r, n_common,
                 round(CAST(n_common AS DOUBLE) / n_l, 6) AS cont_l,
                 round(CAST(n_common AS DOUBLE) / n_r, 6) AS cont_r
          FROM ct WHERE n_common > 0""",

    "text_collocations" ->
      s"""WITH tok AS (SELECT string_split($normSql, ' ') AS ts FROM documents),
          bi AS (SELECT u.w1, u.w2
                 FROM tok, unnest([struct_pack(w1 := ts[i], w2 := ts[i+1])
                                   FOR i IN range(1, len(ts))]) t(u)),
          nxy AS (SELECT w1, w2, count(*) AS n_xy FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
          uni AS (SELECT unnest(ts) AS w FROM tok),
          nw AS (SELECT w, count(*) AS n FROM uni GROUP BY 1),
          tot AS (SELECT count(*) AS n_total FROM uni)
          SELECT nxy.w1, nxy.w2, nxy.n_xy, a.n AS n_x, b.n AS n_y, n_total
          FROM nxy JOIN nw a ON nxy.w1 = a.w JOIN nw b ON nxy.w2 = b.w CROSS JOIN tot""",

    "sample_topk_per_group" ->
      """SELECT lang, doc_id, CAST(rnk AS INT) AS rank
         FROM (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('tk:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT DESC,
                            doc_id ASC) AS rnk
               FROM documents)
         WHERE rnk <= 10""",

    "text_lexical" ->
      s"""SELECT doc_id,
                 CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split($normSql, ' '))) AS BIGINT) AS n_types,
                 round(CAST(len(list_distinct(string_split($normSql, ' '))) AS DOUBLE)
                       / len(string_split($normSql, ' ')), 6) AS ttr,
                 CAST(len(regexp_extract_all($normSql, '[aeiouy]+')) AS BIGINT) AS n_syllables,
                 round(CAST(len(regexp_extract_all($normSql, '[aeiouy]+')) AS DOUBLE)
                       / len(string_split($normSql, ' ')), 6) AS syll_per_word
          FROM documents""",

    "q_window_analytics" ->
      """SELECT o_orderkey, o_custkey,
                lag(o_totalprice, 1) OVER wseq AS prev_price,
                lead(o_totalprice, 1) OVER wseq AS next_price,
                CAST(ntile(4) OVER wseq AS INT) AS seq_quartile,
                round(percent_rank() OVER wval, 6) AS price_pct_rank,
                round(cume_dist() OVER wval, 6) AS price_cume_dist
         FROM orders
         WINDOW wseq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wval AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""",

    "emb_quantize" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                            CAST(unnest(embedding) AS DOUBLE) AS v
                     FROM embeddings),
         dims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ex GROUP BY d)
         SELECT vec_id, CAST(ex.d AS INT) AS dim_idx,
                CAST(CASE WHEN mx = mn THEN 0
                          ELSE least(255, floor((v - mn) * 256 / (mx - mn))) END AS INT) AS code
         FROM ex JOIN dims ON ex.d = dims.d""",

    "dedup_simhash" ->
      s"""WITH $simhashChunksSql
          SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                 CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
                    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3""",

    // composes the exact-Jaccard truth CTEs with the simhash pair
    // relation; integer counts + the int-ratio round-6 recipe
    "dedup_method_eval" ->
      s"""WITH $shingleSetsSql, $exactJaccardPairsSql, $simhashChunksSql,
          truth AS (SELECT id_l, id_r FROM jac WHERE jaccard >= 0.5),
          pred AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r
                   FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
                       + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3),
          j AS (SELECT CASE WHEN t.id_l IS NOT NULL THEN 1 ELSE 0 END AS tt,
                       CASE WHEN p.id_l IS NOT NULL THEN 1 ELSE 0 END AS pp
                FROM truth t FULL OUTER JOIN pred p
                  ON t.id_l = p.id_l AND t.id_r = p.id_r)
          SELECT CAST(coalesce(sum(tt), 0) AS BIGINT) AS n_truth,
                 CAST(coalesce(sum(pp), 0) AS BIGINT) AS n_pred,
                 CAST(coalesce(sum(tt * pp), 0) AS BIGINT) AS n_hit,
                 round(CAST(sum(tt * pp) AS DOUBLE) / NULLIF(sum(tt), 0), 6) AS recall,
                 round(CAST(sum(tt * pp) AS DOUBLE) / NULLIF(sum(pp), 0), 6) AS precision
          FROM j""",

    "dedup_embedding" ->
      s"""WITH bkt AS (SELECT vec_id, ${lcgBucketsSql("embedding")} AS bks FROM embeddings),
          tb AS (SELECT vec_id, t.t AS tb, bks[t.t + 1] AS bucket FROM bkt, range(0, 8) t(t)),
          ok AS (SELECT tb, bucket FROM tb GROUP BY tb, bucket HAVING count(*) BETWEEN 2 AND 1000),
          cand AS (SELECT DISTINCT a.vec_id AS id_l, b.vec_id AS id_r
                   FROM tb a JOIN tb b ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                   JOIN ok o ON a.tb = o.tb AND a.bucket = o.bucket),
          j AS (SELECT c.id_l, c.id_r, round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS cosine
                FROM cand c JOIN embeddings ea ON c.id_l = ea.vec_id
                            JOIN embeddings eb ON c.id_r = eb.vec_id)
          SELECT id_l, id_r, cosine FROM j WHERE cosine >= 0.4 AND NOT isnan(cosine)""",

    "sim_lsh_topk" -> lshTopkSql,

    "sim_ivf_topk" -> ivfTopkSql,

    // the sim_recall_eval shape with the IVF chain as the ann side
    "sim_ivf_recall" ->
      s"""WITH truth AS ($bruteTopkSql), ann AS ($ivfTopkSql)
          SELECT t.qid, count(*) AS truth_k,
                 CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                 round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall
          FROM truth t LEFT JOIN ann a ON t.qid = a.qid AND t.vec_id = a.vec_id
          GROUP BY t.qid""",
    // the persisted-index query path MUST produce the identical
    // relation (same centroids, same probes — the index only prunes
    // which files the scan reads), so it shares the oracle verbatim
    "sim_ivf_index" -> ivfTopkSql,
    "sim_ivf_append" -> ivfAppendSql,
    "sim_ivf_delete" -> ivfDeleteSql,
    "sim_ivfpq_topk" -> ivfPqSql,
    "sim_ivfpq_index" -> ivfPqSql,

    // the recall shape with the IVF+PQ chain as the ann side
    "sim_ivfpq_recall" ->
      s"""WITH truth AS ($bruteTopkSql), ann AS ($ivfPqSql)
          SELECT t.qid, count(*) AS truth_k,
                 CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                 round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall
          FROM truth t LEFT JOIN ann a ON t.qid = a.qid AND t.vec_id = a.vec_id
          GROUP BY t.qid""",

    "quality_schema_diff" ->
      """WITH b AS (SELECT column_name AS col_name,
                      CASE lower(column_type) WHEN 'integer' THEN 'int'
                           WHEN 'varchar' THEN 'string'
                           ELSE lower(column_type) END AS t
                    FROM (DESCRIBE SELECT * FROM orders)),
              a AS (SELECT column_name AS col_name,
                      CASE lower(column_type) WHEN 'integer' THEN 'int'
                           WHEN 'varchar' THEN 'string'
                           ELSE lower(column_type) END AS t
                    FROM (DESCRIBE SELECT o_orderkey::INT AS o_orderkey, o_custkey,
                                          o_orderstatus, o_totalprice::FLOAT AS o_totalprice,
                                          o_orderdate, 'batch' AS o_load_src FROM orders))
         SELECT COALESCE(b.col_name, a.col_name) AS col_name,
                CASE WHEN a.col_name IS NULL THEN 'removed'
                     WHEN b.col_name IS NULL THEN 'added'
                     ELSE 'type_changed' END AS status,
                b.t AS "before", a.t AS "after"
         FROM b FULL OUTER JOIN a ON b.col_name = a.col_name
         WHERE a.col_name IS NULL OR b.col_name IS NULL OR b.t <> a.t""",

    // corpus text is ASCII-only, so char arithmetic == byte arithmetic;
    // zero-padding adds 0 to byte_sum, so the sum covers the first
    // min(len, 128) original bytes
    "mm_resize" ->
      """SELECT doc_id AS media_id, CAST(128 AS BIGINT) AS n_bytes,
                CAST(COALESCE(list_aggregate(list_transform(string_split(substr(text, 1, 128), ''), c -> ascii(c)), 'sum'), 0) AS BIGINT) AS byte_sum
         FROM documents""",

    "mm_features" ->
      """SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS dim,
                round(sqrt(list_reduce(list_transform(
                  [ (('0x' || substr(md5(text || ':' || i), 1, 8))::BIGINT - 2147483648)/2147483648.0 FOR i IN range(0, 16) ],
                  v -> v * v), (x, y) -> x + y)), 6) AS norm
         FROM documents""",

    "text_pii" ->
      s"""WITH d AS (SELECT doc_id, $piiContactSql AS txt FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(txt, '${P.emailPattern}')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(txt, '${P.phonePattern}')) AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(txt, '${P.ipPattern}')) AS BIGINT) AS n_ips,
                 md5(regexp_replace(regexp_replace(regexp_replace(txt,
                     '${P.emailPattern}', '[EMAIL]', 'g'),
                     '${P.ipPattern}', '[IP]', 'g'),
                     '${P.phonePattern}', '[PHONE]', 'g')) AS scrub_fp
          FROM d""",

    // scriptCounts twin: identical \x{...} classes (Java∩RE2), count =
    // len(regexp_extract_all); main_script = first script in listed
    // order attaining the max (== the Spark strict-> fold's earliest
    // argmax), 'none' when every class is empty
    "text_script" -> {
      val g = "greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk, n_digit)"
      s"""WITH d AS (SELECT doc_id,
                   CASE WHEN doc_id % 4 = 1 THEN repeat('привет мир ', 20)
                        WHEN doc_id % 4 = 2 THEN text || ' 世界 你好 123'
                        WHEN doc_id % 4 = 3 THEN text || ' αβγ δεζ 456789'
                        ELSE text END AS txt
                 FROM documents),
          c AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(txt, '[A-Za-z]')) AS BIGINT) AS n_latin,
                  CAST(len(regexp_extract_all(txt, '[\\x{0400}-\\x{04FF}]')) AS BIGINT) AS n_cyrillic,
                  CAST(len(regexp_extract_all(txt, '[\\x{0370}-\\x{03FF}]')) AS BIGINT) AS n_greek,
                  CAST(len(regexp_extract_all(txt, '[\\x{0600}-\\x{06FF}]')) AS BIGINT) AS n_arabic,
                  CAST(len(regexp_extract_all(txt, '[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]')) AS BIGINT) AS n_cjk,
                  CAST(len(regexp_extract_all(txt, '[0-9]')) AS BIGINT) AS n_digit
                FROM d)
          SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk, n_digit,
                 CASE WHEN $g IS NULL OR $g = 0 THEN 'none'
                      WHEN n_latin = $g THEN 'latin'
                      WHEN n_cyrillic = $g THEN 'cyrillic'
                      WHEN n_greek = $g THEN 'greek'
                      WHEN n_arabic = $g THEN 'arabic'
                      WHEN n_cjk = $g THEN 'cjk'
                      ELSE 'digit' END AS main_script
          FROM c"""
    },

    // Luhn replayed digit-by-digit as a list comprehension (1-based i,
    // position from right = len-i+1 — same parity as the Spark fold);
    // valid cards folded over the text with literal replaces
    // (list_prepend seeds list_reduce with the text itself)
    "text_pii_luhn" ->
      s"""WITH d AS (SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN text || ' card 411111111111' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE text END AS txt
                 FROM documents),
          c AS (SELECT doc_id, txt, regexp_extract_all(txt, '\\b\\d{16}\\b') AS cards FROM d),
          v AS (SELECT doc_id, txt, cards,
                  [x FOR x IN cards IF
                     list_sum([CASE WHEN (len(x) - i + 1) % 2 = 0
                                    THEN CASE WHEN CAST(x[i] AS INT) * 2 > 9
                                              THEN CAST(x[i] AS INT) * 2 - 9
                                              ELSE CAST(x[i] AS INT) * 2 END
                                    ELSE CAST(x[i] AS INT) END
                               FOR i IN range(1, len(x) + 1)]) % 10 = 0] AS valid
                FROM c)
          SELECT doc_id, CAST(len(cards) AS BIGINT) AS n_cards,
                 CAST(len(valid) AS BIGINT) AS n_valid,
                 md5(list_reduce(list_prepend(txt, valid),
                     (acc, x) -> replace(acc, x, '[CARD]'))) AS scrub_fp
          FROM v""",

    "sample_stratified" ->
      """SELECT doc_id, lang, bucket,
                bucket < (CASE WHEN lang = 'en' THEN 40 WHEN lang = 'de' THEN 70 ELSE 100 END) AS keep
         FROM (SELECT doc_id, lang,
                 ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
               FROM documents)""",

    "corpus_mix" ->
      s"""WITH wv(source, w) AS (VALUES $mixWeightsSqlValues),
          cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
          m AS (SELECT min(c // w) AS m FROM cnt JOIN wv USING (source)),
          r AS (SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
                FROM documents)
          SELECT r.doc_id, r.source, (r.rn <= COALESCE(wv.w, 0) * m.m) AS keep
          FROM r LEFT JOIN wv USING (source) CROSS JOIN m""",

    // systematicSample twin: running token total in hash order, stride
    // = ceil(total/50), offset = 1 + md5-seed mod stride, picked iff
    // the doc's token interval contains a sample point (shifted point
    // count g(x) — all operands non-negative so // == div)
    "sample_systematic" ->
      """WITH r AS (SELECT doc_id, CAST(coalesce(n_chars, 0) AS BIGINT) AS n_tokens,
                      CAST(sum(CAST(coalesce(n_chars, 0) AS BIGINT))
                           OVER (ORDER BY ('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                    FROM documents),
          t AS (SELECT max(cum_tokens) AS total FROM r),
          p AS (SELECT greatest(1, (coalesce(total, 0) + 49) // 50) AS stride FROM t),
          o AS (SELECT stride,
                  1 + (('0x' || substr(md5('pps:offset'), 1, 15))::BIGINT % stride) AS off
                FROM p)
          SELECT r.doc_id, r.n_tokens, r.cum_tokens,
                 ((r.cum_tokens + o.stride - o.off) // o.stride >
                  (r.cum_tokens - r.n_tokens + o.stride - o.off) // o.stride) AS picked
          FROM r CROSS JOIN o""",

    // corpusMixTemperature twin: same pow-seeded ±1-corrected integer
    // sqrt, quota and rank arithmetic all-integer. NULL-symmetric with
    // the operator (the corpus_mix recipe): NULL strata are excluded
    // from the weight denominator and come back keep=false via the
    // LEFT JOIN + coalesce — not dropped, not quota-inflating
    "corpus_mix_temperature" ->
      """WITH cnt AS (SELECT source, count(*) AS c FROM documents
                      WHERE source IS NOT NULL GROUP BY 1),
          w0 AS (SELECT source, c, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS s0 FROM cnt),
          wv AS (SELECT source, c,
                   s0 + CASE WHEN (s0 + 1) * (s0 + 1) <= c THEN 1 ELSE 0 END
                      - CASE WHEN s0 * s0 > c THEN 1 ELSE 0 END AS w
                 FROM w0),
          tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wv),
          q AS (SELECT source, least(c, (300 * w) // tw) AS q FROM wv, tw),
          r AS (SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
                FROM documents)
          SELECT r.doc_id, r.source, coalesce(r.rn <= q.q, FALSE) AS keep
          FROM r LEFT JOIN q USING (source)""",

    "dedup_spans" ->
      s"""WITH ${shingleSetsSqlK(5)},
          ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM s),
          shd AS (SELECT g FROM ex GROUP BY g HAVING count(*) >= 2)
          SELECT e.doc_id, count(*) AS n_shared_spans,
                 round(CAST(count(*) AS DOUBLE) / e.n, 6) AS span_ratio
          FROM ex e JOIN shd ON e.g = shd.g
          GROUP BY e.doc_id, e.n""",

    // maximal-span twin: positional 3-gram anchors, diagonal islands
    // (pos - row_number constant within a consecutive run), one maximal
    // common span per (pair, diagonal, island)
    "dedup_spans_maximal" ->
      s"""WITH $maximalSpanCtes
          SELECT id_l, id_r, pos_l, pos_r, span_len FROM sp""",

    // the cut twin: union the id_r-side ranges per doc (running-max
    // interval merge), then drop covered token indices and fingerprint
    // the surviving normalized token stream
    "dedup_spans_cut" ->
      s"""WITH $maximalSpanCtes,
          rg AS (SELECT id, s, e,
                   max(e) OVER (PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
                 FROM (SELECT DISTINCT id_r AS id, pos_r AS s, pos_r + span_len AS e
                       FROM sp)),
          il AS (SELECT id, s, e,
                   sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl
                 FROM rg),
          un AS (SELECT id, isl, min(s) AS s, max(e) AS e FROM il GROUP BY 1, 2),
          cutl AS (SELECT id AS doc_id, list(struct_pack(s := s, e := e)) AS cuts,
                          CAST(sum(e - s) AS BIGINT) AS ncut
                   FROM un GROUP BY 1)
          SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 COALESCE(c.ncut, 0) AS n_cut_tokens,
                 md5(COALESCE(
                   CASE WHEN c.doc_id IS NULL THEN array_to_string(toks, ' ')
                        ELSE array_to_string(
                          [toks[i] FOR i IN range(1, len(toks) + 1)
                           IF len(list_filter(c.cuts, x -> i - 1 >= x.s AND i - 1 < x.e)) = 0],
                          ' ') END,
                   '')) AS clean_fp -- array_to_string([]) is NULL in DuckDB; Spark's array_join([]) is ''
          FROM tok t LEFT JOIN cutl c ON t.doc_id = c.doc_id""",

    "text_unigram" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t FROM documents),
          freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1)
          SELECT tok.doc_id, count(*) AS n_tokens,
                 CAST(sum(f) AS BIGINT) AS freq_sum, min(f) AS min_freq,
                 round(CAST(sum(f) AS DOUBLE) / count(*), 6) AS avg_freq
          FROM tok JOIN freq USING (t) GROUP BY tok.doc_id""",

    "dedup_semantic" ->
      s"""WITH cent AS (SELECT cv, cidx FROM (
                 SELECT embedding AS cv,
                        row_number() OVER (ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR))) - 1 AS cidx
                 FROM embeddings) WHERE cidx < 16),
          asgn AS (SELECT v.vec_id, c.cidx,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY ${cosSql("v.embedding", "c.cv")} DESC, c.cidx ASC) AS rnk
                   FROM embeddings v CROSS JOIN cent c),
          ccell AS (SELECT vec_id, cidx AS cell FROM asgn WHERE rnk = 1),
          pr AS (SELECT a.vec_id AS id_l, b.vec_id AS id_r,
                   round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS cs
                 FROM ccell a JOIN ccell b ON a.cell = b.cell AND a.vec_id < b.vec_id
                 JOIN embeddings ea ON a.vec_id = ea.vec_id
                 JOIN embeddings eb ON b.vec_id = eb.vec_id),
          dropped AS (SELECT DISTINCT id_r FROM pr WHERE cs >= 0.4 AND NOT isnan(cs))
          SELECT cc.vec_id, CAST(cc.cell AS INT) AS cell, (d.id_r IS NULL) AS keep
          FROM ccell cc LEFT JOIN dropped d ON cc.vec_id = d.id_r""",

    "chunk_tokens" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
          ch AS (SELECT doc_id, toks,
                   unnest(range(0, greatest(1, (len(toks) - 8 + 23) // 24))) AS i
                 FROM tk)
          SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                 CAST(len(toks[i*24+1 : i*24+32]) AS BIGINT) AS n_chunk_tokens,
                 md5(array_to_string(toks[i*24+1 : i*24+32], ' ')) AS chunk_fp
          FROM ch""",

    "pack_sequences" ->
      s"""WITH tk AS (SELECT doc_id, doc_id % 8 AS shard,
                        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
                      FROM documents),
          c AS (SELECT doc_id, shard, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM tk)
          SELECT doc_id, shard, n_tokens,
                 (cum - n_tokens) // 512 AS first_bin,
                 (cum - 1) // 512 AS last_bin,
                 (cum - n_tokens) % 512 AS offset_in_bin
          FROM c""",

    "corpus_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens,
                 min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                 median(n_chars) AS median_chars
          FROM documents GROUP BY 1""",

    "evt_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t
                  AND epoch_us(e.ts) - epoch_us(s1.t) <= 86400000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t
                  AND epoch_us(e.ts) - epoch_us(s2.t) <= 86400000000 GROUP BY 1)
         SELECT 1 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""",

    "evt_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS w
                     FROM events WHERE event_type = 'purchase'),
         c AS (SELECT u, min(w) AS cw FROM uw GROUP BY 1)
         SELECT c.cw AS cohort_week, uw.w - c.cw AS week_offset, count(*) AS n_users
         FROM uw JOIN c ON uw.u = c.u GROUP BY 1, 2""",

    // z = (c·n − Σc)/(n·√((n·Σc² − (Σc)²)/n²)): every input to the
    // double chain is an exact integer, every double op is correctly
    // rounded from identical operands → bit-identical across engines
    "evt_anomaly" ->
      s"""WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
                         FROM events GROUP BY 1, 2),
          st AS (SELECT user_id, count(*) AS n, CAST(sum(n_events) AS BIGINT) AS s,
                        CAST(sum(n_events * n_events) AS BIGINT) AS ssq
                 FROM daily GROUP BY 1),
          j AS (SELECT d.user_id, d.day, d.n_events,
                  CAST(d.n_events * st.n - st.s AS DOUBLE) /
                    (CAST(st.n AS DOUBLE) *
                     sqrt(CAST(st.n * st.ssq - st.s * st.s AS DOUBLE) / CAST(st.n * st.n AS DOUBLE))) AS z
                FROM daily d JOIN st USING (user_id)
                WHERE st.n >= 3 AND st.n * st.ssq - st.s * st.s > 0)
          SELECT user_id, day, n_events, round(z, 6) AS z FROM j WHERE abs(z) > 2""",

    "evt_paths" ->
      """WITH seq AS (SELECT event_type,
                             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
                      FROM events)
         SELECT event_type AS from_type, nxt AS to_type, count(*) AS n_transitions
         FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2""",

    "evt_conversion_lag" ->
      """WITH starts AS (SELECT user_id, min(epoch_us(ts)) AS t0
                         FROM events WHERE event_type = 'view' GROUP BY 1),
         conv AS (SELECT e.user_id, s.t0, min(epoch_us(e.ts)) AS t1
                  FROM events e JOIN starts s ON e.user_id = s.user_id
                  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.t0
                  GROUP BY 1, 2)
         SELECT (t1 - t0) // 3600000000 AS lag_bucket, count(*) AS n_users
         FROM conv GROUP BY 1""",

    "dedup_lines" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
          ln AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
                        array_to_string(toks[i*8+1 : i*8+8], ' ') AS line
                 FROM (SELECT doc_id, toks,
                         unnest(range(0, greatest(1, (len(toks) + 7) // 8))) AS i FROM tk)),
          dl AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ln)
                 GROUP BY line HAVING count(*) >= 2),
          mk AS (SELECT ln.doc_id, ln.line_idx, ln.line, dl.line IS NOT NULL AS dup
                 FROM ln LEFT JOIN dl ON ln.line = dl.line)
          SELECT doc_id, count(*) AS n_lines,
                 CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
                 round(CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio,
                 md5(COALESCE(string_agg(CASE WHEN NOT dup THEN line END, ' ' ORDER BY line_idx), '')) AS clean_fp
          FROM mk GROUP BY doc_id""",

    "dedup_lines_within" ->
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
          ln AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
                        array_to_string(toks[i*8+1 : i*8+8], ' ') AS line
                 FROM (SELECT doc_id, toks,
                         unnest(range(0, greatest(1, (len(toks) + 7) // 8))) AS i FROM tk)),
          l2 AS (SELECT doc_id, line_idx, line FROM ln
                 UNION ALL
                 SELECT doc_id, line_idx + 1000000, line FROM ln WHERE line_idx % 5 = 0),
          mk AS (SELECT doc_id, line_idx, line,
                   (row_number() OVER (PARTITION BY doc_id, line ORDER BY line_idx) > 1) AS dup
                 FROM l2)
          SELECT doc_id, count(*) AS n_lines,
                 CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_lines,
                 round(CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS repeat_ratio,
                 md5(COALESCE(string_agg(CASE WHEN NOT dup THEN line END, ' ' ORDER BY line_idx), '')) AS clean_fp
          FROM mk GROUP BY doc_id""",

    "cluster_kmeans" -> kmeansSql,

    "emb_pq" -> pqSql,

    "evt_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                    FROM events),
         p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 5 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM p
         GROUP BY path ORDER BY n_users DESC, path ASC LIMIT 20""",

    "evt_dau_rolling" ->
      """WITH daily AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
         dau AS (SELECT d AS day, count(*) AS dau FROM daily GROUP BY 1),
         w AS (SELECT DISTINCT u, d + CAST(i AS INT) AS day
               FROM (SELECT u, d, unnest(range(0, 7)) AS i FROM daily)),
         wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1)
         SELECT a.day AS day, a.dau, b.wau FROM dau a JOIN wau b ON a.day = b.day""",

    "evt_churn" ->
      """WITH um AS (SELECT DISTINCT user_id AS u,
                       epoch_us(ts) // 604800000000 AS p FROM events),
         act AS (SELECT p, count(*) AS active FROM um GROUP BY 1),
         ch AS (SELECT p, count(*) AS churned FROM um a
                WHERE NOT EXISTS (SELECT 1 FROM um b WHERE b.u = a.u AND b.p = a.p + 1)
                GROUP BY 1)
         SELECT act.p AS period, active,
                CAST(coalesce(churned, 0) AS BIGINT) AS churned,
                round(CAST(coalesce(churned, 0) AS DOUBLE) / active, 6) AS churn_rate
         FROM act LEFT JOIN ch ON act.p = ch.p""",

    "bpe_pairs" ->
      s"""WITH tok AS (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM tok GROUP BY 1),
          pr AS (SELECT substr(w, i + 1, 2) AS pair, f
                 FROM (SELECT w, f, unnest(range(0, length(w) - 1)) AS i
                       FROM vocab WHERE length(w) >= 2))
          SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
          FROM pr GROUP BY 1 ORDER BY pair_count DESC, pair ASC LIMIT 50""",

    // the two formerly rows-only entries, flipped in r10: the greedy
    // merge fold is replayed as marker-string replaces (see bpeTrainCtes)
    "bpe_train" -> bpeTrainSql,
    "bpe_encode" -> bpeEncodeSql,

    "text_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS nfc_fp,
                nfc_normalize(text) <> text AS changed
         FROM documents""",

    "text_html_extract" ->
      """WITH h AS (
           SELECT doc_id, '<html><body><h1 class="t">' || substring(text, 1, 40) ||
                  '</h1><script>var x = 1 < 2;</script><p>' || text ||
                  ' &amp; more &lt;tail&gt;</p></body></html>' AS html
           FROM documents),
         s AS (
           SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(html,
                     '(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                 '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean
           FROM h)
         SELECT doc_id, md5(clean) AS clean_fp,
                CAST(length(clean) AS BIGINT) AS n_chars
         FROM s""",

    "evt_attribution" ->
      """SELECT CAST(date_trunc('hour', v.ts) AS TIMESTAMP) AS view_hour,
                count(*) AS n_purchases,
                CAST(round(sum(CAST(p.value AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
         ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND v.ts <= p.ts
         GROUP BY 1""",

    "evt_trend" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS y
                        FROM events GROUP BY 1, 2),
         based AS (SELECT event_type, d - min(d) OVER (PARTITION BY event_type) AS t, y
                   FROM daily),
         m AS (SELECT event_type, count(*) AS n_days, CAST(sum(y) AS BIGINT) AS total,
                      CAST(sum(t) AS BIGINT) AS st, CAST(sum(y * t) AS BIGINT) AS sty,
                      CAST(sum(t * t) AS BIGINT) AS stt
               FROM based GROUP BY 1)
         SELECT event_type, n_days, total,
                CAST(n_days * sty - st * total AS BIGINT) AS slope_num,
                CAST(n_days * stt - st * st AS BIGINT) AS slope_den,
                round(CASE WHEN n_days * stt - st * st = 0 THEN 0.0
                      ELSE CAST(n_days * sty - st * total AS DOUBLE)
                           / CAST(n_days * stt - st * st AS DOUBLE) END, 6) AS slope
         FROM m""",

    "evt_attribution_multi" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
         j AS (SELECT p.event_id, p.value, v.view_ts
               FROM p JOIN v ON p.user_id = v.user_id
                AND v.view_ts <= p.ts AND v.view_ts >= p.ts - INTERVAL 3 DAY),
         n AS (SELECT event_id, count(*) AS nt FROM j GROUP BY 1)
         SELECT CAST(date_trunc('hour', j.view_ts) AS TIMESTAMP) AS view_hour,
                count(*) AS n_credits,
                CAST(round(sum(CAST(j.value / n.nt AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM j JOIN n USING (event_id)
         GROUP BY 1""",

    "evt_cohort_ltv" ->
      """WITH ue AS (SELECT user_id AS u, epoch_us(ts) // 604800000000 AS p,
                            CAST(value AS DECIMAL(18,6)) AS v
                     FROM events WHERE event_type = 'purchase'),
         ch AS (SELECT u, min(p) AS cw FROM ue GROUP BY 1),
         cells AS (SELECT cw AS cohort_period, ue.p - cw AS period_offset,
                          count(DISTINCT ue.u) AS n_users, sum(v) AS rev
                   FROM ue JOIN ch ON ue.u = ch.u GROUP BY 1, 2)
         SELECT cohort_period, period_offset, n_users,
                CAST(round(rev, 2) AS DOUBLE) AS revenue,
                CAST(round(sum(rev) OVER (PARTITION BY cohort_period ORDER BY period_offset
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_revenue
         FROM cells""",

    "evt_rfm" ->
      """WITH m AS (SELECT user_id, CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
                           count(*) AS frequency,
                           sum(CAST(value AS DECIMAL(18,6))) AS mon
                    FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT user_id, last_us, frequency,
                CAST(round(mon, 2) AS DOUBLE) AS monetary,
                CAST(ntile(5) OVER (ORDER BY last_us, user_id) AS INT) AS r_quintile,
                CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_quintile,
                CAST(ntile(5) OVER (ORDER BY mon, user_id) AS INT) AS m_quintile
         FROM m""",

    "text_feature_hash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t FROM documents),
          cnt AS (SELECT doc_id, ('0x' || substr(md5('fh:' || t), 1, 8))::BIGINT % 16 AS s,
                         count(*) AS c
                  FROM tok GROUP BY 1, 2)
          SELECT d.doc_id, CAST(r.i AS INT) AS slot, CAST(coalesce(c, 0) AS BIGINT) AS n
          FROM (SELECT DISTINCT doc_id FROM cnt) d
          CROSS JOIN (SELECT unnest(range(0, 16)) AS i) r
          LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.s = r.i""",

    "text_classify" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split($normSql, ' ')) AS t
                       FROM documents),
          ct AS (SELECT lang, count(*) AS tot FROM tok GROUP BY 1),
          w AS (SELECT t, tok.lang AS mlab, count(*) * 1048576 // tot AS w
                FROM tok JOIN ct USING (lang) GROUP BY t, tok.lang, tot),
          dt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
          sc AS (SELECT dt.doc_id, w.mlab, CAST(sum(dt.c * w.w) AS BIGINT) AS score
                 FROM dt JOIN w ON dt.t = w.t GROUP BY 1, 2),
          rk AS (SELECT doc_id, mlab AS predicted, score,
                        row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, mlab DESC) AS rn
                 FROM sc)
          SELECT d.doc_id, d.lang AS label, rk.predicted, rk.score
          FROM rk JOIN documents d USING (doc_id) WHERE rn = 1""",

    "sample_importance" ->
      """WITH mx AS (SELECT max(n_chars) AS m FROM documents)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                ('0x' || substr(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * m
                  < n_chars * 4294967296 AS keep
         FROM documents, mx""",

    "emb_pca" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         dims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ex GROUP BY d),
         codes AS (SELECT vec_id, ex.d AS d,
                          CAST(CASE WHEN mx = mn THEN 0
                               ELSE least(255, floor((v - mn) * 256 / (mx - mn))) END AS BIGINT) AS c
                   FROM ex JOIN dims ON ex.d = dims.d),
         sums AS (SELECT d, CAST(sum(c) AS BIGINT) AS s, count(*) AS n FROM codes GROUP BY d),
         pairs AS (SELECT a.d AS i, b.d AS j, CAST(sum(a.c * b.c) AS BIGINT) AS sxy
                   FROM codes a JOIN codes b ON a.vec_id = b.vec_id AND a.d <= b.d
                   GROUP BY 1, 2)
         SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, p.sxy,
                si.s AS si, sj.s AS sj, CAST(si.n AS BIGINT) AS cnt
         FROM pairs p JOIN sums si ON p.i = si.d JOIN sums sj ON p.j = sj.d""",

    "emb_outlier" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         dims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ex GROUP BY d),
         codes AS (SELECT vec_id, ex.d AS d,
                          CAST(CASE WHEN mx = mn THEN 0
                               ELSE least(255, floor((v - mn) * 256 / (mx - mn))) END AS BIGINT) AS c
                   FROM ex JOIN dims ON ex.d = dims.d),
         lab AS (SELECT vec_id, label FROM embeddings),
         cs AS (SELECT label, d, sum(c) AS s, count(*) AS n
                FROM codes JOIN lab USING (vec_id) GROUP BY 1, 2),
         cent AS (SELECT label, d, s // n AS cd FROM cs),
         d2 AS (SELECT codes.vec_id, lab.label,
                       CAST(sum((c - cd) * (c - cd)) AS BIGINT) AS dist2
                FROM codes JOIN lab USING (vec_id)
                JOIN cent ON cent.label = lab.label AND cent.d = codes.d
                GROUP BY 1, 2),
         st AS (SELECT label, sum(dist2) AS sumd, count(*) AS cnt FROM d2 GROUP BY 1)
         SELECT d2.vec_id, d2.label, d2.dist2,
                d2.dist2 * st.cnt > st.sumd * 4 AS is_outlier
         FROM d2 JOIN st USING (label)""",

    "emb_truncate" ->
      """SELECT vec_id,
                round(sqrt(list_reduce(list_transform(embedding[1:16]::DOUBLE[], v -> v * v),
                                       (x, y) -> x + y)), 6) AS prefix_norm,
                round(sqrt(list_reduce(list_transform(embedding::DOUBLE[], v -> v * v),
                                       (x, y) -> x + y)), 6) AS full_norm,
                round(sqrt(list_reduce(list_transform(embedding[1:16]::DOUBLE[], v -> v * v),
                                       (x, y) -> x + y))
                      / sqrt(list_reduce(list_transform(embedding::DOUBLE[], v -> v * v),
                                         (x, y) -> x + y)), 6) AS retained
         FROM embeddings""",

    "corpus_quantiles" ->
      """SELECT lang, quantile_cont(n_chars, 0.25) AS q1_chars,
                quantile_cont(n_chars, 0.5) AS med_chars,
                quantile_cont(n_chars, 0.75) AS q3_chars
         FROM documents GROUP BY lang""",

    "evt_ab_test" ->
      """SELECT CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                     THEN 'control' ELSE 'treatment' END AS grp,
                count(DISTINCT user_id) AS n_users, count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
                round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_value
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1""",

    "corpus_diff" ->
      """WITH bk AS (SELECT doc_id,
                       ('0x' || substr(md5('rev:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
                       text
                     FROM documents),
         v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
         v2 AS (SELECT doc_id, CASE WHEN b < 20 THEN md5(text || 'v2') ELSE md5(text) END AS fp
                FROM bk WHERE b >= 10
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp FROM bk WHERE b >= 90),
         j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                      CASE WHEN v1.doc_id IS NULL THEN 'added'
                           WHEN v2.doc_id IS NULL THEN 'removed'
                           WHEN v1.fp <> v2.fp THEN 'changed'
                           ELSE 'unchanged' END AS status
               FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         SELECT doc_id, status FROM j WHERE status <> 'unchanged'""",

    "corpus_incremental" -> corpusIncrementalSql,
    // identical output by construction (same state content, same
    // batch — only WHEN the state was built differs), so the delta
    // entry shares the full-rebuild replay oracle
    "corpus_incremental_delta" -> corpusIncrementalSql,
    // the streaming nightly replays to the same corpus as the one-shot
    // increment (replay == rebuild), so it shares the rebuild oracle
    "corpus_stream" -> corpusIncrementalSql,

    "graph_pagerank_weighted" ->
      """WITH b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey + 1000000000 AS p, count(*) AS w
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
         e AS MATERIALIZED (SELECT c AS src, p AS dst, w FROM b
               UNION ALL SELECT p AS src, c AS dst, w FROM b),
         deg AS MATERIALIZED (SELECT src AS node, sum(w) AS d FROM e GROUP BY 1),
         nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
         r0 AS MATERIALIZED (SELECT node, d, 1099511627776 // n AS r FROM deg, nn),
         s1 AS MATERIALIZED (SELECT e.dst AS node, sum(r0.r * e.w // r0.d) AS s
                FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
         r1 AS MATERIALIZED (SELECT r0.node, r0.d,
                       (3 * 1099511627776 // 20) // n + 17 * coalesce(s1.s, 0) // 20 AS r
                FROM r0 LEFT JOIN s1 ON r0.node = s1.node, nn),
         s2 AS MATERIALIZED (SELECT e.dst AS node, sum(r1.r * e.w // r1.d) AS s
                FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
         r2 AS MATERIALIZED (SELECT r1.node,
                       (3 * 1099511627776 // 20) // n + 17 * coalesce(s2.s, 0) // 20 AS r
                FROM r1 LEFT JOIN s2 ON r1.node = s2.node, nn)
         SELECT node, CAST(r AS BIGINT) AS rank FROM r2""",

    "graph_triangles" ->
      """WITH und AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b
                      FROM lineitem x JOIN lineitem y
                        ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
                      GROUP BY 1, 2 HAVING count(*) >= 8),
         deg AS (SELECT n, count(*) AS d
                 FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
                 GROUP BY 1),
         o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
                      CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS dst
               FROM und JOIN deg da ON a = da.n JOIN deg db ON b = db.n)
         SELECT count(*) AS n_triangles
         FROM o e1 JOIN o e2 ON e1.dst = e2.src
                   JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst""",

    "graph_labelprop" ->
      """WITH b AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS p
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT c AS src, p AS dst FROM b
               UNION ALL SELECT p AS src, c AS dst FROM b),
         c1 AS (SELECT dst, src AS label, count(*) AS c FROM e GROUP BY 1, 2),
         a1 AS (SELECT dst AS node, label
                FROM (SELECT dst, label,
                             row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
                      FROM c1) WHERE rn = 1),
         c2 AS (SELECT e.dst, a1.label, count(*) AS c
                FROM e JOIN a1 ON e.src = a1.node GROUP BY 1, 2),
         a2 AS (SELECT dst AS node, label
                FROM (SELECT dst, label,
                             row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
                      FROM c2) WHERE rn = 1)
         SELECT node, label FROM a2""",

    "graph_pagerank" ->
      """WITH b AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS p
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT c AS src, p AS dst FROM b
               UNION ALL SELECT p AS src, c AS dst FROM b),
         deg AS MATERIALIZED (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
         nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
         r0 AS MATERIALIZED (SELECT node, d, 1099511627776 // n AS r FROM deg, nn),
         s1 AS MATERIALIZED (SELECT e.dst AS node, sum(r0.r // r0.d) AS s
                FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
         r1 AS MATERIALIZED (SELECT r0.node, r0.d,
                       (3 * 1099511627776 // 20) // n + 17 * coalesce(s1.s, 0) // 20 AS r
                FROM r0 LEFT JOIN s1 ON r0.node = s1.node, nn),
         s2 AS MATERIALIZED (SELECT e.dst AS node, sum(r1.r // r1.d) AS s
                FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
         r2 AS MATERIALIZED (SELECT r1.node,
                       (3 * 1099511627776 // 20) // n + 17 * coalesce(s2.s, 0) // 20 AS r
                FROM r1 LEFT JOIN s2 ON r1.node = s2.node, nn)
         SELECT node, CAST(r AS BIGINT) AS rank FROM r2""",

    // personalized twin: identical chain, teleport split over the
    // custkey%50 seed set instead of every node
    "graph_ppr" ->
      """WITH b AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS p
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT c AS src, p AS dst FROM b
               UNION ALL SELECT p AS src, c AS dst FROM b),
         deg AS MATERIALIZED (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
         seeds AS MATERIALIZED (SELECT DISTINCT c AS node FROM b WHERE c % 50 = 0),
         ns AS MATERIALIZED (SELECT count(*) AS m FROM seeds),
         r0 AS MATERIALIZED (SELECT deg.node, deg.d,
                       CASE WHEN se.node IS NOT NULL THEN 1099511627776 // m ELSE 0 END AS r
                FROM deg LEFT JOIN seeds se ON deg.node = se.node, ns),
         s1 AS MATERIALIZED (SELECT e.dst AS node, sum(r0.r // r0.d) AS s
                FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
         r1 AS MATERIALIZED (SELECT r0.node, r0.d,
                       CASE WHEN se.node IS NOT NULL THEN (3 * 1099511627776 // 20) // m ELSE 0 END
                         + 17 * coalesce(s1.s, 0) // 20 AS r
                FROM r0 LEFT JOIN s1 ON r0.node = s1.node LEFT JOIN seeds se ON r0.node = se.node, ns),
         s2 AS MATERIALIZED (SELECT e.dst AS node, sum(r1.r // r1.d) AS s
                FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
         r2 AS MATERIALIZED (SELECT r1.node,
                       CASE WHEN se.node IS NOT NULL THEN (3 * 1099511627776 // 20) // m ELSE 0 END
                         + 17 * coalesce(s2.s, 0) // 20 AS r
                FROM r1 LEFT JOIN s2 ON r1.node = s2.node LEFT JOIN seeds se ON r1.node = se.node, ns)
         SELECT node, CAST(r AS BIGINT) AS rank FROM r2""",

    // the graph_ppr chain with graph_pagerank_weighted's weighted
    // shares (rank·w // Σw) — the CASE-teleport × weight merge
    "graph_ppr_weighted" ->
      """WITH b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey + 1000000000 AS p, count(*) AS w
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
         e AS MATERIALIZED (SELECT c AS src, p AS dst, w FROM b
               UNION ALL SELECT p AS src, c AS dst, w FROM b),
         deg AS MATERIALIZED (SELECT src AS node, sum(w) AS d FROM e GROUP BY 1),
         seeds AS MATERIALIZED (SELECT DISTINCT c AS node FROM b WHERE c % 50 = 0),
         ns AS MATERIALIZED (SELECT count(*) AS m FROM seeds),
         r0 AS MATERIALIZED (SELECT deg.node, deg.d,
                       CASE WHEN se.node IS NOT NULL THEN 1099511627776 // m ELSE 0 END AS r
                FROM deg LEFT JOIN seeds se ON deg.node = se.node, ns),
         s1 AS MATERIALIZED (SELECT e.dst AS node, sum(r0.r * e.w // r0.d) AS s
                FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
         r1 AS MATERIALIZED (SELECT r0.node, r0.d,
                       CASE WHEN se.node IS NOT NULL THEN (3 * 1099511627776 // 20) // m ELSE 0 END
                         + 17 * coalesce(s1.s, 0) // 20 AS r
                FROM r0 LEFT JOIN s1 ON r0.node = s1.node LEFT JOIN seeds se ON r0.node = se.node, ns),
         s2 AS MATERIALIZED (SELECT e.dst AS node, sum(r1.r * e.w // r1.d) AS s
                FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
         r2 AS MATERIALIZED (SELECT r1.node,
                       CASE WHEN se.node IS NOT NULL THEN (3 * 1099511627776 // 20) // m ELSE 0 END
                         + 17 * coalesce(s2.s, 0) // 20 AS r
                FROM r1 LEFT JOIN s2 ON r1.node = s2.node LEFT JOIN seeds se ON r1.node = se.node, ns)
         SELECT node, CAST(r AS BIGINT) AS rank FROM r2""",

    "q_skew_join" ->
      """SELECT s_nationkey AS nation, count(*) AS n_lines,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY 1""",

    "graph_concomp" ->
      """WITH RECURSIVE pairs AS (
           SELECT x.o_orderkey AS a, y.o_orderkey AS b
           FROM orders x JOIN orders y
             ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey
            AND abs(datediff('day', CAST(x.o_orderdate AS DATE),
                             CAST(y.o_orderdate AS DATE))) <= 7),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION SELECT b, a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         SELECT id AS node, min(r) AS component FROM reach
         GROUP BY 1 ORDER BY node""",

    "graph_bfs" ->
      """WITH RECURSIVE pairs AS (
           SELECT x.o_orderkey AS a, y.o_orderkey AS b
           FROM orders x JOIN orders y
             ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey
            AND abs(datediff('day', CAST(x.o_orderdate AS DATE),
                             CAST(y.o_orderdate AS DATE))) <= 7),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION SELECT b, a FROM pairs),
         reach(id, d) AS (
           SELECT o_orderkey, 0 FROM orders WHERE o_orderkey % 97 = 0
           UNION
           SELECT e.dst, reach.d + 1 FROM edges e JOIN reach ON e.src = reach.id
           WHERE reach.d < 20)
         SELECT id AS node, CAST(min(d) AS BIGINT) AS dist FROM reach
         GROUP BY 1 ORDER BY node""",

    "graph_sssp" ->
      """WITH RECURSIVE pairs AS (
           SELECT x.o_orderkey AS a, y.o_orderkey AS b,
                  CAST(1 + abs(datediff('day', CAST(x.o_orderdate AS DATE),
                                        CAST(y.o_orderdate AS DATE))) AS BIGINT) AS w
           FROM orders x JOIN orders y
             ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey
            AND abs(datediff('day', CAST(x.o_orderdate AS DATE),
                             CAST(y.o_orderdate AS DATE))) <= 7),
         edges AS (SELECT a AS src, b AS dst, w FROM pairs
                   UNION ALL SELECT b, a, w FROM pairs),
         reach(id, d) AS (
           SELECT o_orderkey, CAST(0 AS BIGINT) FROM orders WHERE o_orderkey % 97 = 0
           UNION
           SELECT e.dst, reach.d + e.w FROM edges e JOIN reach ON e.src = reach.id
           WHERE reach.d + e.w <= 21)
         SELECT id AS node, min(d) AS dist FROM reach
         GROUP BY 1 ORDER BY node""",

    "graph_kcore" -> kcoreSql,

    "q_range_join" ->
      """WITH w AS (SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
                      CAST(date_trunc('month', o_orderdate) AS DATE)) AS BIGINT) AS w_lo
                    FROM orders),
         p AS (SELECT CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
                      l_extendedprice, l_discount
               FROM lineitem)
         SELECT w_lo, count(*) AS n_lines,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         FROM p JOIN w ON ship_day BETWEEN w_lo AND w_lo + 9
         GROUP BY 1""",

    "sim_knn_graph" ->
      s"""WITH bkt AS (SELECT vec_id, ${lcgBucketsSql("embedding")} AS bks FROM embeddings),
          tb AS (SELECT vec_id, t.t AS tb, bks[t.t + 1] AS bucket FROM bkt, range(0, 8) t(t)),
          ok AS (SELECT tb, bucket FROM tb GROUP BY tb, bucket HAVING count(*) BETWEEN 2 AND 1000),
          cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vec_id
                   FROM tb a JOIN tb b ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
                   JOIN ok o ON a.tb = o.tb AND a.bucket = o.bucket),
          scored AS (SELECT c.qid, c.vec_id, round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS score
                     FROM cand c JOIN embeddings ea ON c.qid = ea.vec_id
                                 JOIN embeddings eb ON c.vec_id = eb.vec_id)
          $annRankTail""",

    "text_search_tf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
          tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
                 WHERE term IN ($searchTermsSqlIn) GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          rk AS (SELECT term, doc_id, tf,
                   row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk
                 FROM tf)
          SELECT rk.term, rk.doc_id, rk.tf, dfreq.df, CAST(rk.rnk AS INT) AS rank
          FROM rk JOIN dfreq USING (term) WHERE rnk <= 10""",

    // proximityWindow twin: per-term conditional running max over the
    // doc-ordered occurrence stream; a window ending at pos starts at
    // least(latest-seen per term), valid once every term has appeared
    "text_search_proximity" -> proximitySql,

    // the positional-index path reads stored occurrences instead of
    // re-tokenizing — same relation, so it shares the oracle (the
    // text_search_indexed argument, positional half)
    "text_search_proximity_indexed" -> proximitySql,

    // phraseSearch twin: positions from the list comprehension (the
    // text_bigram_lm recipe), slots as VALUES, and a phrase match =
    // a (doc, diagonal) group holding both distinct slots
    "text_search_phrase" -> phraseSql,
    "text_search_phrase_indexed" -> phraseSql,

    // BM25 twin of Search.bm25TopK: literals cast to DOUBLE and the
    // expression tree shaped exactly as the Spark Column tree so every
    // intermediate double matches bit-for-bit up to the single ln()
    // (±1 ulp cross-engine, absorbed by round 6 — see the gate entry's
    // safety note)
    "text_bm25" -> bm25Sql,

    // the persisted-postings path is pruning-only — same relation,
    // different files read (the sim_ivf_index argument) — so it shares
    // the from-scratch BM25 oracle
    "text_search_indexed" -> bm25Sql,

    // tombstoned index == fresh build of the survivors (exact integer
    // N/avgdl/df corrections — the sim_ivf_delete argument for text)
    "text_search_delete" ->
      bm25SqlFrom("(SELECT * FROM documents WHERE doc_id % 10 <> 7)"),

    // compaction folds the same tombstones in physically — bytes
    // change, results don't, so the compacted store answers the same
    // survivors oracle
    "text_search_compact" ->
      bm25SqlFrom("(SELECT * FROM documents WHERE doc_id % 10 <> 7)"),

    // rankedTopK twin: the text_bm25 scored CTE pivoted per doc in
    // LISTED term order (((s0+s1)+s2) — the same IEEE expression tree
    // as the Spark fold, never an order-dependent SUM), boosted by the
    // text_search_proximity minimal window via LEFT JOIN (no window →
    // factor 1), ranked globally (score DESC, doc_id ASC)
    "text_search_ranked" -> rankedSql,

    // the index-served path prunes WHICH FILES feed the identical
    // doubles (the text_search_indexed argument, extended to the
    // ranked composition by the shared fusion core) — same oracle
    "text_search_ranked_indexed" -> rankedSql,

    // hybridTopK twin: the rankedSql chain's `fin` scores give the
    // text ranks, a CROSS JOIN with vec_id 0's embedding the vector
    // ranks, both top-20 by (score DESC, id ASC); RRF = the same
    // fixed two-term tree of exact-integer divisions the Spark side
    // builds (UNROUNDED — IEEE division is correctly rounded, so the
    // doubles are bit-identical), ranked (score DESC, doc_id ASC)
    "text_search_hybrid" ->
      s"""WITH hsrc AS (SELECT d.doc_id, d.text, e.embedding
                        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
          ${rankedFinCtes("hsrc")},
          trk AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS trnk
                  FROM fin),
          ttop AS (SELECT doc_id, trnk FROM trk WHERE trnk <= 20),
          vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          vsc AS (SELECT h.doc_id, round(${cosSql("h.embedding", "vq.qv")}, 6) AS vs
                  FROM hsrc h CROSS JOIN vq),
          vrk AS (SELECT doc_id, row_number() OVER (ORDER BY vs DESC, doc_id ASC) AS vrnk
                  FROM vsc WHERE NOT isnan(vs)),
          vtop AS (SELECT doc_id, vrnk FROM vrk WHERE vrnk <= 20),
          fused AS (SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
                      coalesce(1.0::DOUBLE / (60 + t.trnk), 0.0::DOUBLE)
                    + coalesce(1.0::DOUBLE / (60 + v.vrnk), 0.0::DOUBLE) AS score
                    FROM ttop t FULL OUTER JOIN vtop v ON t.doc_id = v.doc_id),
          frk AS (SELECT doc_id, score,
                    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM fused)
          SELECT doc_id, score, CAST(rnk AS INT) AS rank FROM frk WHERE rnk <= 10""",

    "text_keyphrase" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                 WHERE length(term) >= 3 GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS nn FROM documents),
          idf AS (SELECT term, df, (nn * 1024) // df AS idf
                  FROM dfreq, n WHERE df * 2 <= nn),
          rk AS (SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                        CAST(tf.tf * idf.idf AS BIGINT) AS score,
                        row_number() OVER (PARTITION BY tf.doc_id
                                           ORDER BY tf.tf * idf.idf DESC, tf.term ASC) AS rnk
                 FROM tf JOIN idf USING (term))
          SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rank
          FROM rk WHERE rnk <= 5""",

    // ---- sketch tables (r9: portable-hash oracles) --------------------
    // Registers rebuilt with exact integer arithmetic: H = md5 hi/lo
    // 64-bit (HUGEINT, unsigned domain), bucket = H div 2^52, rank =
    // 52 − bitlength(low-52 suffix) + 1 (bin() has no leading zeros),
    // register = max rank, zeros densified via range(0,4096).
    "sketch_hll" ->
      """WITH h AS (SELECT lang,
                      (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT::HUGEINT * 4294967296
                       + ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),9,8))::BIGINT) AS H
                    FROM documents),
          r AS (SELECT lang, (H // 4503599627370496)::BIGINT AS idx,
                  max(CASE WHEN (H % 4503599627370496) = 0 THEN 53
                       ELSE 52 - length(bin((H % 4503599627370496)::BIGINT)) + 1 END) AS rank
                FROM h GROUP BY 1, 2),
          g AS (SELECT l.lang, b.range AS idx, COALESCE(r.rank, 0) AS reg
                FROM (SELECT DISTINCT lang FROM documents) l
                CROSS JOIN range(0, 4096) b
                LEFT JOIN r ON r.lang = l.lang AND r.idx = b.range),
          e AS (SELECT lang, count(DISTINCT doc_id) AS exact FROM documents GROUP BY 1)
          SELECT g.lang, e.exact,
                 CAST(sum(g.reg) AS BIGINT) AS reg_sum,
                 CAST(count(CASE WHEN g.reg > 0 THEN 1 END) AS BIGINT) AS reg_nonzero,
                 md5(string_agg(g.reg::VARCHAR, ',' ORDER BY g.idx)) AS reg_fp
          FROM g JOIN e ON g.lang = e.lang
          GROUP BY g.lang, e.exact""",

    // KMV bottom-k replay: 60-bit md5 hashes are non-negative, so the
    // sketch is row_number() ORDER BY h <= k over DISTINCT hashes; θ
    // uses Spark's exact float recipe ((kth div 2)/2^63 + odd-bit/2^64),
    // Jaccard = |M∩A∩B|/|M| with M = k smallest of the union.
    "corpus_overlap" ->
      s"""WITH tok AS (SELECT lang, unnest(string_split($normSql, ' ')) AS t FROM documents),
          hh AS (SELECT DISTINCT lang, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
          rk AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM hh),
          sk AS (SELECT lang, h, rn FROM rk WHERE rn <= $kmvK),
          st AS (SELECT lang, count(*) AS n, max(h) AS kth FROM sk GROUP BY 1),
          ex AS (SELECT lang, count(DISTINCT t) AS exact_vocab FROM tok GROUP BY 1),
          est AS (SELECT lang, CASE WHEN n < $kmvK THEN CAST(n AS DOUBLE)
                      ELSE CAST(n - 1 AS DOUBLE) /
                           (CAST(kth // 2 AS DOUBLE) / 9223372036854775808.0
                            + CASE WHEN kth % 2 = 1 THEN 0.5 / 9223372036854775808.0 ELSE 0.0 END)
                      END AS ev FROM st),
          en AS (SELECT h FROM sk WHERE lang = 'en'),
          u AS (SELECT lang, h FROM sk
                UNION
                SELECT l.lang, e.h FROM (SELECT DISTINCT lang FROM sk) l CROSS JOIN en e),
          ur AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM u),
          m AS (SELECT lang, h FROM ur WHERE rn <= $kmvK),
          jac AS (SELECT m.lang, count(*) AS mm,
                    CAST(count(CASE WHEN s.h IS NOT NULL AND e.h IS NOT NULL THEN 1 END) AS BIGINT) AS ib
                  FROM m LEFT JOIN sk s ON s.lang = m.lang AND s.h = m.h
                         LEFT JOIN en e ON e.h = m.h
                  GROUP BY 1)
          SELECT ex.lang, ex.exact_vocab, round(est.ev, 3) AS est_vocab,
                 round(CAST(jac.ib AS DOUBLE) / jac.mm, 6) AS jaccard_vs_en
          FROM ex JOIN est ON ex.lang = est.lang JOIN jac ON ex.lang = jac.lang""",

    // ---- §2.15 data quality / upsert / SCD2 / nearest-asof ------------
    "quality_profile" -> {
      def row(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
                   count(*) - count($c) AS n_null,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_s,
                   CAST(max($c) AS VARCHAR) AS max_s,
                   round(avg(length(CAST($c AS VARCHAR))), 6) AS avg_len
            FROM lineitem"""
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .map(row).mkString("\nUNION ALL\n")
    },

    "quality_constraints" -> {
      def rule(name: String, pred: String) =
        s"""SELECT '$name' AS rule,
                   CAST(sum(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
                   count(*) AS n_rows,
                   (CAST(sum(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT) = 0) AS passed
            FROM lineitem"""
      Seq(
        rule("qty_range", "l_quantity >= 1 AND l_quantity <= 50"),
        rule("price_positive", "l_extendedprice > 0"),
        rule("flag_domain", "l_returnflag IN ('A', 'N', 'R')"),
        rule("discount_range", "l_discount >= 0 AND l_discount <= 0.1"),
        """SELECT 'order_fk' AS rule,
                  (SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
                  (SELECT count(*) FROM lineitem) AS n_rows,
                  ((SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0) AS passed""",
        """SELECT 'pk_unique' AS rule,
                  (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) AS n_violations,
                  (SELECT count(*) FROM lineitem) AS n_rows,
                  ((SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) = 0) AS passed"""
      ).mkString("\nUNION ALL\n")
    },

    "quality_profile_numeric" -> {
      def row(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS DOUBLE) AS min_v,
                   CAST(max($c) AS DOUBLE) AS max_v,
                   round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c), 6) AS mean_v
            FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(row).mkString("\nUNION ALL\n")
    },

    "ds_upsert" ->
      """WITH upd AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  'UPDATED' AS c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 9000000, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 11 = 0)
         SELECT * FROM upd
         UNION ALL
         SELECT c.* FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = c.c_custkey)""",

    "ds_upsert_latest" ->
      """SELECT user_id, ts, event_id, event_type FROM (
           SELECT user_id, ts, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""",

    "evt_scd2" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
                      row_number() OVER w AS rn,
                      lag(event_type) OVER w AS prev
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          c AS (SELECT user_id, event_type, ts, event_id FROM e
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
          SELECT user_id, event_type AS state, ts AS valid_from,
                 lead(ts) OVER w2 AS valid_to,
                 (lead(ts) OVER w2 IS NULL) AS is_current
          FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "evt_scd2_lookup" ->
      """WITH src AS (SELECT user_id, event_type, ts, event_id,
                        row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS dd
                      FROM events WHERE event_type IN ('click', 'view')),
          s1 AS (SELECT user_id, event_type, ts, event_id FROM src WHERE dd = 1),
          e AS (SELECT user_id, event_type, ts, event_id,
                  row_number() OVER w AS rn, lag(event_type) OVER w AS prev
                FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          c AS (SELECT user_id, event_type AS state, ts AS valid_from FROM e
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
          p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
          SELECT p.event_id, p.user_id, p.ts, c.state
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND c.valid_from <= p.ts""",

    "evt_asof_nearest" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
          v AS (SELECT user_id, ts, max(value) AS view_value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          b AS (SELECT c.event_id, c.user_id, c.ts, v.ts AS bts, v.view_value AS bval
                FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
          f AS (SELECT c.event_id, v.ts AS fts, v.view_value AS fval
                FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts)
          SELECT b.event_id, b.user_id, b.ts,
                 round(CASE WHEN b.bts IS NULL THEN f.fval
                            WHEN f.fts IS NULL THEN b.bval
                            WHEN epoch_us(b.ts) - epoch_us(b.bts)
                                 <= epoch_us(f.fts) - epoch_us(b.ts) THEN b.bval
                            ELSE f.fval END, 2) AS view_value
          FROM b JOIN f ON b.event_id = f.event_id""",

    "quality_correlation" -> {
      def one(a: String, b: String) =
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
                   CASE WHEN n * ssa - sa * sa > 0 AND n * ssb - sb * sb > 0
                        THEN round((n * sp - sa * sb) /
                                   sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb)), 6)
                   END AS corr
            FROM (SELECT CAST(count(*) AS DOUBLE) AS n,
                         -- DECIMAL(19,6): HUGEINT-backed so the product
                         -- doesn't overflow DuckDB's INT64 decimals;
                         -- values stay exact, so both engines agree
                         CAST(sum(CAST($a AS DECIMAL(19,6))) AS DOUBLE) AS sa,
                         CAST(sum(CAST($a AS DECIMAL(19,6)) * CAST($a AS DECIMAL(19,6))) AS DOUBLE) AS ssa,
                         CAST(sum(CAST($b AS DECIMAL(19,6))) AS DOUBLE) AS sb,
                         CAST(sum(CAST($b AS DECIMAL(19,6)) * CAST($b AS DECIMAL(19,6))) AS DOUBLE) AS ssb,
                         CAST(sum(CAST($a AS DECIMAL(19,6)) * CAST($b AS DECIMAL(19,6))) AS DOUBLE) AS sp
                  FROM lineitem)"""
      Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"))
        .map { case (a, b) => one(a, b) }.mkString("\nUNION ALL\n")
    },

    // embeddingDrift twin: per-dim DECIMAL sums (19,6 — int128 storage
    // so the (19,6)×(19,6) product lands exactly in (38,12); Spark's
    // (18,6)×(18,6) → (37,12) — the quality_correlation recipe), the
    // |x|² row fold mirroring the sequential double fold, and the
    // int-ratio/round-6 tails
    "quality_emb_drift" -> {
      def fold(a: String) = {
        val n = s"len($a)"
        s"list_reduce([CAST($a[i+1] AS DOUBLE) * CAST($a[i+1] AS DOUBLE) FOR i IN range(0, $n)], (x, y) -> x + y)"
      }
      s"""WITH eb AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0),
          ec AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1),
          exb AS (SELECT unnest([struct_pack(i := i, v := CAST(embedding[i+1] AS DECIMAL(19,6)))
                                 FOR i IN range(0, len(embedding))], recursive := true) FROM eb),
          exc AS (SELECT unnest([struct_pack(i := i, v := CAST(embedding[i+1] AS DECIMAL(19,6)))
                                 FOR i IN range(0, len(embedding))], recursive := true) FROM ec),
          sb AS (SELECT i, CAST(sum(v) AS DECIMAL(19,6)) AS s FROM exb GROUP BY i),
          sc AS (SELECT i, CAST(sum(v) AS DECIMAL(19,6)) AS s FROM exc GROUP BY i),
          cosr AS (SELECT round(CAST(sum(sb.s * sc.s) AS DOUBLE) /
                          (sqrt(CAST(sum(sb.s * sb.s) AS DOUBLE)) * sqrt(CAST(sum(sc.s * sc.s) AS DOUBLE))), 6) AS centroid_cosine
                   FROM sb JOIN sc USING (i)),
          qb AS (SELECT count(*) AS n_base, sum(CAST(${fold("embedding")} AS DECIMAL(19,6))) AS qs FROM eb),
          qc AS (SELECT count(*) AS n_cur,  sum(CAST(${fold("embedding")} AS DECIMAL(19,6))) AS qs FROM ec)
          SELECT qb.n_base, qc.n_cur,
                 round(CAST(qb.qs AS DOUBLE) / qb.n_base, 6) AS mean_sq_norm_base,
                 round(CAST(qc.qs AS DOUBLE) / qc.n_cur, 6) AS mean_sq_norm_cur,
                 cosr.centroid_cosine
          FROM qb, qc, cosr"""
    },

    "quality_histogram" ->
      """WITH s AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
                           CAST(max(l_extendedprice) AS DOUBLE) AS mx FROM lineitem),
          b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
                       ELSE least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - s.mn) * 16
                                             / (s.mx - s.mn)) AS BIGINT), 15) END AS bin
                FROM lineitem, s WHERE l_extendedprice IS NOT NULL),
          g AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1)
          SELECT g.bin,
                 round(s.mn + CAST(g.bin AS DOUBLE) * (s.mx - s.mn) / 16.0, 6) AS bin_lo,
                 round(s.mn + CAST(g.bin + 1 AS DOUBLE) * (s.mx - s.mn) / 16.0, 6) AS bin_hi,
                 g.cnt
          FROM g, s""",

    // content monitor twin: two contentProfile CTE chains (baseline on
    // raw text, batch on the planted-incident CASE) joined on metric;
    // rate_shift = difference of the two round-6 doubles, re-rounded —
    // identical inputs, identical IEEE ops on both engines
    "quality_content_drift" -> {
      val batchTxt =
        """CASE WHEN doc_id % 5 = 0 THEN repeat('привет мир ', 10)
                WHEN doc_id % 7 = 0 THEN text || ' contact x@y.io pay 4111111111111111 now'
                ELSE text END"""
      s"""WITH ${contentProfileSqlCtes("cb", "text")},
          ${contentProfileSqlCtes("ca", batchTxt)}
          SELECT metric,
                 cb_p.n_docs AS n_docs_base, cb_p.n_hit AS n_hit_base,
                 cb_p.rate AS rate_base,
                 ca_p.n_docs AS n_docs_batch, ca_p.n_hit AS n_hit_batch,
                 ca_p.rate AS rate_batch,
                 round(ca_p.rate - cb_p.rate, 6) AS rate_shift
          FROM cb_p JOIN ca_p USING (metric)"""
    },

    "quality_drift" -> {
      def side(name: String, pred: String, c: String) =
        s"""$name AS (SELECT count($c) AS n, count(DISTINCT $c) AS dist,
                   CAST(min($c) AS DOUBLE) AS mn, CAST(max($c) AS DOUBLE) AS mx,
                   round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c), 6) AS mean
            FROM lineitem WHERE $pred)"""
      def one(c: String) =
        s"""(WITH ${side("b", "l_shipdate < TIMESTAMP '1998-01-01'", c)},
                 ${side("a", "NOT (l_shipdate < TIMESTAMP '1998-01-01')", c)}
            SELECT '$c' AS col_name, b.n AS n_before, a.n AS n_after,
                   b.mean AS mean_before, a.mean AS mean_after,
                   round(a.mean - b.mean, 6) AS mean_shift,
                   round(a.dist / b.dist, 6) AS distinct_ratio,
                   (a.mn < b.mn OR a.mx > b.mx) AS range_widened
            FROM b, a)"""
      Seq("l_quantity", "l_extendedprice").map(one).mkString("\nUNION ALL\n")
    },

    "sample_split_group" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
          c AS (SELECT fp, min(doc_id) AS canon FROM f GROUP BY 1),
          g AS (SELECT f.doc_id, c.canon,
                  ('0x' || substr(md5('gsplit:' || CAST(c.canon AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
                FROM f JOIN c ON f.fp = c.fp)
          SELECT doc_id, canon, bucket,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
          FROM g""",

    // coalesce(n_chars, 0) in the summed term mirrors selectToBudget's
    // NULL-to-0 (ADVICE r10 null-symmetry class; both engines sort
    // DESC with NULLS LAST, so the scan order agrees too)
    "sample_token_budget" ->
      """SELECT doc_id, CAST(coalesce(n_chars, 0) AS BIGINT) AS n_tokens,
                CAST(sum(CAST(coalesce(n_chars, 0) AS BIGINT))
                     OVER (ORDER BY n_chars DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                (CAST(sum(CAST(coalesce(n_chars, 0) AS BIGINT))
                      OVER (ORDER BY n_chars DESC, doc_id ASC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) <= 100000) AS selected
         FROM documents""",

    // tokenMixToBudget twin: per-source running sum over the budgeted
    // sources only (hash priority, id tie-break), unbudgeted sources
    // selected=false with NULL cum
    // coalesce(tok, 0) mirrors tokenMixToBudget's NULL handling —
    // the two sides must agree on NULL inputs should n_chars ever
    // become nullable in data (ADVICE r10)
    "sample_token_mix" ->
      """WITH b AS (SELECT doc_id, source, CAST(coalesce(n_chars, 0) AS BIGINT) AS tok,
                      ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS p,
                      CASE source WHEN 'src0' THEN 6000
                                  WHEN 'src1' THEN 4000
                                  WHEN 'src2' THEN 2000 END AS bud
                    FROM documents),
          c AS (SELECT doc_id,
                  CAST(sum(tok) OVER (PARTITION BY source ORDER BY p, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM b WHERE bud IS NOT NULL)
          SELECT b.doc_id, b.source, b.tok AS n_tokens, c.cum_tokens,
                 coalesce(c.cum_tokens <= b.bud, false) AS selected
          FROM b LEFT JOIN c USING (doc_id)""",

    "evt_asof_nearest_tol" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
          v AS (SELECT user_id, ts, max(value) AS view_value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          b AS (SELECT c.event_id, c.user_id, c.ts, v.ts AS bts, v.view_value AS bval
                FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
          f AS (SELECT c.event_id, v.ts AS fts, v.view_value AS fval
                FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts),
          j AS (SELECT b.event_id, b.user_id, b.ts,
                       (b.bts IS NOT NULL AND epoch_us(b.ts) - epoch_us(b.bts) <= 1800000000) AS bok,
                       (f.fts IS NOT NULL AND epoch_us(f.fts) - epoch_us(b.ts) <= 1800000000) AS fok,
                       epoch_us(b.ts) - epoch_us(b.bts) AS db,
                       epoch_us(f.fts) - epoch_us(b.ts) AS df,
                       b.bval, f.fval
                FROM b JOIN f ON b.event_id = f.event_id)
          SELECT event_id, user_id, ts,
                 round(CASE WHEN NOT bok AND NOT fok THEN NULL
                            WHEN NOT fok THEN bval
                            WHEN NOT bok THEN fval
                            WHEN db <= df THEN bval
                            ELSE fval END, 2) AS view_value
          FROM j""",
  )

  private def searchTermsSqlIn: String = searchTerms.map(t => s"'$t'").mkString(", ")

  /** Unrolled peeling twin of Graph.kcore(k=3, maxRounds=8) on the
    * bidirected order-burst graph: each round keeps only edges whose
    * BOTH endpoints still have degree ≥ 3 — written as a fixed CTE
    * chain of exactly maxRounds rounds (peeling is idempotent once
    * converged, and the operator THROWS if 8 rounds don't converge,
    * so round counts can never silently disagree). */
  private val kcoreSql: String = {
    // MATERIALIZED: each e_i is referenced 3× by round i+1 — inlined
    // CTEs would expand 3^rounds-fold (DuckDB ran out of file handles)
    val rounds = (1 to 8).map { i =>
      s"""a$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 2),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                 JOIN a$i x ON e.src = x.src JOIN a$i y ON e.dst = y.src)"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (
           SELECT x.o_orderkey AS a, y.o_orderkey AS b
           FROM orders x JOIN orders y
             ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey
            AND abs(datediff('day', CAST(x.o_orderdate AS DATE),
                             CAST(y.o_orderdate AS DATE))) <= 7),
         e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                UNION SELECT b, a FROM pairs),
         $rounds
         SELECT src AS node, count(*) AS core_degree FROM e8
         GROUP BY 1 ORDER BY node"""
  }

  /** Unrolled 2-iteration Lloyd twin of Cluster.kmeans(k=8, iters=2):
    * md5-sampled init, argmax-cosine assignment (ties → smaller
    * centroid index, mirroring NearestCentroids), floor(v·2^20) exact
    * integer centroid sums (×2^20 is an exponent shift — no rounding
    * anywhere before the single exact-integer double division), empty
    * cells keep their previous centroid. */
  private val kmeansSql: String = {
    def assign(cent: String, out: String) =
      s"""$out AS (SELECT vec_id, cidx FROM (
            SELECT v.vec_id, c.cidx,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${cosSql("v.embedding", "c.cv")} DESC, c.cidx ASC) AS rnk
            FROM embeddings v CROSS JOIN $cent c) WHERE rnk = 1)"""
    def update(asgn: String, prev: String, out: String) =
      s"""u_$out AS (SELECT a.cidx, d.d AS dim,
              CAST(sum(CAST(floor(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS s,
              count(*) AS n
            FROM $asgn a JOIN embeddings e USING (vec_id), range(0, 64) d(d)
            GROUP BY 1, 2),
          l_$out AS (SELECT cidx, list(CAST(s AS DOUBLE) / (n * 1048576) ORDER BY dim) AS cv
                     FROM u_$out GROUP BY 1),
          $out AS (SELECT p.cidx, COALESCE(l.cv, [CAST(x AS DOUBLE) FOR x IN p.cv]) AS cv
                   FROM $prev p LEFT JOIN l_$out l USING (cidx))"""
    s"""WITH cent0 AS (SELECT cidx, cv FROM (
            SELECT embedding AS cv,
              row_number() OVER (ORDER BY md5('km:' || CAST(vec_id AS VARCHAR))) - 1 AS cidx
            FROM embeddings) WHERE cidx < 8),
        ${assign("cent0", "a1")},
        ${update("a1", "cent0", "cent1")},
        ${assign("cent1", "a2")},
        ${update("a2", "cent1", "cent2")},
        ${assign("cent2", "af")}
        SELECT vec_id, CAST(cidx AS INT) AS cluster FROM af"""
  }

  /** PQ oracle: the [[kmeansSql]] recipe applied per 16-dim slice —
    * shared md5 sample order, integer-quantized centroid updates,
    * 4 subspaces × (init + 2 Lloyd iterations + final assign)
    * unrolled programmatically. */
  /** Shared PQ codebook-evolution CTE body (sl slices, smp sampling
    * order, per-subspace cent0 → af chains) — parameterized by the md5
    * sampling prefix so emb_pq ('km:') and sim_ivfpq_topk ('ivf:')
    * each derive the init order their Spark twin used. Exposes
    * af_$si (final assignments) and cent2_$si (final codebooks, the
    * decode side). */
  private def pqCtesSql(prefix: String): String = {
    val m = 4; val sub = 16; val k = 8
    def assign(si: Int, cent: String, out: String) =
      s"""$out AS (SELECT vec_id, cidx FROM (
            SELECT v.vec_id, c.cidx,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${cosSql(s"v.s$si", "c.cv")} DESC, c.cidx ASC) AS rnk
            FROM sl v CROSS JOIN $cent c) WHERE rnk = 1)"""
    def update(si: Int, asgn: String, prev: String, out: String) =
      s"""u_$out AS (SELECT a.cidx, d.d AS dim,
              CAST(sum(CAST(floor(CAST(e.s$si[d.d + 1] AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS s,
              count(*) AS n
            FROM $asgn a JOIN sl e USING (vec_id), range(0, $sub) d(d)
            GROUP BY 1, 2),
          l_$out AS (SELECT cidx, list(CAST(s AS DOUBLE) / (n * 1048576) ORDER BY dim) AS cv
                     FROM u_$out GROUP BY 1),
          $out AS (SELECT p.cidx, COALESCE(l.cv, [CAST(x AS DOUBLE) FOR x IN p.cv]) AS cv
                   FROM $prev p LEFT JOIN l_$out l USING (cidx))"""
    val subspaceCtes = (0 until m).map { si =>
      s"""cent0_$si AS (SELECT smp.cidx, sl.s$si AS cv
                        FROM smp JOIN sl USING (vec_id) WHERE smp.cidx < $k),
          ${assign(si, s"cent0_$si", s"a1_$si")},
          ${update(si, s"a1_$si", s"cent0_$si", s"cent1_$si")},
          ${assign(si, s"cent1_$si", s"a2_$si")},
          ${update(si, s"a2_$si", s"cent1_$si", s"cent2_$si")},
          ${assign(si, s"cent2_$si", s"af_$si")}"""
    }.mkString(",\n")
    val slices = (0 until m)
      .map(si => s"embedding[${si * sub + 1}:${(si + 1) * sub}] AS s$si").mkString(", ")
    s"""sl AS (SELECT vec_id, $slices FROM embeddings),
        smp AS (SELECT vec_id,
                  row_number() OVER (ORDER BY md5('$prefix' || CAST(vec_id AS VARCHAR))) - 1 AS cidx
                FROM embeddings),
        $subspaceCtes"""
  }

  private val pqSql: String = {
    val unions = (0 until 4).map(si =>
      s"SELECT vec_id, CAST($si AS INT) AS sub_idx, CAST(cidx AS INT) AS code FROM af_$si")
      .mkString(" UNION ALL ")
    s"""WITH ${pqCtesSql("km:")}
        $unions"""
  }

  /** IVF+PQ twin: PQ codebooks/assignments (pqCtesSql, 'ivf:' init) +
    * the sim_ivf coarse CTEs, then decode(code) = final-codebook
    * concatenation, approximate cosine on the decoded vectors, top-20
    * shortlist, exact rescore against the raw embeddings, top-5. */
  private lazy val ivfPqSql: String = {
    val decJoins = "af_0 a0 " +
      (1 until 4).map(si => s"JOIN af_$si a$si USING (vec_id)").mkString(" ") + " " +
      (0 until 4).map(si => s"JOIN cent2_$si c$si ON a$si.cidx = c$si.cidx").mkString(" ")
    s"""WITH ${pqCtesSql("ivf:")},
        $ivfCoarseCtes,
        dec AS (SELECT a0.vec_id, c0.cv || c1.cv || c2.cv || c3.cv AS dv FROM $decJoins),
        approx AS (SELECT qc.qid, cc.vec_id, round(${cosSql("d.dv", "qq.qv")}, 6) AS score
                   FROM qcell qc JOIN ccell cc ON qc.cell = cc.cell
                   JOIN dec d ON cc.vec_id = d.vec_id JOIN q qq ON qc.qid = qq.qid),
        short AS (SELECT qid, vec_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
                    FROM approx WHERE NOT isnan(score)) WHERE rnk <= 20),
        scored AS (SELECT sh.qid, sh.vec_id, round(${cosSql("e.embedding", "qq.qv")}, 6) AS score
                   FROM short sh JOIN embeddings e ON sh.vec_id = e.vec_id JOIN q qq ON sh.qid = qq.qid)
        $annRankTail"""
  }

  /** The simulated next-crawl batch shared by the corpus_incremental
    * gates: exact clones (bucket 90-99, +1e6), light edits (10-19,
    * +2e6) and synthetic novel docs (0-9, +3e6: alternating stopwords
    * and doc-unique md5 words, so they pass the quality gate and
    * near-dup nothing). */
  private def crawlBatch(docs: DataFrame): DataFrame = {
    val b = Pipeline.md5Bucket(col("doc_id"), "rev", 100)
    val edited = docs.filter(b.between(10, 19))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" updated in the next crawl")).as("text"))
    val cloned = docs.filter(b.between(90, 99))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val stop = array(lit("the"), lit("of"), lit("and"), lit("to"), lit("a"))
    val novel = docs.filter(b < 10)
      .withColumn("doc_id", col("doc_id") + 3000000L) // hash uses the NEW id
      .withColumn("text",
        array_join(transform(sequence(lit(0), lit(39)), i =>
          when(i % 2 === 0, element_at(stop, ((i % 10) / lit(2)).cast("int") + 1))
            .otherwise(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
              i.cast("string"))), 1, 8))), " "))
      .select("doc_id", "text")
    edited.union(cloned).union(novel)
  }

  /** Per-run scratch directory for gates that MUTATE a copied store —
    * registered for JVM-exit deletion exactly like the session
    * masters, so a multi-pass bench run cannot leak one index/state
    * copy per pass onto disk forever. */
  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d.toFile)
    d.toString
  }

  /** Session-master corpus state for the corpus_incremental_delta and
    * corpus_stream gates — copied per run (the increment appends to
    * its state dir). */
  private val corpusStateCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def pristineCorpusState(s: SparkSession, dir: String, docs: DataFrame): String =
    masterStore(corpusStateCache, identity[String], "graft_corpus_master", s, dir) { master =>
      Pipeline.writeCorpusState(docs, "doc_id", "text", master, nShards = 8,
        tokenHash = Dedup.md5TokenHash, hashedShard = false)
      master
    }

  /** BM25 twin of Search.bm25TopK — shared by text_bm25 and
    * text_search_indexed (the persisted-postings path); the `docsRel`
    * parameter restricts the corpus for text_search_delete (a
    * tombstoned index must equal a fresh build of the survivors). */
  private def bm25SqlFrom(docsRel: String): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM $docsRel),
        dl AS (SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS doc_len FROM $docsRel),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
               WHERE term IN ($searchTermsSqlIn) GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        corpus AS (SELECT count(*) AS n,
                          avg(CAST(len(string_split($normSql, ' ')) AS DOUBLE)) AS avgdl
                   FROM $docsRel),
        scored AS (SELECT tf.term, tf.doc_id,
                     ln((c.n - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE) + 1.0::DOUBLE)
                       * (tf.tf * (1.2::DOUBLE + 1))
                       / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl.doc_len / c.avgdl)) AS score
                   FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus c),
        rk AS (SELECT term, doc_id, score,
                 row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id ASC) AS rnk
               FROM scored)
        SELECT term, doc_id, round(score, 6) AS score, CAST(rnk AS INT) AS rank
        FROM rk WHERE rnk <= 10"""

  private lazy val bm25Sql: String = bm25SqlFrom("documents")

  /** CTE chain replaying [[graft.operators.Search.rankedTopK]] over
    * `src` (must expose doc_id, text) — exposes `fin(doc_id, score)`,
    * the UNROUNDED per-doc BM25-pivot × slop-boost relation. Shared
    * by text_search_ranked(_indexed) (final round-6 top-10) and
    * text_search_hybrid (rank-only consumption, src = the
    * docs-with-embeddings join). */
  private def rankedFinCtes(src: String): String =
    s"""tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM $src),
        dl AS (SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS doc_len FROM $src),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
               WHERE term IN ($searchTermsSqlIn) GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        corpus AS (SELECT count(*) AS n,
                          avg(CAST(len(string_split($normSql, ' ')) AS DOUBLE)) AS avgdl
                   FROM $src),
        scored AS (SELECT tf.term, tf.doc_id,
                     ln((c.n - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE) + 1.0::DOUBLE)
                       * (tf.tf * (1.2::DOUBLE + 1))
                       / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl.doc_len / c.avgdl)) AS score
                   FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus c),
        piv AS (SELECT doc_id,
                  coalesce(max(CASE WHEN term = 'spark' THEN score END), 0.0::DOUBLE)
                + coalesce(max(CASE WHEN term = 'join' THEN score END), 0.0::DOUBLE)
                + coalesce(max(CASE WHEN term = 'window' THEN score END), 0.0::DOUBLE) AS bm25
                FROM scored GROUP BY doc_id),
        occ AS (SELECT doc_id, u.pos, u.term
                FROM (SELECT doc_id, string_split($normSql, ' ') AS ts FROM $src),
                     unnest([struct_pack(pos := i - 1, term := ts[i])
                             FOR i IN range(1, len(ts) + 1)]) t(u)
                WHERE u.term IN ($searchTermsSqlIn)),
        r AS (SELECT doc_id, pos,
                max(CASE WHEN term = 'spark' THEN pos END) OVER w AS l0,
                max(CASE WHEN term = 'join' THEN pos END) OVER w AS l1,
                max(CASE WHEN term = 'window' THEN pos END) OVER w AS l2
              FROM occ
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)),
        prox AS (SELECT doc_id, CAST(min(pos - least(l0, l1, l2) + 1) AS BIGINT) AS wl
                 FROM r WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
                 GROUP BY doc_id),
        fin AS (SELECT piv.doc_id,
                  piv.bm25 * (1.0::DOUBLE + coalesce(1.0::DOUBLE / prox.wl, 0.0::DOUBLE)) AS score
                FROM piv LEFT JOIN prox USING (doc_id))"""

  private lazy val rankedSql: String =
    s"""WITH ${rankedFinCtes("documents")},
        rk AS (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM fin)
        SELECT doc_id, round(score, 6) AS score, CAST(rnk AS INT) AS rank
        FROM rk WHERE rnk <= 10"""

  /** proximityWindow twin — shared by text_search_proximity and its
    * positional-index path. */
  private lazy val proximitySql: String =
    s"""WITH tok AS (SELECT doc_id, string_split($normSql, ' ') AS ts FROM documents),
        occ AS (SELECT doc_id, u.pos, u.term
                FROM tok, unnest([struct_pack(pos := i - 1, term := ts[i])
                                  FOR i IN range(1, len(ts) + 1)]) t(u)
                WHERE u.term IN ($searchTermsSqlIn)),
        r AS (SELECT doc_id, pos,
                max(CASE WHEN term = 'spark' THEN pos END) OVER w AS l0,
                max(CASE WHEN term = 'join' THEN pos END) OVER w AS l1,
                max(CASE WHEN term = 'window' THEN pos END) OVER w AS l2
              FROM occ
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING))
        SELECT doc_id, CAST(min(pos - least(l0, l1, l2) + 1) AS BIGINT) AS window_len
        FROM r WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
        GROUP BY doc_id"""

  /** phraseSearch twin — shared by text_search_phrase and its
    * positional-index path. */
  private lazy val phraseSql: String =
    s"""WITH tok AS (SELECT doc_id, string_split($normSql, ' ') AS ts FROM documents),
        occ AS (SELECT doc_id, u.pos, u.term
                FROM tok, unnest([struct_pack(pos := i - 1, term := ts[i])
                                  FOR i IN range(1, len(ts) + 1)]) t(u)),
        sl AS (SELECT * FROM (VALUES ('hash', 0), ('join', 1)) s(term, slot)),
        m AS (SELECT occ.doc_id, occ.pos - sl.slot AS p, sl.slot
              FROM occ JOIN sl USING (term) WHERE occ.pos >= sl.slot)
        SELECT doc_id, CAST(p AS BIGINT) AS pos
        FROM m GROUP BY doc_id, p HAVING count(DISTINCT slot) = 2"""

  /** CTE chain replaying [[Quality.contentProfile]] over `textSql`
    * (prefix-namespaced so two profiles compose in one oracle): script
    * dominance via the text_script CASE (same Java∩RE2 classes, same
    * NULL/'none' guard), PII via the text_pii regexes, card validity
    * via the text_pii_luhn digit-fold, stacked to 11 metric rows with
    * integer counts and round-6 rates. */
  private def contentProfileSqlCtes(p: String, textSql: String): String = {
    val scriptCols = T.scriptRanges.map { case (n, cls) =>
      s"CAST(len(regexp_extract_all(txt, '$cls')) AS BIGINT) AS n_$n" }.mkString(",\n        ")
    val g = T.scriptRanges.map(r => s"n_${r._1}").mkString("greatest(", ", ", ")")
    val scriptCase = T.scriptRanges.map { case (n, _) =>
      s"WHEN n_$n = $g THEN '$n'" }.init.mkString("\n             ")
    val luhnValidLen =
      s"""len([x FOR x IN cards IF
             list_sum([CASE WHEN (len(x) - i + 1) % 2 = 0
                            THEN CASE WHEN CAST(x[i] AS INT) * 2 > 9
                                      THEN CAST(x[i] AS INT) * 2 - 9
                                      ELSE CAST(x[i] AS INT) * 2 END
                            ELSE CAST(x[i] AS INT) END
                       FOR i IN range(1, len(x) + 1)]) % 10 = 0])"""
    val hitCols = (T.scriptRanges.map(_._1) :+ "none").map { s =>
      s"CAST(sum(CASE WHEN script = '$s' THEN 1 ELSE 0 END) AS BIGINT) AS h_$s" } ++ Seq(
      "CAST(sum(CASE WHEN n_em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h_em",
      "CAST(sum(CASE WHEN n_ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h_ph",
      "CAST(sum(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h_ip",
      "CAST(sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h_card")
    val metrics = (T.scriptRanges.map(_._1) :+ "none").map(s => s"script:$s" -> s"h_$s") ++
      Seq("pii:email" -> "h_em", "pii:phone" -> "h_ph", "pii:ip" -> "h_ip",
        "pii:card_valid" -> "h_card")
    val rows = metrics.map { case (m, h) =>
      s"SELECT '$m' AS metric, n AS n_docs, $h AS n_hit, round(CAST($h AS DOUBLE) / n, 6) AS rate FROM ${p}_a"
    }.mkString("\n        UNION ALL ")
    s"""${p}_d AS (SELECT doc_id, $textSql AS txt FROM documents),
       ${p}_m AS (SELECT doc_id,
        $scriptCols,
        CAST(len(regexp_extract_all(txt, '${P.emailPattern}')) AS BIGINT) AS n_em,
        CAST(len(regexp_extract_all(txt, '${P.phonePattern}')) AS BIGINT) AS n_ph,
        CAST(len(regexp_extract_all(txt, '${P.ipPattern}')) AS BIGINT) AS n_ip,
        regexp_extract_all(txt, '${P.cardPattern}') AS cards
       FROM ${p}_d),
       ${p}_v AS (SELECT doc_id, n_em, n_ph, n_ip, $luhnValidLen AS n_valid,
        CASE WHEN $g IS NULL OR $g = 0 THEN 'none'
             $scriptCase
             ELSE '${T.scriptRanges.last._1}' END AS script
       FROM ${p}_m),
       ${p}_a AS (SELECT count(*) AS n,
        ${hitCols.mkString(",\n        ")}
       FROM ${p}_v),
       ${p}_p AS (
        $rows)"""
  }

  /** ONE lifecycle for every session-master store (the store-gate
    * rule: builds are spec-pinned, gates time the query/maintenance
    * path against a master built once per (session, sfDir)): stopped
    * sessions' entries evicted on access with their temp PARENT dir
    * deleted, every master registered for recursive delete at JVM
    * exit. `pathOf` extracts the on-disk path from the cached value
    * so eviction policy cannot drift between copies. */
  private def masterStore[T](cache: scala.collection.concurrent.TrieMap[(SparkSession, String), T],
                             pathOf: T => String, prefix: String,
                             s: SparkSession, dir: String)(build: String => T): T = {
    cache.filterInPlace { case ((sess, _), v) =>
      val live = !sess.sparkContext.isStopped
      if (!live) org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(pathOf(v)).getParentFile)
      live
    }
    cache.getOrElseUpdate((s, dir), {
      val master = java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"
      org.apache.commons.io.FileUtils.forceDeleteOnExit(
        new java.io.File(master).getParentFile)
      build(master)
    })
  }

  /** Session-master IVF index (path + frozen centroids) for the
    * sim_ivf_index / sim_ivf_delete gates. Built on the full corpus
    * with the md5 sample key so it matches both gates' oracles. */
  private val ivfIndexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, Array[Double])]
  private def masterIvfIndex(s: SparkSession, dir: String): (String, Array[Double]) =
    masterStore(ivfIndexCache, (_: (String, Array[Double]))._1, "graft_ivf_master",
        s, dir) { master =>
      val flat = Similarity.buildIvfIndex(t(s, dir, "embeddings"), master,
        "vec_id", "embedding", dim = 64, nCentroids = 16,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
      (master, flat)
    }

  /** Session-master PQ-encoded IVF store (path + frozen centroids +
    * frozen codebooks) for the sim_ivfpq_index gate. Same corpus,
    * same md5 sample key and (m, codes, iters) as sim_ivfpq_topk, so
    * the store query shares that gate's oracle (the index path only
    * changes which files are read). */
  private val ivfPqIndexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String),
      (String, Array[Double], Array[Array[Double]])]
  private def masterIvfPqIndex(s: SparkSession, dir: String)
      : (String, Array[Double], Array[Array[Double]]) =
    masterStore(ivfPqIndexCache,
        (_: (String, Array[Double], Array[Array[Double]]))._1, "graft_ivfpq_master",
        s, dir) { master =>
      val (flat, cbs) = Similarity.buildIvfPqIndex(t(s, dir, "embeddings"), master,
        "vec_id", "embedding", dim = 64, nCentroids = 16, m = 4, codes = 8,
        pqIters = 2,
        sampleKey = Some(id => md5(concat(lit("ivf:"), id.cast("string")))))
      (master, flat, cbs)
    }

  /** Session-master postings index for the text_search_indexed /
    * text_search_delete / text_search_compact gates — queried
    * read-only (the mutating gates copy it first). */
  private val postingsIndexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def masterPostingsIndex(s: SparkSession, dir: String): String =
    masterStore(postingsIndexCache, identity[String], "graft_postings_master",
        s, dir) { master =>
      Search.buildPostingsIndex(t(s, dir, "documents"), master, "doc_id", "text")
      master
    }

  /** Session-master postings index over the HYBRID corpus (docs that
    * carry embeddings, keyed by vec_id — the fused retrieval id
    * space) for the text_search_hybrid_indexed_prod bench twin. */
  private val hybridPostingsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def masterHybridPostings(s: SparkSession, dir: String): String =
    masterStore(hybridPostingsCache, identity[String], "graft_hybrid_master",
        s, dir) { master =>
      val corpus = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("text"))
        .join(t(s, dir, "embeddings").select(col("vec_id")), "vec_id")
      Search.buildPostingsIndex(corpus, master, "vec_id", "text")
      master
    }

  /** SQL twin of [[piiContact]]'s derived column. */
  private val piiContactSql: String =
    """CASE WHEN doc_id % 3 = 0
            THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                 || '-0142 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
            ELSE text END"""

  /** VALUES list twin of [[mixWeights]]. */
  private def mixWeightsSqlValues: String =
    mixWeights.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
}
