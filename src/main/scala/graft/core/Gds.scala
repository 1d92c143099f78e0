package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.matching.Regex

/** Spark-native equivalent of eel's `DataStream`
  * (reference: eel-core/src/main/scala/io/eels/datastream/DataStream.scala).
  *
  * Every transform is a thin veneer over `Dataset` operators, so the
  * whole chain stays one Catalyst logical plan: filters/projections
  * push down to the scan, joins pick broadcast/shuffle strategies via
  * the optimizer + AQE, and expressions run in whole-stage codegen.
  *
  * Order-dependent eel ops (take/drop/takeWhile/zip) are meaningless
  * on an unordered distributed relation, so those overloads take an
  * explicit ordering column and are implemented without any
  * single-threaded streaming (see each method's note).
  *
  * The `Row => Row` closure overloads from eel are provided for API
  * parity (`mapRows`, `explodeRows`, `filterRows`) but break codegen
  * and carry a serialization boundary — the Column-based overloads are
  * the idiomatic path and are what every built-in operator uses.
  */
final case class Gds(df: DataFrame) {

  def schema: StructType = df.schema
  def spark: SparkSession = df.sparkSession

  // ---- projection ------------------------------------------------------
  /** eel `projection(fields)` (DataStream.scala:711). Column pruning
    * reaches the parquet scan. */
  def projection(first: String, rest: String*): Gds = projection(first +: rest)
  def projection(fields: Seq[String]): Gds = Gds(df.select(fields.map(col): _*))
  /** eel `projectionExpression("a,b")` (DataStream.scala:705). */
  def projectionExpression(expression: String): Gds =
    projection(expression.split(',').map(_.trim).toSeq)

  // ---- filter ----------------------------------------------------------
  /** eel `filter(Row => Boolean)` family (DataStream.scala:67-93). */
  def filter(p: Column): Gds = Gds(df.filter(p))
  def filterNot(p: Column): Gds = Gds(df.filter(!p))
  def filter(fieldName: String, p: Column => Column): Gds = Gds(df.filter(p(col(fieldName))))
  /** Closure escape-hatch; not codegen-friendly. */
  def filterRows(p: Row => Boolean): Gds = Gds(df.filter(p))

  // ---- per-field map / update -----------------------------------------
  /** eel `mapField` / `update` / `replace(fieldName, fn)`
    * (DataStream.scala:49,605-652): rewrite one column in place. */
  def mapField(fieldName: String, fn: Column => Column): Gds =
    Gds(df.withColumn(fieldName, fn(col(fieldName))))
  def mapFieldIfExists(fieldName: String, fn: Column => Column): Gds =
    if (df.columns.contains(fieldName)) mapField(fieldName, fn) else this
  /** eel `replace(from, target)` (DataStream.scala:652): substitute a
    * value wherever it appears, any column. */
  def replaceValue(from: String, target: Any): Gds = Gds(
    df.select(df.schema.fields.map { f =>
      when(col(f.name).cast("string") === lit(from), lit(target).cast(f.dataType))
        .otherwise(col(f.name)).as(f.name)
    }.toSeq: _*))
  /** eel `replace(field, from, target)` (DataStream.scala:643): value
    * replace scoped to ONE field. */
  def replaceValueIn(field: String, from: String, target: Any): Gds = {
    val dt = df.schema(field).dataType
    Gds(df.withColumn(field,
      when(col(field).cast("string") === lit(from), lit(target).cast(dt))
        .otherwise(col(field))))
  }
  /** eel `replaceField(name, field)` (DataStream.scala:356): swap one
    * field's definition (name + type) in place, position preserved. */
  def replaceField(name: String, newName: String, dataType: DataType): Gds =
    Gds(df.select(df.schema.fieldNames.map { fn =>
      if (fn == name) col(fn).cast(dataType).as(newName) else col(fn)
    }.toSeq: _*))
  /** Closure escape-hatch for eel's `map(Row => Row)` (DataStream.scala:40). */
  def mapRows(f: Row => Row, outSchema: StructType): Gds =
    Gds(df.map(f)(Encoders.row(outSchema)).toDF())

  // ---- add / remove / rename fields -----------------------------------
  /** eel `addField` family (DataStream.scala:775-855). */
  def addField(name: String, value: Column): Gds = {
    require(!df.columns.contains(name), s"Field $name already exists")
    Gds(df.withColumn(name, value))
  }
  def addField(name: String, defaultValue: Any): Gds = addField(name, lit(defaultValue))
  def addFieldIfNotExists(name: String, defaultValue: Any): Gds =
    if (df.columns.contains(name)) this else addField(name, lit(defaultValue))
  /** eel `renameField` (DataStream.scala:450). */
  def renameField(nameFrom: String, nameTo: String): Gds =
    Gds(df.withColumnRenamed(nameFrom, nameTo))
  /** eel `removeField` (DataStream.scala:465). */
  def removeField(fieldName: String, caseSensitive: Boolean = true): Gds = {
    val victims =
      if (caseSensitive) df.columns.filter(_ == fieldName)
      else df.columns.filter(_.equalsIgnoreCase(fieldName))
    Gds(df.drop(victims.toSeq: _*))
  }
  /** eel `dropField`/`removeFieldIfExists`/`dropFieldIfExists` aliases
    * (DataStream.scala:465-494). */
  def dropField(fieldName: String): Gds = removeField(fieldName)
  def removeFieldIfExists(fieldName: String): Gds = removeField(fieldName)
  def dropFieldIfExists(fieldName: String): Gds = removeField(fieldName)
  /** eel `addFieldFn(name, Row => Any)` (DataStream.scala:794-832):
    * computed field from a row closure. Closure escape-hatch like
    * [[mapRows]] — not codegen-friendly; prefer addField(name, Column). */
  def addFieldFn(name: String, dataType: org.apache.spark.sql.types.DataType,
                 fn: Row => Any): Gds = {
    require(!df.columns.contains(name), s"Field $name already exists")
    val outSchema = df.schema.add(name, dataType)
    mapRows(r => Row.fromSeq(r.toSeq :+ fn(r)), outSchema)
  }
  /** eel `removeFields(regex)` (DataStream.scala:482). */
  def removeFields(regex: Regex): Gds =
    Gds(df.drop(df.columns.filter(c => regex.pattern.matcher(c).matches()).toSeq: _*))

  // ---- null handling ---------------------------------------------------
  /** eel `dropNullRows` (DataStream.scala:462). */
  def dropNullRows(): Gds = Gds(df.na.drop("any"))
  /** eel `replaceNullValues(default)` (DataStream.scala:755) — string
    * columns only, like the reference. */
  def replaceNullValues(defaultValue: String): Gds = Gds(df.na.fill(defaultValue))

  // ---- schema surgery --------------------------------------------------
  /** eel `withLowerCaseSchema` (DataStream.scala:95). */
  def withLowerCaseSchema(): Gds =
    Gds(df.toDF(df.columns.map(_.toLowerCase).toSeq: _*))
  /** eel `stripCharsFromFieldNames` (DataStream.scala:590). */
  def stripCharsFromFieldNames(chars: Seq[Char]): Gds =
    Gds(df.toDF(df.columns.map(c => c.filterNot(chars.contains)).toSeq: _*))
  /** eel `replaceFieldType` (DataStream.scala:344,868-874). */
  def replaceFieldType(fieldName: String, datatype: DataType): Gds =
    mapField(fieldName, _.cast(datatype))
  def replaceFieldType(regex: Regex, datatype: DataType): Gds = Gds(
    df.select(df.columns.map { c =>
      if (regex.pattern.matcher(c).matches()) col(c).cast(datatype).as(c) else col(c)
    }.toSeq: _*))
  /** eel `align(schema)` (DataStream.scala:122): reorder to the target
    * schema, cast matching columns, null-fill missing ones. */
  def align(target: StructType): Gds = Gds(
    df.select(target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*))

  // ---- ordered subsets (explicit order — see class doc) ----------------
  /** eel `take(n)` (DataStream.scala:165). Spark plans orderBy+limit as
    * partial per-partition top-K + single small reduce — no global sort. */
  def take(n: Int, order: Column*): Gds = Gds(df.orderBy(order: _*).limit(n))
  /** eel `drop(n)` (DataStream.scala:200) → offset. */
  def dropRows(n: Int, order: Column*): Gds = Gds(df.orderBy(order: _*).offset(n))
  /** eel `takeWhile(p)` (DataStream.scala:137): keep the ordered prefix
    * where p holds. Distributed form: keep rows strictly below the
    * minimum order-key at which p fails — one cheap scalar aggregate
    * broadcast back, no single-threaded scan. */
  def takeWhile(p: Column, order: Column): Gds = {
    val cutoff = df.filter(!p).agg(min(order).as("__cutoff"))
    Gds(df.join(broadcast(cutoff)).filter(col("__cutoff").isNull || order < col("__cutoff"))
      .drop("__cutoff"))
  }
  /** eel `dropWhile(p)` (DataStream.scala:214). */
  def dropWhile(p: Column, order: Column): Gds = {
    val cutoff = df.filter(!p).agg(min(order).as("__cutoff"))
    Gds(df.join(broadcast(cutoff)).filter(col("__cutoff").isNotNull && order >= col("__cutoff"))
      .drop("__cutoff"))
  }
  /** eel `sample(k)` (DataStream.scala:665) kept every k-th row; the
    * scalable deterministic analogue is hash-mod sampling: no shuffle,
    * stable across runs and partitionings. */
  def sampleEvery(k: Int, key: Column): Gds = Gds(df.filter(pmod(key, lit(k)) === 0))

  // ---- set ops ---------------------------------------------------------
  /** eel `union`/`++` (DataStream.scala:685). */
  def union(other: Gds): Gds = Gds(df.unionByName(other.df))
  def ++(other: Gds): Gds = union(other)
  /** eel `substract` [sic] (DataStream.scala:735). */
  def subtract(other: Gds): Gds = Gds(df.except(other.df))
  /** eel `intersection` (DataStream.scala:745). */
  def intersection(other: Gds): Gds = Gds(df.intersect(other.df))
  def distinct(): Gds = Gds(df.distinct())

  // ---- joins -----------------------------------------------------------
  /** eel `cartesian` (DataStream.scala:267). */
  def cartesian(other: Gds): Gds = Gds(df.crossJoin(other.df))
  /** eel `join(key, other)` (DataStream.scala:426): equi-join adding the
    * other stream's fields. Catalyst auto-broadcasts small sides; pass
    * broadcastOther=true to force it for known-small dimensions. */
  def join(key: String, other: Gds, broadcastOther: Boolean = false): Gds = {
    val rhs = if (broadcastOther) broadcast(other.df) else other.df
    Gds(df.join(rhs, Seq(key)))
  }
  /** Keep rows WITH a match in `other` — the EXISTS shape. The probe
    * side contributes only its join key to the exchange and each left
    * row emits at most once (no row multiplication on duplicate keys,
    * unlike an inner join + distinct). */
  def semiJoin(key: String, other: Gds): Gds =
    Gds(df.join(other.df, Seq(key), "left_semi"))
  /** Keep rows WITHOUT a match in `other` — the NOT EXISTS shape. */
  def antiJoin(key: String, other: Gds): Gds =
    Gds(df.join(other.df, Seq(key), "left_anti"))
  /** Left outer join (unmatched right-side fields null-filled). */
  def leftJoin(key: String, other: Gds, broadcastOther: Boolean = false): Gds = {
    val rhs = if (broadcastOther) broadcast(other.df) else other.df
    Gds(df.join(rhs, Seq(key), "left_outer"))
  }
  /** Key-based MERGE/upsert: rows from `updates` win on key collision,
    * unmatched target rows pass through, new keys are inserted — the
    * lakehouse `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT` shape as a pure relational recipe. Costs one anti-join
    * keyed on `keys` (the updates side ships only its key columns into
    * the probe) plus a union — no full-table rewrite, no window, and
    * both inputs stay partitioned on the merge key, so at 100 TB the
    * exchange is one key-shuffle of the (typically much smaller)
    * updates relation. Schemas must match by name.
    *
    * CONTRACT: `updates` must be key-unique. Duplicate keys in
    * `updates` all survive the union (lakehouse MERGE would reject the
    * multi-match); callers with non-unique change streams must resolve
    * to one row per key first (e.g. latest-wins via
    * [[graft.operators.TimeSeries.scd2History]] or a max-by). This is
    * deliberately NOT an automatic dropDuplicates — an arbitrary
    * survivor would be nondeterministic data corruption. */
  def upsert(updates: Gds, keys: String*): Gds = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    val keep = df.join(updates.df.select(keys.map(updates.df(_)): _*), keys.toSeq, "left_anti")
    Gds(updates.df.unionByName(keep))
  }
  /** Latest-wins MERGE — [[upsert]] for change streams that are NOT
    * key-unique and may arrive out of order: duplicates in `updates`
    * resolve to the newest row per key by `orderCols` (a bounded
    * per-key window over the UPDATES side only), and against the
    * target an update wins only when it is at least as new as the
    * stored row — a stale update can never regress a key (the plain
    * anti-join upsert would take it). `orderCols` must be non-null in
    * the data (they double as the full-outer presence probes) and
    * should end in a unique id so the winner is a pure function of
    * the data.
    *
    * Scale shape: one key-shuffle of target ∪ updates (full-outer
    * equi-join, both sides hash-partitioned on `keys`) — no global
    * sort, no table rewrite beyond the join itself. This is exactly
    * the per-batch merge [[graft.streaming.StreamOps.upsertStream]]
    * applies. */
  def upsertLatest(updates: Gds, keys: Seq[String], orderCols: Seq[String]): Gds = {
    require(keys.nonEmpty && orderCols.nonEmpty, "keys and orderCols required")
    require(orderCols.forall(c => !keys.contains(c)),
      s"orderCols must be data columns, not keys (a key is constant per " +
        s"group so it cannot order versions): ${orderCols.filter(keys.contains).mkString(",")}")
    require(orderCols.forall(df.columns.contains),
      s"orderCols must exist in the target (and be non-null in the data — " +
        s"they double as the full-outer presence probes): " +
        s"${orderCols.filterNot(df.columns.contains).mkString(",")}")
    val cols = df.columns.toSeq
    val dataCols = cols.filterNot(keys.contains)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val u = updates.df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val uRen = u.select(keys.map(col) ++ dataCols.map(c => col(c).as(s"__u_$c")): _*)
    val joined = df.join(uRen, keys, "full_outer")
    val uPresent = col(s"__u_${orderCols.head}").isNotNull
    val tAbsent = col(orderCols.head).isNull
    val uOrd = struct(orderCols.map(c => col(s"__u_$c")): _*)
    val tOrd = struct(orderCols.map(col): _*)
    val takeU = uPresent && (tAbsent || uOrd >= tOrd)
    Gds(joined.select(keys.map(col) ++
        dataCols.map(c => when(takeU, col(s"__u_$c")).otherwise(col(c)).as(c)): _*)
      .select(cols.map(col): _*))
  }

  /** Inner join with explicit hot-key salting — row-identical to
    * [[join]], but keys hotter than `hotThreshold` on this side are
    * spread over `salt` reducers (see
    * [[graft.operators.SkewJoin.hotKeyJoin]] for the shape and the 100 TB
    * rationale). Use when one key holds a disproportionate share of
    * the stream and AQE's skew rewrite can't see it. */
  def skewJoin(key: String, other: Gds, hotThreshold: Long = 1000000L,
               salt: Int = 16): Gds =
    Gds(graft.operators.SkewJoin.hotKeyJoin(df, other.df, key, hotThreshold, salt))
  /** eel `concat` (DataStream.scala:380) zips two streams positionally.
    * Distributed form: global ordinals from range-partition + in-
    * partition sort + `zipWithIndex` (one small count job for partition
    * offsets), then an equi-join on the ordinal — NOT a row_number over
    * an unpartitioned window, which Spark executes as a single-
    * partition sort and would bottleneck at scale. */
  def zip(other: Gds, leftOrder: Column, rightOrder: Column): Gds = {
    def ordinal(d: DataFrame, order: Column): DataFrame = {
      val sorted = d.repartitionByRange(order).sortWithinPartitions(order)
      val schema = sorted.schema.add("__rn", org.apache.spark.sql.types.LongType, nullable = false)
      sorted.sparkSession.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }, schema)
    }
    Gds(ordinal(df, leftOrder).join(ordinal(other.df, rightOrder), Seq("__rn"), "inner")
      .drop("__rn"))
  }

  // ---- explode ---------------------------------------------------------
  /** eel `explode(Row => Seq[Row])` (DataStream.scala:857) — idiomatic
    * column form: one row per array element. */
  def explodeCol(column: Column, as: String): Gds =
    Gds(df.withColumn(as, explode(column)))
  def explodeRows(f: Row => Seq[Row], outSchema: StructType): Gds =
    Gds(df.flatMap(f)(Encoders.row(outSchema)).toDF())

  // ---- grouping --------------------------------------------------------
  /** eel `groupBy` (DataStream.scala:248). */
  def groupBy(first: String, rest: String*): GroupedGds =
    GroupedGds(df, (first +: rest).map(col))
  /** eel `aggregated()` (DataStream.scala:241): whole-stream aggregation. */
  def aggregated(): GroupedGds = GroupedGds(df, Seq.empty)

  // ---- listener (eel io/eels/Listener.scala) ---------------------------
  /** eel's `Listener` gets a callback per ROW as the push engine moves
    * it — meaningless in a distributed engine where rows never pass
    * through one observer. The Spark-native mapping: listeners are
    * notified per ACTION with the rows processed and wall time, backed
    * by a QueryExecutionListener scoped to the action (bus drained, so
    * callbacks have fired before the action returns). */
  def withListener(l: GdsListener): Gds = { gdsListeners = l :: gdsListeners; this }

  private var gdsListeners: List[GdsListener] = Nil

  private def notifying[T](action: String)(body: => T)(rows: T => Long): T = {
    if (gdsListeners.isEmpty) body
    else {
      import org.apache.spark.sql.execution.QueryExecution
      import org.apache.spark.sql.util.QueryExecutionListener
      val t0 = System.nanoTime()
      val qel = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          gdsListeners.foreach(_.onError(action, e))
      }
      spark.listenerManager.register(qel)
      try {
        val result = body
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
        gdsListeners.foreach(_.onComplete(action, rows(result), System.nanoTime() - t0))
        result
      } finally spark.listenerManager.unregister(qel)
    }
  }

  // ---- typed materialization (eel Source.scala:28-33 `load[T]`) --------
  /** Typed view over the stream. eel's `load[T]` marshals collected
    * rows into case classes with Jackson AT THE DRIVER; the Spark twin
    * is an Encoder-backed Dataset — deserialization is codegen'd and
    * runs distributed, so the typed surface costs nothing until (and
    * unless) rows are brought local. Columns resolve to constructor
    * fields by name (case-insensitive); extra columns are dropped. */
  def as[T <: Product: scala.reflect.runtime.universe.TypeTag]: org.apache.spark.sql.Dataset[T] =
    df.as[T](Encoders.product[T])

  /** eel `load[T]`: materialize the whole stream as case-class
    * instances at the driver. Driver-memory-bound by definition —
    * prefer [[as]]`.map/filter/...` to keep the typed work distributed. */
  def loadAs[T <: Product: scala.reflect.runtime.universe.TypeTag]: Seq[T] =
    as[T].collect().toSeq

  // ---- actions (eel DataStream.scala:894-1010) -------------------------
  def collect: Seq[Row] = notifying("collect")(df.collect().toSeq)(_.length.toLong)
  def collectValues: Seq[Seq[Any]] = collect.map(_.toSeq)
  def count: Long = notifying("count")(df.count())(identity)
  def size: Long = count
  def head: Row = df.head()
  def exists(p: Column): Boolean = !df.filter(p).isEmpty
  def find(p: Column): Option[Row] = df.filter(p).limit(1).collect().headOption
  /** eel `minBy`/`maxBy` (DataStream.scala:515,534). */
  def minBy(order: Column): Row = df.orderBy(order.asc).head()
  def maxBy(order: Column): Row = df.orderBy(order.desc).head()
  def iterator: Iterator[Row] = df.toLocalIterator().asInstanceOf[java.util.Iterator[Row]] match {
    case it => new Iterator[Row] { def hasNext = it.hasNext; def next() = it.next() }
  }
  // ---- sketches (Spark-native; no eel equivalent) ----------------------
  /** HyperLogLog++ distinct estimate — one pass, mergeable, the scale
    * substitute for exact countDistinct on high-cardinality keys. */
  def approxCountDistinct(field: String, rsd: Double = 0.05): Long =
    df.select(approx_count_distinct(col(field), rsd)).head().getLong(0)
  /** KLL-style quantile estimates (exact when accuracy >= group size). */
  def approxQuantiles(field: String, probabilities: Seq[Double],
                      relativeError: Double = 0.01): Seq[Double] =
    df.stat.approxQuantile(field, probabilities.toArray, relativeError).toSeq
  /** Count-min sketch of a column: mergeable frequency estimates. */
  def countMinSketch(field: String, eps: Double = 0.01, confidence: Double = 0.99,
                     seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    df.stat.countMinSketch(field, eps, confidence, seed)
  /** Bloom filter over a column: probabilistic membership for
    * broadcast-side pre-filtering of huge joins. */
  def bloomFilter(field: String, expectedNumItems: Long, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter =
    df.stat.bloomFilter(field, expectedNumItems, fpp)

  /** eel `multiplex`/`tee` (DataStream.scala:561,945): in Spark the plan
    * is a value — reuse it; cache() makes the shared scan physical. */
  def multiplex(n: Int, cache: Boolean = true): Seq[Gds] = {
    val d = if (cache) df.cache() else df
    Seq.fill(n)(Gds(d))
  }
  def tee(n: Int): Seq[Gds] = multiplex(n)
  /** eel `foreach` (DataStream.scala:60): distributed side-effect pass.
    * Rows-processed for the listener comes from an accumulator — the
    * side-effecting pass has no countable result. */
  def foreach[U](fn: Row => U): Gds = {
    if (gdsListeners.isEmpty) { df.foreach(r => { fn(r); () }); this }
    else {
      val acc = spark.sparkContext.longAccumulator("graft.foreach.rows")
      notifying("foreach")(df.foreach { r => fn(r); acc.add(1L) })(_ => acc.value)
      this
    }
  }
  /** eel `to(sink)` (DataStream.scala:990): write and return row count.
    * eel's `parallelism` knob maps to partition count.
    *
    * Single pass: the count comes from the write job's own
    * `numOutputRows` metric (read via a QueryExecutionListener, bus
    * drained so the read is synchronous) — at 100 TB a second
    * count() scan of the input would double the job. Falls back to
    * count() only if the sink's plan exposes no write metric (never
    * the case for the file-format sinks). */
  def to(sink: graft.sources.Sink): Long =
    notifying("to")(writeCounted(df, sink))(identity)
  def to(sink: graft.sources.Sink, parallelism: Int): Long =
    notifying("to")(writeCounted(df.repartition(parallelism), sink))(identity)

  private def writeCounted(out: DataFrame, sink: graft.sources.Sink): Long = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val counted = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan.metrics.get("numOutputRows").foreach(m => counted.set(m.value))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      sink.write(out)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val n = counted.get
    if (n >= 0) n else out.count()
  }
  def toVector: Vector[Row] = collect.toVector
  def toSet: Set[Row] = collect.toSet
  /** eel `toDataTable` (DataStream.scala:1007): small driver-side table. */
  def toDataTable: DataTable = DataTable(df.schema, collectValues)

  def toDF: DataFrame = df
}

/** Driver-side materialized table (eel: io/eels/DataTable.scala) —
  * only for small results; anything big stays a Gds. */
final case class DataTable(schema: StructType, records: Seq[Seq[Any]]) {
  def size: Int = records.length
}

/** Action-level progress listener — the Spark-native reshaping of
  * eel's per-row `Listener` (reference: io/eels/Listener.scala).
  * Registered via [[Gds.withListener]]; `onComplete` fires after the
  * action's QueryExecutionListener events have been drained. */
trait GdsListener {
  def onComplete(action: String, rowsProcessed: Long, durationNs: Long): Unit
  def onError(action: String, e: Throwable): Unit = ()
}

object Gds {
  def apply(spark: SparkSession, parquetPath: String): Gds =
    Gds(spark.read.parquet(parquetPath))

  /** eel constructors (DataStream.scala:1020-1080). Local collections
    * become parallelized relations; the schema is explicit like eel's. */
  def fromRows(spark: SparkSession, schema: StructType, rows: Seq[Row]): Gds =
    Gds(spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema))
  def fromRows(spark: SparkSession, schema: StructType, first: Row, rest: Row*): Gds =
    fromRows(spark, schema, first +: rest)
  def fromIterator(spark: SparkSession, schema: StructType, it: Iterator[Row]): Gds =
    fromRows(spark, schema, it.toSeq)
  def fromValues(spark: SparkSession, schema: StructType, values: Seq[Seq[Any]]): Gds =
    fromRows(spark, schema, values.map(v => org.apache.spark.sql.Row.fromSeq(v)))

  private implicit class SeqAsJava[A](private val s: Seq[A]) extends AnyVal {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size); s.foreach(l.add); l
    }
  }
}

/** Spark-native equivalent of eel's `GroupedDataStream`
  * (reference: eel-core/src/main/scala/io/eels/datastream/GroupedDataStream.scala).
  * Aggregations accumulate and resolve to one `groupBy().agg(...)` —
  * partial (map-side) aggregation then a single shuffle on the keys.
  * An empty key set reproduces eel's `FullDatasetKeyFn` whole-stream
  * aggregation.
  */
final case class GroupedGds(df: DataFrame, keys: Seq[Column], aggs: Seq[Column] = Seq.empty) {
  private def add(c: Column): GroupedGds = copy(aggs = aggs :+ c)
  /** eel GroupedDataStream.scala:76-80. eel emits Double for all aggs;
    * we keep native Spark types (sum of long stays long). */
  def sum(field: String): GroupedGds = add(functions_sum(field))
  def count(field: String): GroupedGds = add(org.apache.spark.sql.functions.count(col(field)).as(s"count_$field"))
  def avg(field: String): GroupedGds = add(org.apache.spark.sql.functions.avg(col(field)).as(s"avg_$field"))
  def min(field: String): GroupedGds = add(org.apache.spark.sql.functions.min(col(field)).as(s"min_$field"))
  def max(field: String): GroupedGds = add(org.apache.spark.sql.functions.max(col(field)).as(s"max_$field"))
  def agg(exprs: Column*): GroupedGds = copy(aggs = aggs ++ exprs)
  private def functions_sum(field: String): Column =
    org.apache.spark.sql.functions.sum(col(field)).as(s"sum_$field")

  def toGds: Gds = Gds(toDF)
  def toDataStream: Gds = toGds // eel naming
  def collect: Seq[Row] = toGds.collect
  def size: Long = toGds.count
  def toDF: DataFrame =
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Multi-dimensional variants (Spark-first extras over eel's
    * GroupedDataStream): same accumulated aggs over rollup/cube
    * grouping sets or a pivoted key. */
  def toRollup: Gds = Gds(df.rollup(keys: _*).agg(aggs.head, aggs.tail: _*))
  def toCube: Gds = Gds(df.cube(keys: _*).agg(aggs.head, aggs.tail: _*))
  def pivotOn(pivotCol: String, values: Seq[Any]): Gds =
    Gds(df.groupBy(keys: _*).pivot(pivotCol, values).agg(aggs.head, aggs.tail: _*))
}
