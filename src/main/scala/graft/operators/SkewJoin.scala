package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resilient equi-join via key salting.
  *
  * AQE's skew-join splitting (on by default in GraftSession) handles
  * most skew at runtime; explicit salting remains the tool when one
  * side has a few pathological hot keys (the classic null-key /
  * default-value / celebrity-entity cases in web-scale corpora), or
  * when the join sits inside a cached/checkpointed subtree AQE never
  * re-plans. [[hotKeyJoin]] DETECTS the hot keys (one partial-agg'd
  * count pass), salts/replicates only their rows, and lets the cold
  * remainder take the plain join. Its salt is a hash of the row's
  * content, so the output never depends on task-retry order.
  */
object SkewJoin {

  /** Inner equi-join on `key` with automatic heavy-hitter handling:
    * one partial-agg'd key count on the left finds keys hotter than
    * `hotThreshold` — that relation is ≤ |left| / hotThreshold rows BY
    * CONSTRUCTION, so it broadcasts. Hot left rows get a
    * deterministic-by-content salt in [0, salt); hot right rows are
    * replicated `salt` ways; the two join on (key, salt), spreading
    * one hot key's probe work over `salt` reducers instead of one
    * straggler. Cold rows take the plain join unchanged. The result
    * is row-for-row the plain inner join — salting moves work, never
    * changes the match set (spec-pinned, and gate-checked against the
    * plain SQL join by q_skew_join).
    *
    * At 100 TB: the extra cost is the key-count pass (map-side
    * combined, distinct-keys-sized output) and salt× replication of
    * hot RIGHT rows only. The win is eliminating the reducer that
    * holds hotThreshold× the median partition.
    *
    * Result columns: key, left columns, right columns (the
    * using-join layout of `left.join(right, Seq(key))`). */
  def hotKeyJoin(left: DataFrame, right: DataFrame, key: String,
                 hotThreshold: Long = 1000000L, salt: Int = 16): DataFrame = {
    require(salt >= 2, "salt must be >= 2")
    require(hotThreshold >= 1, "hotThreshold must be >= 1")
    val hot = left.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > hotThreshold)
      .select(col(key))
    // tiny by construction; its three consumers share one broadcast
    // (exchange reuse), so the key count runs once
    val hotB = broadcast(hot)
    // salt is deterministic BY CONTENT (xxhash64 over the full row) —
    // but correctness never depends on it: every left row still meets
    // every right row with its key; the salt only picks the reducer
    val leftCols = left.columns.map(col).toSeq
    val leftHot = left.join(hotB, Seq(key), "left_semi")
      .withColumn("__salt", pmod(xxhash64(struct(leftCols: _*)), lit(salt.toLong)))
    val rightHot = right.join(hotB, Seq(key), "left_semi")
      .withColumn("__salt", explode(sequence(lit(0L), lit(salt.toLong - 1))))
    val hotJoined = leftHot.join(rightHot, Seq(key, "__salt")).drop("__salt")
    val coldJoined = left.join(hotB, Seq(key), "left_anti").join(right, Seq(key))
    hotJoined.unionByName(coldJoined)
  }
}
