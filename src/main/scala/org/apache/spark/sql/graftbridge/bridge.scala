package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made `Column` backend-agnostic; the classic-backend
  * converters live in `private[sql]` ExpressionUtils. This object sits
  * inside the sql package purely to re-export those two calls for
  * graft's native expressions (the same access pattern every
  * Expression-providing Spark library uses).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a graft-built logical plan, in `like`'s session
    * (`Dataset.ofRows` is private[sql]) — how graft's own logical nodes
    * enter a query. */
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(like.asInstanceOf[Dataset[_]].sparkSession, plan)

  /** Drain the shared listener bus so QueryExecutionListener callbacks
    * registered by graft (write-metrics row counts, Gds.withListener)
    * have observed every event from the just-finished action.
    * `LiveListenerBus.waitUntilEmpty` is private[spark]; this re-export
    * is the only sanctioned way to make listener-derived results
    * synchronously readable. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
