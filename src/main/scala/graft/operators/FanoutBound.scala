package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge

/** Planner size bound for a relation built by `Generate` fan-out.
  *
  * Catalyst estimates a `Generate` (explode) at its child's size, so a
  * pair explosion rooted at a small scan is estimated at scan size and
  * a join over it can statically BROADCAST a multi-GiB relation (the
  * sf10 ladder's 8 GiB broadcast crash). This node reports its child's
  * estimate times `fanout` — the most rows one input row can become —
  * so the static planner never broadcasts the bounded side on an
  * estimate. It adds nothing to the physical plan ([[Passthrough]]
  * plans the child in its place), so the relation stays lazy, and a
  * pair set that AQE measures small at runtime still broadcasts.
  *
  * The statistic overrides `stats`, not `computeStats`:
  * `SizeInBytesOnlyStatsPlanVisitor` calls `computeStats()` on leaf
  * nodes only. */
private[graft] case class FanoutBound(fanout: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def stats: Statistics = Statistics(sizeInBytes = child.stats.sizeInBytes * fanout)
  override protected def withNewChildInternal(newChild: LogicalPlan): FanoutBound =
    copy(child = newChild)
}

private[graft] object FanoutBound {

  /** The physical half of [[FanoutBound]]: plan the child, no node. */
  object Passthrough extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case FanoutBound(_, child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** `df` with its size estimate multiplied by `fanout`. Registers
    * [[Passthrough]] on `df`'s session first (idempotent), so a session
    * built without GraftExtensions plans the node too. */
  def bound(df: DataFrame, fanout: Int): DataFrame = {
    val exp = df.sparkSession.experimental
    if (!exp.extraStrategies.contains(Passthrough)) exp.extraStrategies = Passthrough +: exp.extraStrategies
    Bridge.ofRows(df, FanoutBound(fanout, df.queryExecution.analyzed))
  }

  /** `df` with every [[FanoutBound]] in its plan removed — for a
    * relation that the bound overstates, such as the ids of a pair
    * relation, which are no more than its bucketed input. */
  def unbounded(df: DataFrame): DataFrame =
    Bridge.ofRows(df, df.queryExecution.analyzed.transformUp { case FanoutBound(_, child) => child })
}
