package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical as-of join: for each left row, the most recent right row
  * per key with rightTime <= leftTime (inclusive), or nulls.
  *
  * This is the whole-operator Catalyst extension path (SURVEY §7.3
  * option c — LogicalPlan + Strategy + SparkPlan): Spark has no as-of
  * join operator, and while the union-and-carry formulation
  * ([[graft.operators.Analytics.asofJoin]]) expresses it with built-in
  * operators, a dedicated physical operator does strictly less work —
  * one co-partitioned sort-merge pass, no union row-inflation, no
  * window-function state machinery. The reference semantics (and the
  * q26 oracle) are identical between both implementations, which the
  * AsOfJoinSpec equality test and the q74 oracle row both prove.
  *
  * `rightTies` are expressions appended to the right child's sort
  * order so that among right rows sharing (key, time) the LAST in
  * (time, ties) order — i.e. the maximum — deterministically wins,
  * mirroring the union-and-carry tie-break.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTies: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Listed in
  * `GraftExtensions`, which a session built without the extension gets
  * through `GraftExtensions.ensure` (run by `Analytics.asofJoinExec`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, ties) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, ties) :: Nil
    case _ => Nil
  }
}
