package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThanOrEqual, LessThanOrEqual, Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.IntegerType

/** Logical edit-distance-threshold join: emit (l, r) row pairs where
  * `levenshtein(leftText, rightText) <= k` — the predicate a naive
  * `a JOIN b ON levenshtein(a.s, b.s) <= k` declares, so
  * [[LevenshteinJoinRewrite]] is semantics-preserving by construction.
  *
  * The fourth whole-operator Catalyst extension (after
  * [[AsOfJoinPlan]], [[SimilarityJoinPlan]], [[JaccardJoinPlan]]),
  * closing the rewrite family's last gap: cosine and jaccard/overlap
  * threshold joins already plan as index joins, but the edit-distance
  * form still planned as BroadcastNestedLoopJoin/CartesianProduct.
  * Like jaccard — and unlike cosine — Levenshtein has an EXACT
  * distributed algorithm at any size: segment-pigeonhole blocking
  * (the PassJoin family, Li et al., PVLDB 2011 — public algorithm).
  * Split one side's string into k+1 contiguous segments; k edits can
  * destroy at most k of them, so any pair within distance k shares at
  * least one segment VERBATIM, at a start position shifted by at most
  * k and between strings whose lengths differ by at most k. Indexing
  * left segments and probing right substrings inside those windows
  * yields a complete candidate set; the banded O(len·k) Levenshtein
  * kernel (the [[BoundLevenshteinRule]] form) verifies each candidate
  * exactly once.
  */
case class LevenshteinJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftText: Expression, rightText: Expression,
    k: Int) extends BinaryNode {

  require(k >= 0, s"edit-distance threshold must be >= 0, got $k")

  // inner join: no nullability change on either side
  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LevenshteinJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[LevenshteinJoinPlan]] as the segment-pigeonhole exec — one
  * physical shape, exact at any size (no broadcastability gate; the
  * same always-fires contract as [[JaccardJoinStrategy]]). */
object LevenshteinJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: LevenshteinJoinPlan =>
      LevenshteinSegmentJoinExec(planLater(p.left), planLater(p.right),
        p.leftText, p.rightText, p.k) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: a naive edit-distance-threshold join —
  * `a JOIN b ON levenshtein(a.s, b.s) <= k` (any of the four
  * [[LevenshteinAtMost]] spellings, or the banded
  * `levenshtein(a, b, k) >= 0` form [[BoundLevenshteinRule]] may already have produced — the two
  * rules are injected side by side and must compose in either order)
  * — becomes a [[LevenshteinJoinPlan]], so it plans as the
  * segment-pigeonhole join instead of BNLJ/CartesianProduct.
  *
  * Exact at any size, so no gate beyond k >= 0 (a negative bound is
  * an always-false predicate the main optimizer folds first). The
  * split, operand orientation and residual `Filter` are
  * [[ThresholdJoinRewrite]]'s.
  */
object LevenshteinJoinRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    ThresholdJoinRewrite(plan) {
      case LevenshteinAtMost(a, b, k) => (a, b, k)
      // the banded form: levenshtein(a, b, k) >= 0 (and its flip)
      case GreaterThanOrEqual(
          Levenshtein(a, b, Some(Literal(k: Int, IntegerType))),
          Literal(0, IntegerType)) if k >= 0 => (a, b, k)
      case LessThanOrEqual(Literal(0, IntegerType),
          Levenshtein(a, b, Some(Literal(k: Int, IntegerType))))
          if k >= 0 => (a, b, k)
    } { (l, r, lt, rt, k) => Some(LevenshteinJoinPlan(l, r, lt, rt, k)) }
}
