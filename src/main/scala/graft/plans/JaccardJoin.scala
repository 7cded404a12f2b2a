package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType

import graft.expressions.{JaccardSim, OverlapSim}

/** Which set-similarity score the inverted-index join filters on —
  * both share the identical candidate machinery (pairs meeting on
  * ≥ 1 shingle with exact intersection counts); only the final
  * score arithmetic differs. */
sealed trait SetSimMetric
object SetSimMetric {
  /** |A∩B| / |A∪B| */
  case object Jaccard extends SetSimMetric
  /** |A∩B| / min(|A|,|B|) — containment */
  case object Overlap extends SetSimMetric
}

/** Logical jaccard-threshold join: emit (l, r) row pairs where
  * `jaccard_sim(leftText, rightText, n) >= threshold` — the same
  * predicate a naive `a JOIN b ON jaccard_sim(a.text, b.text, n) >= t`
  * declares, so [[JaccardJoinRewrite]] is semantics-preserving by
  * construction.
  *
  * The third whole-operator Catalyst extension (after [[AsOfJoinPlan]]
  * and [[SimilarityJoinPlan]]), closing the q130/q131 trap for the
  * text metric: Spark plans the naive predicate as
  * BroadcastNestedLoopJoin or CartesianProduct. Unlike cosine — where
  * the only exact physical shape is a broadcast gate, so the rewrite
  * must gate on broadcastability — jaccard has an EXACT distributed
  * algorithm at any size: the shingle inverted index (q22's shape). A
  * pair with jaccard ≥ t > 0 shares ≥ 1 shingle, so pairing rows
  * within shingle-key buckets and counting bucket co-occurrences
  * yields every qualifying pair with its exact intersection size — no
  * recall trade, no O(n·m) stage, at any scale.
  */
case class JaccardJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftText: Expression, rightText: Expression,
    n: Int, threshold: Double,
    metric: SetSimMetric = SetSimMetric.Jaccard) extends BinaryNode {

  require(n >= 1, "shingle size must be >= 1")
  require(threshold > 0,
    "inverted-index jaccard join requires threshold > 0 (a pair must " +
      "share at least one shingle to be discoverable)")

  // inner join: no nullability change on either side
  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): JaccardJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[JaccardJoinPlan]] as the inverted-index exec — one physical
  * shape, exact at any size (the regime split the cosine strategy
  * needs does not apply here). */
object JaccardJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: JaccardJoinPlan =>
      JaccardInvertedJoinExec(planLater(p.left), planLater(p.right),
        p.leftText, p.rightText, p.n, p.threshold, p.metric) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: a naive jaccard-threshold join written in SQL —
  * `a JOIN b ON jaccard_sim(a.text, b.text, n) >= t` (or the
  * comma-join + WHERE form the main optimizer has already folded into
  * the join condition) — becomes a [[JaccardJoinPlan]], so it plans as
  * the shingle inverted-index join instead of
  * BroadcastNestedLoopJoin/CartesianProduct.
  *
  * Unlike [[SimilarityJoinRewrite]] there is NO broadcastability gate:
  * the inverted index is exact at any size, so the rewrite always
  * preserves semantics and always fires. The one guard is t > 0 — at
  * t ≤ 0 a pair sharing no shingle qualifies, which an inverted index
  * cannot discover (and which the user should write as a cross join,
  * because it is one).
  *
  * The split, operand orientation and residual `Filter` are
  * [[ThresholdJoinRewrite]]'s; this rule keeps the spellings
  * `jaccard_sim|overlap_sim(..) >= t` and `t <= ..` and the t > 0 guard.
  */
object JaccardJoinRewrite extends Rule[LogicalPlan] {

  /** A set-similarity scalar: (operands, n, metric). */
  private object SetSim {
    def unapply(e: Expression)
        : Option[(Expression, Expression, Int, SetSimMetric)] = e match {
      case j: JaccardSim => Some((j.left, j.right, j.n, SetSimMetric.Jaccard))
      case o: OverlapSim => Some((o.left, o.right, o.n, SetSimMetric.Overlap))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    ThresholdJoinRewrite(plan) {
      case GreaterThanOrEqual(SetSim(a, b, n, m), Literal(t: Double, DoubleType))
          if t > 0 => (a, b, (n, t, m))
      case LessThanOrEqual(Literal(t: Double, DoubleType), SetSim(a, b, n, m))
          if t > 0 => (a, b, (n, t, m))
    } { case (l, r, lt, rt, (n, t, m)) =>
      Some(JaccardJoinPlan(l, r, lt, rt, n, t, m))
    }
}
