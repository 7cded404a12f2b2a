package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** The four spellings of `levenshtein(a, b) <= k` against a literal int
  * bound, as (a, b, k): `lev <= k` and `k >= lev` for k >= 0, and
  * `lev < k` and `k > lev` as k − 1 for k >= 1. [[BoundLevenshteinRule]]
  * and [[LevenshteinJoinRewrite]] both read them here. */
private[plans] object LevenshteinAtMost {
  def unapply(e: Expression): Option[(Expression, Expression, Int)] = e match {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 0 => Some((a, b, k))
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 0 => Some((a, b, k))
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 1 => Some((a, b, k - 1))
    case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 1 => Some((a, b, k - 1))
    case _ => None
  }
}

/** Optimizer rule: bound Levenshtein predicates.
  *
  * `levenshtein(a, b) <= k` evaluates the full O(|a|·|b|) DP per row
  * and then throws the distance away; when the predicate only needs
  * "within k", Spark's threshold variant computes a (2k+1)-wide DP
  * band and early-exits — O(max(|a|,|b|)·k). The two are equivalent
  * because the bounded form returns -1 exactly when the distance
  * exceeds the threshold:
  *
  *   levenshtein(a, b) <= k   ⇔   levenshtein(a, b, k) >= 0    (k >= 0)
  *   levenshtein(a, b) <  k   ⇔   levenshtein(a, b, k-1) >= 0  (k >= 1)
  *
  * Null semantics are preserved (null inputs make both sides null).
  * Only literal int thresholds are rewritten — a per-row threshold
  * column (q58's relative bound) must stay unbounded. Listed in
  * [[graft.GraftExtensions]], so every graft session and every catalog
  * query plans with it; the fuzzy-dedup verify stage is the intended
  * beneficiary once its bound is absolute.
  */
object BoundLevenshteinRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LevenshteinAtMost(a, b, k) =>
        GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))
    }
}
