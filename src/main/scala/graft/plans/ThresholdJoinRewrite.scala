package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}

/** The skeleton the threshold-join rewrites share
  * ([[SimilarityJoinRewrite]], [[JaccardJoinRewrite]],
  * [[LevenshteinJoinRewrite]]). On every `Join(l, r, Inner | Cross,
  * Some(cond))` it:
  *
  *  1. splits `cond` into its conjuncts;
  *  2. takes the first conjunct that the rule's `recognize` accepts and
  *     whose two operands orient: one resolves entirely against `l`,
  *     the other against `r` (every metric here is symmetric, so a
  *     swapped pair is flipped for free). A recognized conjunct whose
  *     operands both resolve to one side is skipped and the search
  *     goes on;
  *  3. builds the metric's node over the oriented operands with the
  *     rule's `build`;
  *  4. re-wraps the other conjuncts, in their original order, as a
  *     `Filter` on top of that node.
  *
  * Each rule keeps only its recognizer (the predicate spellings it
  * accepts and their literal guards) and its builder. A builder that
  * returns None declines: the whole join is left unchanged and no
  * later conjunct is tried. Only the cosine rule declines (neither side
  * broadcasts and the session keeps the cartesian).
  */
private[plans] object ThresholdJoinRewrite extends PredicateHelper {

  def apply[P](plan: LogicalPlan)(
      recognize: PartialFunction[Expression, (Expression, Expression, P)])(
      build: (LogicalPlan, LogicalPlan, Expression, Expression, P) =>
        Option[LogicalPlan]): LogicalPlan =
    plan.transformUp {
      case j @ Join(l, r, Inner | Cross, Some(cond), _) =>
        val conjuncts = splitConjunctivePredicates(cond)
        conjuncts.iterator.map { c =>
          recognize.lift(c).flatMap { case (a, b, p) =>
            sided(a, b, l, r).map { case (lt, rt) => (lt, rt, p) }
          }
        }.zipWithIndex.collectFirst { case (Some((lt, rt, p)), i) =>
          build(l, r, lt, rt, p).map { node =>
            (conjuncts.take(i) ++ conjuncts.drop(i + 1))
              .reduceOption(And).map(Filter(_, node)).getOrElse(node)
          }
        }.flatten.getOrElse(j)
    }

  /** (left operand, right operand), or None when `a` and `b` do not
    * resolve against one child each. */
  private def sided(a: Expression, b: Expression,
      l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.subsetOf(l.outputSet) &&
        b.references.subsetOf(r.outputSet)) Some((a, b))
    else if (b.references.subsetOf(l.outputSet) &&
        a.references.subsetOf(r.outputSet)) Some((b, a))
    else None
}
