package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{TextKernels, VectorKernels}
import graft.plans.{JaccardJoinPlan, JaccardJoinRewrite, LevenshteinJoinPlan, LevenshteinJoinRewrite, SimilarityJoinPlan, SimilarityJoinRewrite}

/** The threshold-join rewrite skeleton the cosine, jaccard/overlap and
  * levenshtein rules share, one table of join conditions run against
  * every metric: both literal sides, operands in side order and
  * swapped, a one-sided conjunct that is skipped while the search goes
  * on, and two qualifying conjuncts of which the first rewrites and the
  * second stays in the residual filter. Each case checks the rule on
  * the analyzed join (which conjunct it took, the operand orientation,
  * the residual conjuncts in order), then runs the SQL and checks the
  * graft exec and the rows against a driver-side brute force over the
  * engine's scalar kernels. */
class ThresholdJoinRewriteSpec extends AnyFunSuite with PredicateHelper {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** (id, text, word, vector) */
  private type Doc = (Long, String, String, Seq[Double])
  private val docs: Seq[Doc] = Seq(
    (1L, "the quick brown fox jumps", "spark", Seq(1.0, 0.0, 0.0, 0.1)),
    (2L, "the quick brown fox leaps", "sparks", Seq(0.9, 0.1, 0.0, 0.1)),
    (3L, "quick brown fox jumps high", "shark", Seq(0.7, 0.5, 0.1, 0.0)),
    (4L, "a slow green turtle walks", "stark", Seq(0.0, 1.0, 0.0, 0.2)),
    (5L, "a slow green turtle runs", "sort", Seq(0.1, 0.9, 0.1, 0.2)),
    (6L, "the quick brown dog jumps", "part", Seq(0.5, 0.5, 0.5, 0.5)),
    (7L, "short", "porte", Seq(0.0, 0.0, 1.0, 0.0)),
    (8L, "a slow red turtle walks", "window", Seq(0.0, 0.2, 0.9, 0.1)),
    (9L, "slow green turtle walks home", "widow", Seq(0.3, 0.3, 0.3, 0.9)))

  private def utf(s: String) = UTF8String.fromString(s)

  /** One metric: the SQL call over a column, whether its predicate is a
    * lower bound (similarity, `f >= t`) or an upper bound (distance,
    * `f <= k`), a loose and a tight threshold, the scalar the reference
    * evaluates, the rule, and its logical node as (left operand,
    * threshold). */
  private case class Metric(name: String, col: String, call: String,
      lowerBound: Boolean, loose: Double, tight: Double, exec: String,
      score: (Doc, Doc) => Double, rule: Rule[LogicalPlan],
      node: PartialFunction[LogicalPlan, (Expression, Double)]) {
    def literal(t: Double): String =
      if (lowerBound) s"${t}D" else t.toInt.toString
    def holds(s: Double, t: Double): Boolean =
      if (lowerBound) s >= t else s <= t
  }

  private val metrics = Seq(
    Metric("cosine", "v", "cosine_sim(%s, %s)", lowerBound = true,
      0.8, 0.95, "SimilarityBroadcastGate",
      (a, b) => VectorKernels.cosine(ArrayData.toArrayData(a._4.toArray),
        ArrayData.toArrayData(b._4.toArray)),
      SimilarityJoinRewrite,
      { case p: SimilarityJoinPlan => (p.leftVec, p.threshold) }),
    Metric("jaccard", "t", "jaccard_sim(%s, %s, 2)", lowerBound = true,
      0.2, 0.5, "JaccardInvertedJoin",
      (a, b) => TextKernels.jaccardSim(utf(a._2), utf(b._2), 2),
      JaccardJoinRewrite,
      { case p: JaccardJoinPlan => (p.leftText, p.threshold) }),
    Metric("overlap", "t", "overlap_sim(%s, %s, 2)", lowerBound = true,
      0.3, 0.7, "JaccardInvertedJoin",
      (a, b) => TextKernels.overlapSim(utf(a._2), utf(b._2), 2),
      JaccardJoinRewrite,
      { case p: JaccardJoinPlan => (p.leftText, p.threshold) }),
    Metric("levenshtein", "w", "levenshtein(%s, %s)", lowerBound = false,
      2, 1, "LevenshteinSegmentJoin",
      (a, b) => utf(a._3).levenshteinDistance(utf(b._3)).toDouble,
      LevenshteinJoinRewrite,
      { case p: LevenshteinJoinPlan => (p.leftText, p.k.toDouble) }))

  /** A join conjunct: the metric over side `x`'s and side `y`'s column
    * at threshold `t` (`flipped` puts the literal first), or
    * `id_a < id_b`. */
  private sealed trait Conj
  private case class Thr(x: String, y: String, t: Double, flipped: Boolean)
      extends Conj
  private case object IdLess extends Conj

  private def sql(m: Metric, c: Conj): String = c match {
    case Thr(x, y, t, flipped) =>
      val f = m.call.format(s"${m.col}_$x", s"${m.col}_$y")
      val lit = m.literal(t)
      (m.lowerBound, flipped) match {
        case (true, false) => s"$f >= $lit"
        case (true, true) => s"$lit <= $f"
        case (false, false) => s"$f <= $lit"
        case (false, true) => s"$lit >= $f"
      }
    case IdLess => "id_a < id_b"
  }

  private def holds(m: Metric, c: Conj, a: Doc, b: Doc): Boolean = c match {
    case Thr(x, y, t, _) =>
      def side(s: String) = if (s == "a") a else b
      m.holds(m.score(side(x), side(y)), t)
    case IdLess => a._1 < b._1
  }

  /** (case, conjuncts, index of the conjunct the rule rewrites) */
  private def cases(m: Metric): Seq[(String, Seq[Conj], Int)] = Seq(
    ("f >= t", Seq(Thr("a", "b", m.loose, flipped = false), IdLess), 0),
    ("t <= f", Seq(Thr("a", "b", m.loose, flipped = true), IdLess), 0),
    ("swapped operands",
      Seq(Thr("b", "a", m.loose, flipped = false), IdLess), 0),
    ("one-sided conjunct skipped", Seq(
      Thr("a", "a", m.loose, flipped = false),
      Thr("a", "b", m.loose, flipped = false), IdLess), 1),
    ("two qualifying conjuncts", Seq(
      Thr("a", "b", m.loose, flipped = false),
      Thr("a", "b", m.tight, flipped = true), IdLess), 0))

  private def view(s: String): Unit =
    docs.toDF(s"id_$s", s"t_$s", s"w_$s", s"v_$s")
      .createOrReplaceTempView(s"tj_$s")

  test("the reference thresholds separate: the tight pair set is a " +
      "non-empty strict subset of the loose one for every metric") {
    for (m <- metrics) {
      def ref(t: Double) = for (a <- docs; b <- docs
        if a._1 < b._1 && m.holds(m.score(a, b), t)) yield (a._1, b._1)
      assert(ref(m.tight).nonEmpty, m.name)
      assert(ref(m.tight).toSet.subsetOf(ref(m.loose).toSet), m.name)
      assert(ref(m.tight).size < ref(m.loose).size, m.name)
    }
  }

  for (m <- metrics; (name, conjs, rewritten) <- cases(m))
    test(s"${m.name}: $name") {
      view("a"); view("b")
      val cond = conjs.map(sql(m, _)).mkString(" AND ")
      val df = spark.sql(s"SELECT id_a, id_b FROM tj_a JOIN tj_b ON $cond")
      val clue = s"${m.name} ON $cond"

      // the rule on the analyzed join: the conjunct it took, the
      // orientation of its operands, and the residual in order
      val analyzed = df.queryExecution.analyzed
      val written = analyzed.collectFirst {
        case Join(_, _, _, Some(c), _) => splitConjunctivePredicates(c)
      }.get
      val out = m.rule(analyzed)
      val (leftOperand, t) = out.collectFirst(m.node).getOrElse(
        fail(s"no rewrite: $clue"))
      assert(t === conjs(rewritten).asInstanceOf[Thr].t, clue)
      assert(leftOperand.references.map(_.name).toSet ===
        Set(s"${m.col}_a"), clue)
      val residual = out.collectFirst {
        case Filter(c, n) if m.node.isDefinedAt(n) =>
          splitConjunctivePredicates(c)
      }.get
      assert(residual === written.patch(rewritten, Nil, 1), clue)

      // the whole pipeline: the graft exec and the brute-force rows
      assert(df.queryExecution.executedPlan.toString.contains(m.exec), clue)
      val got = df.as[(Long, Long)].collect().toSeq.sorted
      val want = (for (a <- docs; b <- docs
        if conjs.forall(holds(m, _, a, b))) yield (a._1, b._1)).sorted
      assert(want.nonEmpty, clue)
      assert(got === want, clue)
    }
}
