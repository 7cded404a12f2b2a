package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

import graft.expressions.CosineSim

// (companion API: graft.operators.Similarity.cosineJoin builds this
// plan; GraftExtensions lists the strategy + rule)

/** How a [[SimilarityJoinPlan]] may be executed.
  *
  *  - [[SimJoinRegime.Exact]]: always the broadcast-gate operator
  *    (exact result). This is what the SQL rewrite emits — a rewrite
  *    must never trade recall silently.
  *  - [[SimJoinRegime.Banded]]: always the banded random-hyperplane
  *    LSH operator (deterministic, recall < 1 — only pairs colliding
  *    in at least one signature band are scored).
  *  - [[SimJoinRegime.Auto]]: statistics decide at planning time —
  *    broadcast-gate when either side fits the session's
  *    autoBroadcastJoinThreshold, banded otherwise. The operator-API
  *    default: callers who ask for Auto accept the documented banded
  *    recall in the large-large case (the same contract as MLlib's
  *    approxSimilarityJoin).
  */
sealed trait SimJoinRegime
object SimJoinRegime {
  case object Exact extends SimJoinRegime
  case object Banded extends SimJoinRegime
  case object Auto extends SimJoinRegime
}

/** S-curve band-geometry math for the banded LSH regime (signed
  * random projection): a bit agrees for a pair at cosine `s` with
  * probability `1 − arccos(s)/π`, a band of `r` bits with `p^r`, and
  * at least one of `b` bands with `1 − (1 − p^r)^b`. [[derive]]
  * inverts that: given the join threshold and a target recall AT the
  * threshold (the worst qualifying pair — recall only rises above
  * it), pick the WIDEST bands (most selective buckets, fewest false
  * candidates) whose 64-bit-budget band count still meets the target.
  * This is the geometry analogue of the strategy's stats-driven
  * exact-vs-banded pick: callers state intent (threshold, recall),
  * the planner picks the knobs.
  */
object BandGeometry {
  val DefaultTargetRecall = 0.9

  /** P(one signature bit agrees) for a pair at cosine `s`. */
  def bitProb(s: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, s))) / math.Pi

  /** P(pair at cosine `s` collides in ≥ 1 band) — the S-curve. */
  def recallAt(s: Double, bands: Int, bandBits: Int): Double =
    1.0 - math.pow(1.0 - math.pow(bitProb(s), bandBits), bands)

  /** (bands, bandBits): widest band width `r ≤ 16` whose `⌊64/r⌋`
    * bands still give `recallAt(threshold) ≥ targetRecall`; (64, 1)
    * — the highest-recall geometry the budget allows — if none does.
    *
    * Scale caveat the caller owns: guaranteeing recall AT a low
    * threshold forces narrow bands (0.35 → 4-bit bands = 16 buckets
    * per band), and coarse buckets mean large within-bucket cross
    * products on a big corpus — that cost is the S-curve's honest
    * price, not a tunable. A corpus-scale join that only needs
    * near-dup recall should derive at the similarity level it
    * actually cares about (e.g. 0.8), which yields wide selective
    * bands. */
  def derive(threshold: Double,
      targetRecall: Double = DefaultTargetRecall): (Int, Int) =
    (16 to 1 by -1).iterator
      .map(r => (64 / r, r))
      .find { case (b, r) => recallAt(threshold, b, r) >= targetRecall }
      .getOrElse((64, 1))

  /** Hard cap on explicit/derived signature size: past ~1024 bits the
    * per-row projection cost (bits × dims multiply-adds) dominates
    * whatever candidate selectivity the extra width buys. */
  val MaxSignatureBits = 1024

  /** Budgeted generalization of [[derive]]: given `budgetBits` of
    * signature (any multiple the exec's ⌈bits/64⌉-word packing can
    * hold, ≤ [[MaxSignatureBits]]), pick the WIDEST band `r ≤ 16`
    * whose MINIMAL band count `b = ⌈ln(1−recall)/ln(1−p^r)⌉` fits the
    * budget (`b·r ≤ budgetBits`), i.e. the most selective buckets
    * that still hit [[DefaultTargetRecall]] — and, unlike [[derive]], no
    * more bands than the target needs (derive fills all 64 bits, so
    * e.g. at 0.6 it ships 16 bands for recall 0.989 when 9 already
    * give 0.92; every extra band is a full extra shuffle replica and
    * ~n²/2^r extra candidates).
    *
    * Why the budget matters at MID thresholds: recall at 0.6 under
    * 64 bits forces 4-bit bands — 16 buckets per band, ~n²/16
    * candidates EACH. At 256 bits the same target gets 7-bit bands
    * (deriveWide(0.6) = (26, 7)): 128 buckets per band, ~5× fewer
    * total candidates for 4× the (linear, cheap) signature cost. The
    * knob trades linear per-row work for quadratic per-bucket work —
    * at corpus scale that trade is the whole game. For budgetBits=64
    * the geometry never does more work than [[derive]]'s (same or
    * fewer bands at the same width). */
  def deriveWide(threshold: Double, budgetBits: Int = 256): (Int, Int) = {
    require(budgetBits >= 16 && budgetBits <= MaxSignatureBits,
      s"budgetBits in [16, $MaxSignatureBits]: $budgetBits")
    val p = bitProb(threshold)
    val candidates = for {
      r <- 16 to 1 by -1
      pBand = math.pow(p, r)
      // double-underflow guard: a pBand so small that 1-pBand == 1.0
      // makes the log ratio -Infinity, which .max(1.0) would resurrect
      // as a 1-band plan
      if pBand < 1.0 && (1.0 - pBand) < 1.0
      bD = math.ceil(math.log(1.0 - DefaultTargetRecall)
        / math.log(1.0 - pBand)).max(1.0)
      if bD * r <= budgetBits
    } yield (bD.toInt, r)
    candidates.headOption.getOrElse((budgetBits, 1))
  }
}

/** Logical cosine-threshold join: emit (l, r) row pairs where
  * `cosine(leftVec, rightVec) >= threshold` (raw double compare — the
  * same predicate a naive `JOIN ... ON cosine_sim(a,b) >= t` query
  * declares, so the [[SimilarityJoinRewrite]] rewrite is
  * semantics-preserving by construction).
  *
  * This is the second whole-operator Catalyst extension (after
  * [[AsOfJoinPlan]]), and the one the round-3 verdict's roadmap asked
  * for: Spark plans a naive cosine-threshold join as
  * BroadcastNestedLoopJoin or CartesianProduct — the O(n·m) shape that
  * dies at 100 TB — because the predicate is not an equi-condition.
  * Dedicated planning gives the two survivable physical shapes
  * (norm-cached broadcast gate; banded LSH bucket join) and picks
  * between them by statistics, exactly like Spark picks
  * BroadcastHashJoin vs SortMergeJoin.
  */
case class SimilarityJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftVec: Expression, rightVec: Expression,
    threshold: Double,
    regime: SimJoinRegime,
    bands: Int, bandBits: Int) extends BinaryNode {

  // (0, 0) = auto: the strategy derives geometry from the threshold
  // via BandGeometry.derive / deriveWide at planning time. Explicit
  // geometry may exceed one long (the exec packs ⌈bits/64⌉ words);
  // bandBits stays ≤ 16 so a (band, band-signature) bucket key packs
  // into one long, and the total is capped at MaxSignatureBits — past
  // that the per-row signature cost dwarfs any selectivity gain.
  require((bands == 0 && bandBits == 0) ||
    (bands > 0 && bandBits > 0 && bandBits <= 16 &&
      bands * bandBits <= BandGeometry.MaxSignatureBits),
    s"band geometry out of range (or 0,0 for auto): " +
      s"bands=$bands bandBits=$bandBits " +
      s"(bandBits ≤ 16, total ≤ ${BandGeometry.MaxSignatureBits})")

  // inner join: no nullability change on either side
  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SimilarityJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[SimilarityJoinPlan]], resolving [[SimJoinRegime.Auto]] with
  * the same statistic Spark's own JoinSelection uses
  * (`plan.stats.sizeInBytes` vs `autoBroadcastJoinThreshold`). Exact
  * regimes build the SMALLER side by stats — the streamed side is
  * never collected, so the 100 TB side flows through untouched. */
object SimilarityJoinStrategy extends SparkStrategy {

  /** Session signature-bit budget for DERIVED banded geometry: 0
    * (default) = the classic one-long [[BandGeometry.derive]];
    * 16..1024 = [[BandGeometry.deriveWide]] under that budget. Only
    * consulted when the plan's geometry is (0,0)-auto — explicit
    * geometry is always honored verbatim. */
  val SignatureBitsConf = "spark.graft.similarityJoin.signatureBits"

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: SimilarityJoinPlan =>
      val bcBytes = SQLConf.get.autoBroadcastJoinThreshold
      val lBytes = p.left.stats.sizeInBytes
      val rBytes = p.right.stats.sizeInBytes
      val buildRight = rBytes <= lBytes
      def broadcastGate = SimilarityBroadcastGateExec(
        planLater(p.left), planLater(p.right),
        p.leftVec, p.rightVec, p.threshold, buildRight) :: Nil
      def banded = {
        // explicit geometry is honored verbatim (q131's oracle replays
        // 8×8 bit-for-bit); (0,0) derives from the threshold so the
        // default banded plan meets the documented recall target. A
        // session that grants a wider signature budget (signatureBits
        // conf > 0) gets the budgeted derivation — wider, more
        // selective bands at the same recall target; 0 (default)
        // keeps the classic 64-bit derive, so existing derived plans
        // (q224's oracle replays 16×4 bit-for-bit) never shift under
        // a library upgrade.
        // validated HERE, at the strategy boundary, so a bad session
        // conf fails planning with an error naming the CONF KEY and
        // its domain — not deriveWide's `budgetBits` parameter (which
        // 1..15 would otherwise reach) or a bare NumberFormatException
        val rawBits = SQLConf.get.getConfString(
          SimilarityJoinStrategy.SignatureBitsConf, "0")
        val sigBits =
          try rawBits.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"${SimilarityJoinStrategy.SignatureBitsConf} must be an " +
                "integer: 0 (default, classic 64-bit derive) or a bit " +
                s"budget in [16, ${BandGeometry.MaxSignatureBits}]; " +
                s"got '$rawBits'")
          }
        require(sigBits == 0 || (sigBits >= 16 &&
            sigBits <= BandGeometry.MaxSignatureBits),
          s"${SimilarityJoinStrategy.SignatureBitsConf} must be 0 " +
            "(default, classic 64-bit derive) or a bit budget in " +
            s"[16, ${BandGeometry.MaxSignatureBits}]; got $sigBits")
        val (b, r) =
          if (p.bands > 0) (p.bands, p.bandBits)
          else if (sigBits > 0)
            BandGeometry.deriveWide(p.threshold, budgetBits = sigBits)
          else BandGeometry.derive(p.threshold)
        SimilarityBandedJoinExec(
          planLater(p.left), planLater(p.right),
          p.leftVec, p.rightVec, p.threshold, b, r) :: Nil
      }
      p.regime match {
        case SimJoinRegime.Exact => broadcastGate
        case SimJoinRegime.Banded => banded
        case SimJoinRegime.Auto =>
          if (bcBytes > 0 && (lBytes <= bcBytes || rBytes <= bcBytes))
            broadcastGate
          else banded
      }
    case _ => Nil
  }
}

/** Optimizer rule: a naive cosine-threshold join written in SQL —
  * `a JOIN b ON cosine_sim(a.v, b.v) >= t` (or the comma-join +
  * WHERE form, which the main optimizer has already folded into the
  * join condition by the time extraOptimizations run) — becomes a
  * [[SimilarityJoinPlan]] in the EXACT regime, so it plans as the
  * norm-cached broadcast gate instead of BroadcastNestedLoopJoin.
  *
  * The rewrite fires unconditionally when a side is small enough to
  * broadcast (min side ≤ autoBroadcastJoinThreshold) — the exact
  * broadcast-gate operator is result-identical to the query. The
  * large-large exact case is, by default, left for Spark to plan as
  * the cartesian the user literally wrote — silently substituting the
  * sub-recall banded operator would change query semantics. A session
  * that PREFERS the survivable plan shape over exact recall can say so
  * explicitly with [[SimilarityJoinRewrite.LargeLargeConf]]
  * (`spark.graft.similarityJoin.largeLarge=banded`): the rewrite then
  * emits the banded-LSH regime with threshold-derived geometry
  * ([[BandGeometry.derive]] at the join's own threshold, ≥ 0.9 recall
  * at the threshold) for joins where NEITHER side broadcasts — the
  * same opt-in contract as the operator API's
  * [[graft.operators.Similarity.cosineJoin]] with
  * [[SimJoinRegime.Banded]], but reachable from pure SQL tooling.
  *
  * The split, operand orientation and residual `Filter` are
  * [[ThresholdJoinRewrite]]'s. When the first oriented cosine conjunct
  * has to be declined (neither side broadcasts, `largeLarge` is
  * `cartesian`), the whole join stays as written: later conjuncts are
  * not tried.
  */
object SimilarityJoinRewrite extends Rule[LogicalPlan] {

  /** Session conf for the large-large exact case: `cartesian`
    * (default — decline the rewrite, the user gets the plan they
    * wrote) or `banded` (rewrite to the banded-LSH operator with
    * derived geometry; an explicit, session-scoped trade of exact
    * recall for a plan shape that survives two unbroadcastable
    * sides). Any other value fails the query at planning time. */
  val LargeLargeConf = "spark.graft.similarityJoin.largeLarge"

  /** The regime for an unbroadcastable join, per [[LargeLargeConf]]:
    * None = decline the rewrite. */
  private def largeLargeRegime: Option[SimJoinRegime] =
    SQLConf.get.getConfString(LargeLargeConf, "cartesian") match {
      case "cartesian" => None
      case "banded"    => Some(SimJoinRegime.Banded)
      case other => throw new IllegalArgumentException(
        s"$LargeLargeConf must be 'cartesian' or 'banded', got '$other'")
    }

  private def broadcastable(l: LogicalPlan, r: LogicalPlan): Boolean = {
    val bc = SQLConf.get.autoBroadcastJoinThreshold
    bc > 0 && (l.stats.sizeInBytes <= bc || r.stats.sizeInBytes <= bc)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    ThresholdJoinRewrite(plan) {
      case GreaterThanOrEqual(c: CosineSim, Literal(t: Double, DoubleType)) =>
        (c.left, c.right, t)
      case LessThanOrEqual(Literal(t: Double, DoubleType), c: CosineSim) =>
        (c.left, c.right, t)
    } { (l, r, lv, rv, t) =>
      // conf is consulted only once a cosine predicate is in hand: an
      // invalid value must fail THIS query, not every join in the
      // session. None declines, and the join stays as written.
      val regime =
        if (broadcastable(l, r)) Some(SimJoinRegime.Exact)
        else largeLargeRegime
      regime.map(SimilarityJoinPlan(l, r, lv, rv, t, _,
        bands = 0, bandBits = 0))
    }
}
