package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A declarative data-quality constraint over one column. Each
  * constraint contributes a fixed 4-column slice to the suite's
  * aggregate STATE — (num: long, den: long, minv: double, maxv:
  * double), unused slots null — and a finalization rule mapping that
  * slice to a (metric, threshold, passed) report row. Ratio metrics
  * finalize as ONE division of two exact longs, min/max pass through,
  * so every metric is deterministic under any partitioning (no
  * floating-point accumulation order in sight — the suite-wide
  * determinism contract Queries.scala's header documents for money).
  */
sealed trait Constraint {
  def column: String
  /** Stable report key, e.g. "completeness". */
  def constraintType: String
  def threshold: Double
  /** Pass direction: ">=" or "<=". */
  def op: String
  /** Finalization: "ratio" (num/den), "count" (num), "min", "max". */
  def kind: String
  /** Whether the state slice merges by (sum, sum, min, max) —
    * everything except distinct counting does. */
  def mergeable: Boolean = true
  /** The four state aggregates, in (num, den, minv, maxv) order. */
  private[operators] def stateAggs: (Column, Column, Column, Column)

  /** Row-level truth of this constraint for a single row, where that
    * is meaningful (completeness, pattern, set and bound constraints);
    * None for inherently aggregate constraints (uniqueness, size).
    * Used by [[Constraints.enforce]] — the expectations/quarantine
    * half of the suite. A null predicate result counts as VIOLATED
    * (a null lang neither matches a regex nor belongs to a set). */
  private[operators] def rowPredicate: Option[Column] = None

  /** Stable row-level violation tag. */
  def tag: String = s"$constraintType($column)"

  /** OPTIONAL fixed-length array-state slice (`array<bigint>`), for
    * constraints whose state is a sketch rather than four scalars —
    * the portable-HLL registers of [[ApproxUniqueRatio]], the bin
    * counts of [[HistogramDrift]]. 0 = no array slice. Array slices
    * merge ELEMENT-WISE in [[Constraints.mergeStates]] ([[arrMergeOp]]
    * — "max" for registers, "sum" for counters), which is exactly why
    * they exist: they make the sketch-backed constraints mergeable
    * monoids like the scalar ones. */
  private[operators] def arrLen: Int = 0
  /** Element-wise merge for the array slice: "max" | "sum". */
  private[operators] def arrMergeOp: String = "max"
  /** Per-row prep columns the array aggregate needs, computed ONCE
    * per row by [[Constraints.state]] before the aggregation (so a
    * 256-register sketch costs one md5 per row, not one per
    * register). Names must be `__c<i>`-prefixed; later entries may
    * reference earlier ones. */
  private[operators] def arrPrep(i: Int): Seq[(String, Column)] = Nil
  /** The aggregate producing the array slice (null for scalar-only
    * constraints — the literal keeps the state schema uniform). */
  private[operators] def arrAgg(i: Int): Column =
    max(lit(null).cast("array<bigint>"))
  /** Finalization for array-state constraints: a SQL expression over
    * the stacked report columns `arr` / `num` / `den` producing the
    * metric. None = the scalar kind ladder applies. */
  private[operators] def arrMetricSql: Option[String] = None

  protected def nullLong: Column = max(lit(null).cast("long"))
  protected def nullDouble: Column = max(lit(null).cast("double"))
  protected def total: Column = count(lit(1))
}

/** Fraction of rows with `column` non-null >= threshold. */
case class Completeness(column: String, threshold: Double)
    extends Constraint {
  val constraintType = "completeness"; val op = ">="; val kind = "ratio"
  private[operators] def stateAggs =
    (count(col(column)), total, nullDouble, nullDouble)
  override private[operators] def rowPredicate =
    Some(col(column).isNotNull)
}

/** Fraction of rows matching `regex` (nulls count as non-matching)
  * >= threshold. */
case class MatchRatio(column: String, regex: String, threshold: Double)
    extends Constraint {
  val constraintType = "match_ratio"; val op = ">="; val kind = "ratio"
  private[operators] def stateAggs =
    (sum(when(col(column).rlike(regex), 1L).otherwise(0L)), total,
      nullDouble, nullDouble)
  override private[operators] def rowPredicate =
    Some(col(column).rlike(regex))
}

/** Fraction of rows whose value is in `values` (nulls count as
  * outside) >= threshold. */
case class InSetRatio(column: String, values: Seq[String],
    threshold: Double) extends Constraint {
  val constraintType = "in_set_ratio"; val op = ">="; val kind = "ratio"
  private[operators] def stateAggs =
    (sum(when(col(column).isin(values: _*), 1L).otherwise(0L)), total,
      nullDouble, nullDouble)
  override private[operators] def rowPredicate =
    Some(col(column).isin(values: _*))
}

/** distinct / non-null count >= threshold (1.0 = column is a key).
  * NOT mergeable: distinct state does not compose by summation — run
  * it in single-pass suites, not incremental ones. The mergeable
  * approximate twin is [[ApproxUniqueRatio]] (portable-HLL register
  * slice), which the streaming monitor accepts. */
case class UniqueRatio(column: String, threshold: Double)
    extends Constraint {
  val constraintType = "unique_ratio"; val op = ">="; val kind = "ratio"
  override val mergeable = false
  private[operators] def stateAggs =
    (countDistinct(col(column)), count(col(column)),
      nullDouble, nullDouble)
}

/** APPROXIMATE distinct / non-null ratio >= threshold — the mergeable
  * twin of [[UniqueRatio]], and the constraint that makes uniqueness
  * MONITORABLE: its state slice is a portable md5-HyperLogLog register
  * array (m=256, the exact q107/q114 sketch — bucket = first hash
  * byte, register = leading-zero-bits of the next 48 bits + 1), which
  * merges by register-wise max, so [[Constraints.mergeStates]] over
  * per-batch states equals the one-shot sketch over the union (max is
  * associative — the q114 merge ≡ rebuild proof) and
  * [[graft.streaming.QualityMonitor]] accepts it where it must reject
  * [[UniqueRatio]].
  *
  * Finalization is engine-portable end to end: the register sum is
  * fixed-point (Σ 2^(49−r) as exact longs), the raw estimate is
  * α·m²·2^49 / s, and the standard small-range branch (V = zero
  * registers > 0 and raw ≤ 2.5m) switches to LinearCounting
  * m·ln(m/V) — all deterministic functions of exact integers, so the
  * metric hash-matches a DuckDB replay (q220). Expect HLL error (~6.5%
  * at m=256) in the metric; thresholds should leave that margin. */
case class ApproxUniqueRatio(column: String, threshold: Double)
    extends Constraint {
  val constraintType = "approx_unique_ratio"
  val op = ">="; val kind = "hll_ratio"
  private[operators] def stateAggs =
    (nullLong, count(col(column)), nullDouble, nullDouble)
  override private[operators] val arrLen = 256
  override private[operators] val arrMergeOp = "max"
  override private[operators] def arrPrep(i: Int): Seq[(String, Column)] = {
    // one md5 chain per row (null column value → null chain → the
    // per-register max skips it); mirrors Queries.hllRanks exactly so
    // q107/q114/q220 all speak the same sketch
    Seq(
      s"__c${i}_h" -> when(col(column).isNotNull,
        md5(concat_ws("|", lit("hll"), col(column)))),
      s"__c${i}_b" ->
        conv(substring(col(s"__c${i}_h"), 1, 2), 16, 10).cast("int"),
      s"__c${i}_h12" -> substring(col(s"__c${i}_h"), 3, 12),
      s"__c${i}_zc" ->
        length(regexp_extract(col(s"__c${i}_h12"), "^(0*)", 1)),
      s"__c${i}_r" -> when(col(s"__c${i}_zc") === 12, lit(49L))
        .otherwise((col(s"__c${i}_zc") * 4 + expr(
          s"CASE substring(__c${i}_h12, __c${i}_zc + 1, 1)" +
            " WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2" +
            " WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1" +
            " WHEN '7' THEN 1 ELSE 0 END") + 1).cast("long")))
  }
  // O(1) buffer update per row (graft.expressions.HllRegisterMax) —
  // the declarative 256-conditional-max formulation costs O(m) branch
  // evaluations per row and dominated the suite scan at 6M rows
  // (GovSoak); values are identical (all-zero init, null-skipping,
  // element-wise-max merge)
  override private[operators] def arrAgg(i: Int): Column =
    graft.expressions.SketchAggs.hllRegisterMax(
      col(s"__c${i}_b"), col(s"__c${i}_r"), arrLen)
  override private[operators] def arrMetricSql: Option[String] = Some(
    // V = zero registers; s = fixed-point Σ2^(49−r) (empty registers
    // hold r=0 and contribute 2^49 each by construction); raw = the
    // q107 alpha expression; small-range → LinearCounting. round(est,
    // 2) first (the q107 convention), then the ratio to 6 dp.
    """round(round(CASE WHEN
      aggregate(arr, CAST(0 AS BIGINT),
        (acc, r) -> acc + CASE WHEN r = 0 THEN 1 ELSE 0 END) > 0
      AND 0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
        / aggregate(arr, CAST(0 AS BIGINT),
            (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT),
              CAST(49 - r AS INT))) <= 640.0e0
      THEN 256.0e0 * ln(256.0e0 / aggregate(arr, CAST(0 AS BIGINT),
        (acc, r) -> acc + CASE WHEN r = 0 THEN 1 ELSE 0 END))
      ELSE 0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
        / aggregate(arr, CAST(0 AS BIGINT),
            (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT),
              CAST(49 - r AS INT)))
      END, 2) / CAST(den AS DOUBLE), 6)""")
}

/** Shared fixed-edge bin-count state slice (`HistogramDrift` /
  * `QuantileBound`): bin b of value v = |{edges e : v >= e}| — B bins
  * for B−1 sorted edges, total coverage, nulls in no bin. Merges by
  * element-wise SUM. (A helper object, not a mixin: scalac fails to
  * emit the mixin forwarder for a trait-level override of these
  * qualified-private members — AbstractMethodError at runtime.) */
private[operators] object HistogramSlice {
  def prep(column: String, edges: Seq[Double], i: Int)
      : Seq[(String, Column)] = {
    val idx = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col(column).cast("double") >= lit(e), 1).otherwise(0)
    }
    Seq(s"__c${i}_bin" -> when(col(column).isNotNull, idx))
  }
  def agg(i: Int, len: Int): Column =
    array((0 until len).map(b =>
      coalesce(sum(when(col(s"__c${i}_bin") === b, 1L).otherwise(0L)),
        lit(0L))): _*)
}

/** Approximate QUANTILE bound from the [[HistogramSlice]] bin counts —
  * "the median document length must stay >= X" as a MERGEABLE,
  * monitorable constraint: the metric is the upper EDGE of the bin
  * containing the rank-⌈q·n⌉ value (the histogram's resolution-bounded
  * quantile estimate; +Infinity when the rank falls in the open last
  * bin — a quantile beyond the profiled range fails any finite `<=`
  * bound honestly). The quantile is specified in BASIS POINTS and the
  * rank computed in exact integer arithmetic ((n·bp + 9999) div
  * 10000), so the bin choice — and therefore the metric, a literal
  * edge value — is deterministic under any partitioning and replays
  * in DuckDB (q223). Pair with [[HistogramDrift]] on the same edges:
  * the state slice is shared shape, one extra array per group. */
case class QuantileBound(column: String, edges: Seq[Double],
    quantileBp: Int, threshold: Double, op: String)
    extends Constraint {
  require(edges.nonEmpty && edges == edges.sorted,
    s"quantile edges must be non-empty and sorted for '$column'")
  require(edges.forall(e => !e.isNaN && !e.isInfinite),
    s"non-finite quantile edge for '$column'")
  require(quantileBp >= 1 && quantileBp <= 10000,
    s"quantileBp must be 1..10000 for '$column'")
  require(op == ">=" || op == "<=",
    s"op must be >= or <= for quantile_bound('$column')")
  val constraintType = "quantile_bound"
  val kind = "qbound"
  private[operators] def stateAggs =
    (nullLong, count(col(column)), nullDouble, nullDouble)
  override private[operators] val arrLen = edges.size + 1
  override private[operators] val arrMergeOp = "sum"
  override private[operators] def arrPrep(i: Int): Seq[(String, Column)] =
    HistogramSlice.prep(column, edges, i)
  override private[operators] def arrAgg(i: Int): Column =
    HistogramSlice.agg(i, arrLen)
  override private[operators] def arrMetricSql: Option[String] = {
    val eArr = edges.map(e => s"CAST($e AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val total = "aggregate(arr, CAST(0 AS BIGINT), (a, c) -> a + c)"
    val rank = s"((($total) * $quantileBp + 9999) div 10000)"
    // idx = number of bins whose cumulative count stays below the
    // rank = the index of the bin containing it
    val idx = s"""aggregate(arr,
      named_struct('s', CAST(0 AS BIGINT), 'i', 0),
      (acc, c) -> named_struct('s', acc.s + c,
        'i', acc.i + (CASE WHEN acc.s + c < $rank THEN 1 ELSE 0 END)),
      acc -> acc.i)"""
    Some(s"""CASE WHEN ($idx) <= ${edges.size - 1}
      THEN element_at($eArr, ($idx) + 1)
      ELSE CAST('Infinity' AS DOUBLE) END""")
  }
}

/** DISTRIBUTIONAL drift constraint — the suite's answer to corpora
  * that drift without tripping a single ratio or bound: PSI
  * (population stability index) of `column`'s histogram against a
  * baseline profile must stay <= threshold. The state slice is the
  * bin-count array at FIXED edges derived from the baseline (the
  * q219 suggestion pattern — [[Constraints.suggest]] emits this
  * constraint from a baseline's own equi-depth quantiles), so it
  * merges by element-wise SUM and the streaming monitor can watch
  * distribution shape per batch, which no completeness/bound/set
  * constraint can see.
  *
  * The metric is the q179 PSI convention, engine-portable end to
  * end: bins are exact longs, Laplace-smoothed (c+1)/(n+B) shares,
  * each term rounded to 1e-6 FIXED POINT before the integer sum (a
  * float sum of ln-terms would be partitioning-order-dependent), so
  * the metric is psi×1e6 and thresholds live on that scale (0.1 →
  * 100000). Bin b of value v = |{edges e : v >= e}| — B bins for B−1
  * sorted edges, total coverage, nulls in no bin (completeness is a
  * different constraint's job). */
case class HistogramDrift(column: String, edges: Seq[Double],
    baseline: Seq[Long], threshold: Double)
    extends Constraint {
  require(edges.nonEmpty && edges == edges.sorted,
    s"histogram edges must be non-empty and sorted for '$column'")
  require(baseline.size == edges.size + 1,
    s"baseline needs ${edges.size + 1} bins for '$column'")
  require(baseline.forall(_ >= 0) && baseline.sum > 0,
    s"baseline histogram must carry mass for '$column'")
  require(edges.forall(e => !e.isNaN && !e.isInfinite),
    s"non-finite histogram edge for '$column'")
  val constraintType = "histogram_drift"
  val op = "<="; val kind = "psi"
  private[operators] def stateAggs =
    (nullLong, count(col(column)), nullDouble, nullDouble)
  override private[operators] val arrLen = edges.size + 1
  override private[operators] val arrMergeOp = "sum"
  override private[operators] def arrPrep(i: Int): Seq[(String, Column)] =
    HistogramSlice.prep(column, edges, i)
  override private[operators] def arrAgg(i: Int): Column =
    HistogramSlice.agg(i, arrLen)
  override private[operators] def arrMetricSql: Option[String] = {
    val b = arrLen
    val nb = baseline.sum
    val bArr = baseline.map(v => s"CAST($v AS BIGINT)")
      .mkString("array(", ", ", ")")
    val na = "aggregate(arr, CAST(0 AS BIGINT), (a, r) -> a + r)"
    // the ln-ratio products promote to DOUBLE BEFORE multiplying: two
    // ~1e9 BIGINT counts would wrap a long product negative and turn
    // the term into ln(negative) = NaN → 0 — a silent drift pass at
    // exactly the scale the constraint exists for. Below 2^53 the
    // double product is exact, so oracle hash parity is unchanged at
    // every verified rung.
    Some(s"""CAST(aggregate(zip_with(arr, $bArr, (ca, cb) ->
      CAST(round(1e6 * ((ca + 1) / ($na + $b) - (cb + 1) / ($nb + $b))
        * ln(((ca + 1) * CAST($nb + $b AS DOUBLE))
          / ((cb + 1) * CAST($na + $b AS DOUBLE)))) AS BIGINT)),
      CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)""")
  }
}

/** min(column) >= threshold. */
case class MinBound(column: String, threshold: Double)
    extends Constraint {
  val constraintType = "min_bound"; val op = ">="; val kind = "min"
  private[operators] def stateAggs =
    (nullLong, nullLong, min(col(column)).cast("double"), nullDouble)
  override private[operators] def rowPredicate =
    Some(col(column).cast("double") >= lit(threshold))
}

/** max(column) <= threshold. */
case class MaxBound(column: String, threshold: Double)
    extends Constraint {
  val constraintType = "max_bound"; val op = "<="; val kind = "max"
  private[operators] def stateAggs =
    (nullLong, nullLong, nullDouble, max(col(column)).cast("double"))
  override private[operators] def rowPredicate =
    Some(col(column).cast("double") <= lit(threshold))
}

/** Row count >= threshold (column is reported as "*"). */
case class SizeMin(threshold: Double) extends Constraint {
  val column = "*"
  val constraintType = "size_min"; val op = ">="; val kind = "count"
  private[operators] def stateAggs =
    (total, nullLong, nullDouble, nullDouble)
}

/** Deequ-style declarative data-quality suite compiled to ONE
  * aggregation pass — N constraints over M columns cost exactly one
  * scan and one (optionally grouped) aggregate, never a pass per
  * constraint. The report row per constraint is
  * (constraint_type, column_name, metric, threshold, passed).
  *
  * Incremental monitoring: [[state]] is a mergeable monoid (per
  * group, per constraint: sum/sum/min/max over the 4-column slice),
  * so a streaming foreachBatch can append per-batch states to a
  * metrics table and [[report]] over [[mergeStates]] equals the
  * batch suite over the full corpus — the same monoid contract the
  * sketch family (CMS/HLL/Bloom) rides. [[UniqueRatio]] is the
  * documented exception (distinct does not sum); [[mergeStates]]
  * rejects it.
  *
  * 100 TB shape: one scan; the aggregate is partial (map-side
  * combine) into |groups| rows; the stack/finalize step runs on the
  * aggregated frame only. Grouped suites shuffle once on the group
  * key. All constraint predicates are codegen'd built-ins (rlike,
  * isin, count, min, max) — no UDFs in the scan.
  */
object Constraints {

  private def stateCols(cs: Seq[Constraint]): Seq[Column] =
    cs.zipWithIndex.flatMap { case (c, i) =>
      val (num, den, mn, mx) = c.stateAggs
      // the cast normalizes array nullability (containsNull) across
      // constraints — stack() requires bit-identical column types
      Seq(num.as(s"c${i}_num"), den.as(s"c${i}_den"),
        mn.as(s"c${i}_min"), mx.as(s"c${i}_max"),
        c.arrAgg(i).cast("array<bigint>").as(s"c${i}_arr"))
    }

  /** One-pass aggregate state: one row per group, 5 columns per
    * constraint (num/den/min/max + the optional array slice). */
  def state(df: DataFrame, cs: Seq[Constraint],
      groupBy: Seq[String] = Nil): DataFrame = {
    require(cs.nonEmpty, "empty constraint suite")
    // sketch-backed constraints project their per-row chain ONCE
    // here (e.g. one md5 per row for 256 HLL registers) — still one
    // scan, one aggregation pass
    val prepped = cs.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      c.arrPrep(i).foldLeft(d) { case (dd, (n, e)) =>
        dd.withColumn(n, e) }
    }
    val aggs = stateCols(cs)
    if (groupBy.isEmpty) prepped.agg(aggs.head, aggs.tail: _*)
    else prepped.groupBy(groupBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Merge state rows (e.g. one per micro-batch) back to one row per
    * group: sum/sum/min/max per slice. Rejects non-mergeable
    * constraints — see [[UniqueRatio]]. */
  def mergeStates(states: DataFrame, cs: Seq[Constraint],
      groupBy: Seq[String] = Nil): DataFrame = {
    val bad = cs.filter(!_.mergeable)
    require(bad.isEmpty,
      s"non-mergeable constraints in incremental suite: " +
        bad.map(c => s"${c.constraintType}(${c.column})").mkString(", "))
    val aggs = cs.zipWithIndex.flatMap { case (c, i) =>
      // array slices merge element-wise (register-wise max for HLL,
      // bin-count sum for histograms): a fold over the per-batch
      // state rows of a group — |batches| tiny arrays, never data
      val arrMerge =
        if (c.arrLen == 0) max(col(s"c${i}_arr"))
        else {
          val op = c.arrMergeOp match {
            case "max" => "greatest(a, b)"
            case "sum" => "a + b"
            case other => throw new IllegalArgumentException(
              s"unknown arrMergeOp '$other' for ${c.tag}")
          }
          expr(s"aggregate(collect_list(c${i}_arr), " +
            s"array_repeat(CAST(0 AS BIGINT), ${c.arrLen}), " +
            s"(acc, x) -> zip_with(acc, x, (a, b) -> $op))")
        }
      Seq(sum(col(s"c${i}_num")).as(s"c${i}_num"),
        sum(col(s"c${i}_den")).as(s"c${i}_den"),
        min(col(s"c${i}_min")).as(s"c${i}_min"),
        max(col(s"c${i}_max")).as(s"c${i}_max"),
        arrMerge.cast("array<bigint>").as(s"c${i}_arr"))
    }
    if (groupBy.isEmpty) states.agg(aggs.head, aggs.tail: _*)
    else states.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Finalize a state frame into the report: stack the per-constraint
    * slices to rows, compute metric per kind, compare per op. Runs on
    * the aggregated frame (|groups| × |constraints| rows). */
  def report(st: DataFrame, cs: Seq[Constraint],
      groupBy: Seq[String] = Nil): DataFrame = {
    // the stack expression interpolates column names and thresholds
    // as SQL literals — fail fast on anything that couldn't be a
    // plain identifier (or "*") rather than produce a parse error
    // three operators later
    cs.foreach { c =>
      require(c.column.matches("[A-Za-z0-9_.]+|\\*"),
        s"constraint column is not a plain identifier: '${c.column}'")
      require(!c.threshold.isNaN && !c.threshold.isInfinite,
        s"non-finite threshold for ${c.tag}")
    }
    // group columns ride the same selectExpr — same guard (a name
    // needing backticks would otherwise surface as a parse error
    // three operators later, the exact failure the constraint-column
    // require closed)
    groupBy.foreach { g =>
      require(g.matches("[A-Za-z0-9_]+"),
        s"group column is not a plain identifier: '$g'")
    }
    val stackArgs = cs.zipWithIndex.map { case (c, i) =>
      s"'${c.constraintType}', '${c.column}', '${c.kind}', '${c.op}', " +
        s"c${i}_num, c${i}_den, c${i}_min, c${i}_max, " +
        s"CAST(${c.threshold} AS DOUBLE), $i, c${i}_arr"
    }.mkString(", ")
    val stacked = st.selectExpr(groupBy ++ Seq(
      s"stack(${cs.size}, $stackArgs) AS (constraint_type, " +
        "column_name, kind, op, num, den, minv, maxv, threshold, " +
        "cidx, arr)"): _*)
    // array-state constraints carry their own finalization (keyed by
    // the stacked constraint index — per-constraint literals like
    // histogram baselines live inside the expression); scalar kinds
    // fall through to the generic ladder
    val scalarMetric =
      when(col("kind") === "ratio",
        col("num").cast("double") / col("den").cast("double"))
        .when(col("kind") === "count", col("num").cast("double"))
        .when(col("kind") === "min", col("minv"))
        .otherwise(col("maxv"))
    val metric = cs.zipWithIndex.foldRight(scalarMetric) {
      case ((c, i), acc) => c.arrMetricSql match {
        case Some(sql) => when(col("cidx") === i, expr(sql)).otherwise(acc)
        case None => acc
      }
    }
    stacked
      .withColumn("metric", metric)
      .withColumn("passed",
        when(col("op") === ">=", col("metric") >= col("threshold"))
          .otherwise(col("metric") <= col("threshold")))
      .select((groupBy ++ Seq("constraint_type", "column_name",
        "metric", "threshold", "passed")).map(col): _*)
  }

  /** The single-pass batch suite: [[state]] then [[report]]. */
  def run(df: DataFrame, cs: Seq[Constraint],
      groupBy: Seq[String] = Nil): DataFrame =
    report(state(df, cs, groupBy), cs, groupBy)

  /** Constraint SUGGESTION — derive a suite from a baseline corpus's
    * own profile (the Deequ suggestion idea): observed completeness
    * ratios become completeness thresholds, observed min/max become
    * bounds, each set column's top-k values by frequency become a
    * membership set whose threshold is the baseline's own in-set
    * ratio, and key columns assert their observed uniqueness.
    * Evaluating the suggested suite on a LATER corpus version turns
    * "did quality drift?" into [[run]]'s pass/fail report — no
    * hand-written thresholds.
    *
    * Cost: ONE aggregate pass over the baseline for every ratio and
    * bound, plus one |distinct|-sized aggregation per set column for
    * the top-k and one two-phase cumulative-rank pass per histogram
    * column — distributed even when |distinct| ≈ |rows|, i.e. for
    * continuous columns (all collect O(columns + k + bins) rows to
    * the driver — a
    * threshold decision, not a data move; the q134-probe-literal
    * class). Thresholds are exact: single divisions of collected
    * longs, so the suggested suite reproduces bit-identically on any
    * partitioning. */
  /** `mergeableUnique = true` emits [[ApproxUniqueRatio]] instead of
    * exact [[UniqueRatio]] for `uniqueCols`, with the threshold
    * derated by the sketch's standard error margin (×(1−2·1.04/√m) ≈
    * ×0.87 at m=256) so the baseline's own HLL estimate doesn't flap
    * the suite — use it when the suggested suite is destined for the
    * streaming [[graft.streaming.QualityMonitor]], which rejects the
    * exact form. */
  def suggest(df: DataFrame,
      completenessCols: Seq[String] = Nil,
      uniqueCols: Seq[String] = Nil,
      boundCols: Seq[String] = Nil,
      setCols: Seq[(String, Int)] = Nil,
      histCols: Seq[(String, Int)] = Nil,
      mergeableUnique: Boolean = false): Seq[Constraint] = {
    val aggs =
      (count(lit(1)).as("__n") +:
        completenessCols.map(c => count(col(c)).as(s"__c_$c"))) ++
        uniqueCols.flatMap(c => Seq(
          countDistinct(col(c)).as(s"__ud_$c"),
          count(col(c)).as(s"__un_$c"))) ++
        boundCols.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"__lo_$c"),
          max(col(c)).cast("double").as(s"__hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def l(name: String): Long = row.getAs[Long](name)
    // fail fast, column-named, on an all-null profile column: getAs
    // would silently unbox a SQL NULL min/max to 0.0 and emit a
    // bound the baseline never exhibited (and an all-null unique
    // column would smuggle a 0/0 NaN threshold into report(), far
    // from the cause)
    def d(name: String, c: String): Double = {
      require(!row.isNullAt(row.fieldIndex(name)),
        s"cannot suggest a bound from all-null column '$c'")
      row.getAs[Double](name)
    }
    val n = l("__n")
    require(n > 0, "cannot suggest constraints from an empty baseline")
    val fromProfile: Seq[Constraint] =
      completenessCols.map(c =>
        Completeness(c, l(s"__c_$c").toDouble / n.toDouble)) ++
        uniqueCols.map { c =>
          require(l(s"__un_$c") > 0,
            s"cannot suggest uniqueness from all-null column '$c'")
          val ratio = l(s"__ud_$c").toDouble / l(s"__un_$c").toDouble
          if (mergeableUnique)
            ApproxUniqueRatio(c, ratio * (1.0 - 2.0 * 1.04 / 16.0))
          else UniqueRatio(c, ratio)
        } ++
        boundCols.flatMap(c =>
          Seq(MinBound(c, d(s"__lo_$c", c)), MaxBound(c, d(s"__hi_$c", c))))
    val fromSets: Seq[Constraint] = setCols.map { case (c, k) =>
      // top-k values by (count desc, value asc) — a deterministic
      // cut; the threshold is the baseline's OWN in-set mass, so the
      // suite asserts "no more tail drift than the baseline had".
      // The value is CAST to string so a numeric set column profiles
      // cleanly (isin compares post-cast on evaluation too) instead
      // of throwing ClassCastException at getString
      val counted = df.where(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col("__v").asc)
        .limit(k).collect()
      val values = counted.map(_.getString(0)).toSeq
      val inSet = counted.map(_.getAs[Long]("__cnt")).sum
      InSetRatio(c, values, inSet.toDouble / n.toDouble)
    }
    val fromHists: Seq[Constraint] = histCols.map { case (c, bins) =>
      // equi-depth edges from the baseline's own quantiles, exact
      // nearest-rank arithmetic: edge i = value at rank
      // ceil(i·n/B) = (i·n + B − 1) div B, read off cumulative counts
      // of the DISTINCT-value domain. For a CONTINUOUS column
      // |distinct| ≈ |rows|, so the cumulative sum is computed
      // TWO-PHASE ([[Analytics.globalRunning]]: range-partitioned
      // intra sums + one pid-frame offset window, ≤ shuffle-partitions
      // rows) — never a single-task global window over the value
      // domain. The value at a rank is order-tie-proof (each distinct
      // value appears once), and the two-phase sum is bit-identical
      // to the global window it replaces, so the emitted edges — and
      // the DuckDB oracle that replays them — are unchanged. Baseline
      // bin counts follow in one more small aggregation. O(B) rows
      // reach the driver — threshold literals, the q134 probe class.
      require(bins >= 2, s"histogram needs >= 2 bins for '$c'")
      val nonNull = df.where(col(c).isNotNull)
        .select(col(c).cast("double").as("__v"))
      val nv = nonNull.count()
      require(nv > 0,
        s"cannot suggest a histogram from all-null column '$c'")
      val ranks = (1 until bins).map(i => (i * nv + bins - 1) / bins)
      val cum = Analytics.globalRunning(
          nonNull.groupBy(col("__v")).agg(count(lit(1)).as("__cnt")),
          Seq(col("__v")), runningSums = Seq("__cnt" -> "__cum"))
        .withColumn("__lo", col("__cum") - col("__cnt"))
      val edges = cum
        .select(col("__v"), col("__lo"), col("__cum"),
          explode(array(ranks.map(lit(_)): _*)).as("__rk"))
        .where(col("__rk") > col("__lo") && col("__rk") <= col("__cum"))
        .groupBy(col("__rk")).agg(min(col("__v")).as("__v"))
        .orderBy(col("__rk"))
        .collect().map(_.getAs[Double]("__v")).toSeq
      val binExpr = edges.foldLeft(lit(0)) { (acc, e) =>
        acc + when(col("__v") >= lit(e), 1).otherwise(0) }
      val counted = nonNull.groupBy(binExpr.as("__b"))
        .agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getAs[Int]("__b") -> r.getAs[Long]("__c"))
        .toMap
      val baseline = (0 until bins).map(b => counted.getOrElse(b, 0L))
      // 0.1 is the standard PSI alarm level, on the metric's 1e-6
      // fixed-point scale
      HistogramDrift(c, edges, baseline, 100000.0)
    }
    fromProfile ++ fromSets ++ fromHists
  }

  /** The expectations/quarantine half: tag every row with the array
    * `violations` of row-level constraints it VIOLATES (empty array =
    * clean). A
    * null predicate result counts as violated — a null lang neither
    * matches a regex nor belongs to a set. Aggregate-only constraints
    * (uniqueness, size) are skipped; a require rejects a suite with
    * no row-level constraint at all. Callers route on the column:
    * `where(size(violations) === 0)` ships, the rest quarantines with
    * its reasons attached — the q78 JSON-quarantine pattern for
    * structured quality. One projection, all codegen'd predicates,
    * no second pass. */
  def enforce(df: DataFrame, cs: Seq[Constraint]): DataFrame = {
    val rowCs = cs.flatMap(c => c.rowPredicate.map(c.tag -> _))
    require(rowCs.nonEmpty,
      "no row-level constraints in suite (uniqueness/size are " +
        "aggregate-only)")
    val tags = rowCs.map { case (tag, pred) =>
      when(!coalesce(pred, lit(false)), lit(tag))
        .otherwise(lit(null).cast("string"))
    }
    df.withColumn("violations", filter(array(tags: _*), x => x.isNotNull))
  }
}
