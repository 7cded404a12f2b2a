package graft

import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Shared plan-shape predicates for the scale-killer audit
  * ([[PlanAuditSpec]]) and its adjudication enumerator
  * ([[PlanScan]]) — one definition so the test and the table it was
  * derived from can never disagree.
  *
  * `hasEquiKeys` mirrors what Spark's `ExtractEquiJoinKeys` actually
  * extracts: an equi-key must be a TOP-LEVEL CONJUNCT of the join
  * condition. An `EqualTo` buried under `Or`/`Not` (e.g.
  * `a.x = b.x OR a.y = b.y`) does NOT make the join hash-joinable —
  * Spark plans it as a nested-loop join — so matching `EqualTo`
  * anywhere in the expression tree (the first formulation) was a
  * false NEGATIVE in the audit: a disjunctive join would have passed
  * as equi-keyed while planning as a data×data nest loop.
  *
  * ALL THREE offender classes share ONE traversal ([[Walker]]) that
  * descends through subquery expression plans AND cached subplans:
  * an `InMemoryRelation` leaf (what a `persistTracked` subtree
  * becomes in every consumer's optimized plan) carries the PHYSICAL
  * plan that populates the cache, so the walk crosses into the
  * physical tree there — a cartesian, global window, or full-width
  * scan hidden behind a cache belongs to the query that builds the
  * cache and must not escape the audit (the round-10 asymmetry:
  * only the scan class descended). Each distinct plan INSTANCE is
  * visited once (identity set — a cache reused via several scan
  * nodes is one subplan, so offender counts don't inflate). */
object PlanChecks {
  /** Flatten a condition into its top-level AND-conjuncts (the same
    * decomposition as Catalyst's `splitConjunctivePredicates`). */
  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def refsBoth(j: Join, a: Expression, b: Expression): Boolean =
    a.references.nonEmpty && b.references.nonEmpty &&
      ((a.references.subsetOf(j.left.outputSet) &&
        b.references.subsetOf(j.right.outputSet)) ||
      (a.references.subsetOf(j.right.outputSet) &&
        b.references.subsetOf(j.left.outputSet)))

  /** True iff the join condition carries at least one top-level
    * conjunct of the form `left-side-expr = right-side-expr` — i.e.
    * the shape `ExtractEquiJoinKeys` turns into hash-join keys. */
  def hasEquiKeys(j: Join): Boolean =
    j.condition.toSeq.flatMap(splitConjuncts).exists {
      case EqualTo(a, b) => refsBoth(j, a, b)
      case EqualNullSafe(a, b) => refsBoth(j, a, b)
      case _ => false
    }

  /** The one traversal behind every audit class: walks a logical or
    * physical tree, following (a) subquery plans inside expressions —
    * logical (`PlanExpression.plan: LogicalPlan` in optimized plans)
    * or physical (planned subqueries in executed plans; a
    * still-logical subquery inside a pre-preparation PHYSICAL plan is
    * routed back to the logical walk, never cast — the
    * `collectWithSubqueries` CCE), (b) `AdaptiveSparkPlanExec` via
    * `inputPlan` (AQE re-plans exchanges; audit shapes are decided at
    * planning), and (c) cached subplans via both the logical
    * `InMemoryRelation` leaf and the physical `InMemoryTableScanExec`.
    * The identity `seen` set bounds revisits: shared caches and
    * repeated subquery references are walked once. */
  private final class Walker(onLogical: LogicalPlan => Unit,
      onPhysical: SparkPlan => Unit) {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    private def subplans(e: Expression): Unit = e.foreach {
      case pe: PlanExpression[_] => pe.plan match {
        case lp: LogicalPlan => logical(lp)
        case sp: SparkPlan => physical(sp)
        case _ => ()
      }
      case _ => ()
    }
    def logical(p: LogicalPlan): Unit = if (seen.add(p)) {
      onLogical(p)
      p match {
        case imr: InMemoryRelation => physical(imr.cachedPlan)
        case _ => ()
      }
      p.expressions.foreach(subplans)
      p.children.foreach(logical)
    }
    def physical(p: SparkPlan): Unit = if (seen.add(p)) {
      onPhysical(p)
      p match {
        case a: AdaptiveSparkPlanExec => physical(a.inputPlan)
        case i: InMemoryTableScanExec => physical(i.relation.cachedPlan)
        case _ => ()
      }
      p.expressions.foreach(subplans)
      p.children.foreach(physical)
    }
  }

  /** `maxRows` of the logical node a physical node was planned from —
    * the bounded-frame adjudication for offenders found INSIDE cached
    * (physical) subplans. `logicalLink` is set by the planner on every
    * normally-planned tree (cached plans included); a node with no
    * link is adjudicated conservatively (unbounded). */
  private def linkedMaxRows(p: SparkPlan): Option[Long] =
    p.logicalLink.flatMap(_.maxRows)

  /** Non-equi joins (nest-loop shapes) where neither side's `maxRows`
    * proves it bounded by `cap` — logical `Join`s anywhere in the
    * walk, plus physical `BroadcastNestedLoopJoinExec` /
    * `CartesianProductExec` inside cached subplans (adjudicated
    * through their `logicalLink`ed Join when present). Returns one
    * formatted description per offender. */
  def unboundedNestLoops(plan: LogicalPlan, cap: Long): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def flagLogical(j: Join): Unit =
      if (!hasEquiKeys(j) && !j.left.maxRows.exists(_ <= cap) &&
          !j.right.maxRows.exists(_ <= cap))
        out += s"[L.maxRows=${j.left.maxRows} R.maxRows=${j.right.maxRows} " +
          s"cond=${j.condition}]"
    new Walker(
      { case j: Join => flagLogical(j); case _ => () },
      {
        case p @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
          p.logicalLink match {
            case Some(j: Join) => flagLogical(j)
            case _ => out += s"[cached ${p.nodeName}, no logical link]"
          }
        case _ => ()
      }).logical(plan)
    out.toSeq
  }

  /** The OTHER scale-killer class: window operators with an EMPTY
    * partitionSpec force every input row through ONE task (a global
    * sort + single-partition window). Legitimate only over a domain
    * bounded by construction — an aggregate frame (days, buckets,
    * partition ids, top-k output), never corpus rows. Collects each
    * such node — logical `Window`/`WindowGroupLimit` anywhere in the
    * walk, plus their physical forms inside cached subplans — UNLESS
    * the child's `maxRows` (via `logicalLink` for physical nodes)
    * already proves the frame bounded by `cap` (limits, ungrouped
    * aggregates). An all-FOLDABLE partitionSpec (e.g.
    * `partitionBy(lit(1))`) is one global partition and counts as
    * empty. Returns one formatted description per offender. */
  def unboundedGlobalWindows(plan: LogicalPlan, cap: Long): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    new Walker(
      {
        case w: Window if w.partitionSpec.forall(_.foldable) &&
            !w.child.maxRows.exists(_ <= cap) =>
          out += s"[${w.nodeName} childMaxRows=${w.child.maxRows} " +
            s"child=${w.child.nodeName}]"
        case w: WindowGroupLimit if w.partitionSpec.forall(_.foldable) &&
            !w.child.maxRows.exists(_ <= cap) =>
          out += s"[${w.nodeName} childMaxRows=${w.child.maxRows} " +
            s"child=${w.child.nodeName}]"
        case _ => ()
      },
      {
        case w: WindowExec if w.partitionSpec.forall(_.foldable) &&
            !linkedMaxRows(w.child).exists(_ <= cap) =>
          out += s"[cached ${w.nodeName} " +
            s"childMaxRows=${linkedMaxRows(w.child)} " +
            s"child=${w.child.nodeName}]"
        case w: WindowGroupLimitExec if w.partitionSpec.forall(_.foldable) &&
            !linkedMaxRows(w.child).exists(_ <= cap) =>
          out += s"[cached ${w.nodeName} " +
            s"childMaxRows=${linkedMaxRows(w.child)} " +
            s"child=${w.child.nodeName}]"
        case _ => ()
      }).logical(plan)
    out.toSeq
  }

  /** Zero-tolerance cartesians over the PHYSICAL tree — the audit's
    * first assertion, now walked (not string-matched) so a
    * `CartesianProductExec` inside a cached subplan or a planned
    * subquery cannot hide behind an `InMemoryTableScanExec` leaf's
    * one-line rendering. */
  def cartesians(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    new Walker(_ => (), {
      case c: CartesianProductExec => out += s"[${c.nodeName}]"
      case _ => ()
    }).physical(plan)
    out.toSeq
  }

  /** Node names of every graft physical operator in `plan`, in walk
    * order: which whole-operator extensions the planner chose. */
  def graftExecs(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    new Walker(_ => (), p =>
      if (p.getClass.getName.startsWith("graft.")) out += p.nodeName
    ).physical(plan)
    out.toSeq
  }

  /** The THIRD scale-killer class: a parquet scan that reads EVERY
    * column of a wide table. Column pruning is Catalyst's cheapest
    * win — a 100 TB scan that ships `text` to compute `count(*)` is
    * wrong regardless of how good the rest of the plan is — and it is
    * invisible to row-count reasoning, so it gets its own audit.
    * Collects, from the pre-AQE physical plan (pruning is decided by
    * `FileSourceStrategy` at planning, AQE never widens a scan), every
    * `FileSourceScanExec` whose required data schema is the ENTIRE
    * table schema, for tables wider than `minCols` columns (narrow
    * tables — region, nation, supplier, embeddings — are usually read
    * whole because the query genuinely needs every column; the audit
    * targets the wide fact/document tables where full-width is almost
    * always a missing projection). Only the CANONICAL corpus tables
    * are audited: a full-width read of a query's own materialized
    * intermediate (a sink, a pair table, a compacted unit) is correct
    * by construction — those schemas were already projected when they
    * were written. Returns (table file name, width); the shared
    * walker's identity set guarantees a cache reached through several
    * scan nodes reports its scans ONCE. */
  private val auditedTables =
    Set("lineitem", "orders", "events", "documents", "customer", "part")
      .map(_ + ".parquet")

  def fullWidthScans(plan: SparkPlan, minCols: Int): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    new Walker(_ => (), {
      case f: FileSourceScanExec
          if f.relation.dataSchema.length > minCols &&
            f.requiredSchema.length == f.relation.dataSchema.length &&
            f.relation.location.rootPaths.headOption
              .exists(r => auditedTables(r.getName)) =>
        out += ((f.relation.location.rootPaths.head.getName,
          f.requiredSchema.length))
      case _ => ()
    }).physical(plan)
    out.toSeq
  }
}
