package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond connected components
  * (SURVEY §7.4 extension surface). Like [[Dedup.connectedComponents]],
  * everything here is expressed as joins + keyed aggregations — all
  * shuffles are keyed on a node id, there is no driver-side graph, and
  * per-round lineage is truncated so iteration count never compounds
  * plan size.
  */
object Graphs {

  /** PageRank with fixed-point integer arithmetic.
    *
    * Ranks are scaled longs (`scale` = 10^12 = 1.0 of total mass, so a
    * node starts at `scale / N`) and every step is integer math — `div`
    * for the contribution split and the damping factor 85/100. That
    * buys two properties floats
    * cannot give:
    *
    *  - determinism under ANY partitioning: integer sums are exact, so
    *    the result does not depend on aggregation order (the same rule
    *    as the catalog's integer-cents money sums);
    *  - engine portability: an oracle can replay the identical
    *    computation in any SQL engine with integer division (the
    *    truncation behavior is pinned by using only non-negative
    *    values, where floor and truncate coincide).
    *
    * Scale shape: per iteration one equi-join (edges ⋈ ranks, keyed on
    * src) and one keyed sum (on dst) — the standard message-passing
    * round; edges and out-degrees are materialized once and reused
    * every round ([[Caches]] lifecycle). Rank lineage is truncated
    * every 3 rounds ([[Lineage.truncate]]: reliable `checkpoint()`
    * when a checkpoint dir is set, localCheckpoint otherwise — same
    * note as [[Dedup.connectedComponents]]).
    *
    * Contract: `edges` has (`src`, `dst`) columns and EVERY node
    * appears at least once as `src` (no dangling nodes) — mirror
    * undirected pair sets before calling. Output: (id, out_deg,
    * rank_fp) where rank_fp is the scaled rank.
    */
  def pageRankFixed(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (dampingPct, scale) = (85, 1000000000000L)
    val e = Caches.persistTracked(edges.select(col("src"), col("dst")))
    val deg = Caches.persistTracked(
      e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")))
    // one scalar to the driver (node count) — needed to seed the
    // uniform prior; not a data-dependent collect
    val n = deg.count()
    require(n > 0, "edge set is empty")
    val base = scale / n
    val teleport = (100L - dampingPct) * base / 100L
    var ranks = deg.select(col("src").as("id"), lit(base).as("r"))
    var it = 1
    while (it <= iters) {
      val contrib = e
        .join(deg, Seq("src"))
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("r div out_deg").as("c"))
      val sums = contrib.groupBy(col("id")).agg(sum(col("c")).as("s"))
      val next = deg.select(col("src").as("id"))
        .join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport)
            + expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("r"))
      // lazy truncate every round (round-12): ranks is only read by
      // the next round's plan, so a LAZY local checkpoint bounds plan
      // depth and stops per-round broadcast builds from re-executing
      // the whole prior chain, at zero extra jobs (the old eager
      // every-3-rounds truncate paid a materializing job and still
      // left 3-deep plans between truncation points).
      ranks = if (it < iters) Lineage.truncateLazy(next) else next
      it += 1
    }
    ranks.join(deg.select(col("src").as("id"), col("out_deg")), Seq("id"))
      .select(col("id"), col("out_deg"), col("r").as("rank_fp"))
  }

  /** Synchronous label-propagation community detection: every round,
    * each node adopts the PLURALITY label among its neighbors'
    * previous-round labels, ties broken by the SMALLEST label —
    * fully deterministic and oracle-replayable (the bounded-round
    * contract of [[kcoreBounded]]; synchronous updates have no
    * dependence on node visit order, unlike asynchronous LPA).
    * Initial label = own node id. Per round: one join keyed on dst,
    * one (node, label) count, one per-node argmax window — all
    * shuffles keyed on node ids, label frames are node-sized, and
    * lineage truncates every 2 rounds so round count never compounds
    * plan depth. `edges` must be the mirrored undirected (src, dst)
    * set. Returns (id, lbl) after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Caches.persistTracked(edges.select(col("src"), col("dst")))
    var labels: DataFrame = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    var it = 1
    while (it <= rounds) {
      val counts = e
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      val next = counts
        .withColumn("rn", row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("c").desc, col("lbl"))))
        .where(col("rn") === 1)
        .select(col("src").as("id"), col("lbl"))
      // lazy truncate every round — same rationale as pageRankFixed
      labels = if (it < rounds) Lineage.truncateLazy(next) else next
      it += 1
    }
    labels
  }

  /** One 3-core peel round: degrees over the surviving subgraph, drop
    * nodes below `k` = 3, keep only edges whose BOTH endpoints survive.
    * `edges` must be the mirrored (src,dst)+(dst,src) undirected set,
    * so `groupBy(src)` degrees count every incident edge. */
  private def peelOnce(edges: DataFrame): DataFrame = {
    val k = 3
    val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .where(col("d") >= k).select(col("src"))
    edges
      .join(keep, Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** BOUNDED 3-core peeling: exactly `rounds` peel passes, returning
    * the surviving nodes with their subgraph degree. After enough
    * rounds this IS the 3-core; before convergence it is the standard
    * bounded-pass upper approximation (supergraph of the true core) —
    * the deterministic, oracle-replayable variant ([[kcore]] runs to
    * the true fixpoint). Each round is one keyed aggregation + two
    * semi joins on node ids; lineage truncates every 2 rounds so
    * round count never compounds plan depth. */
  def kcoreBounded(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    var e = Caches.persistTracked(edges.select(col("src"), col("dst")))
    var it = 1
    while (it <= rounds) {
      val next = peelOnce(e)
      // lazy truncate every round — same rationale as pageRankFixed
      e = if (it < rounds) Lineage.truncateLazy(next) else next
      it += 1
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("id"), col("core_deg"))
  }

  /** True 3-core: peel until the node set is stable. The per-round
    * convergence check is one scalar count to the driver (the same
    * summary-only contract as [[Dedup.connectedComponents]]); 100
    * rounds at most, as a runaway guard. Returns (id, core_deg) where
    * every core_deg >= 3. */
  def kcore(edges: DataFrame): DataFrame = {
    val maxRounds = 100
    var e = Caches.persistTracked(edges.select(col("src"), col("dst")))
    var prev = e.count()
    var it = 0
    var stable = false
    while (!stable && it < maxRounds) {
      val next = Caches.persistTracked(
        if ((it + 1) % 4 == 0) peelOnce(e).transform(Lineage.truncate)
        else peelOnce(e))
      val m = next.count()
      stable = m == prev
      prev = m
      e = next
      it += 1
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("id"), col("core_deg"))
  }
}
