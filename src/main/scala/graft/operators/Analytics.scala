package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable analytic operator shapes re-expressed engine-side.
  *
  * The reference computes per-group top-k + rank + share-of-total in a
  * driver-side Python loop inside foreachBatch
  * (`streaming/job2.py:201-246`, SURVEY §2.7 O4) — the single worst
  * scale anti-pattern in the source. Here it is one Catalyst plan:
  * a partitioned window rank plus a windowed sum, fully distributed,
  * one shuffle on the partition keys.
  */
object Analytics {

  /** Two-phase EXACT global window — the distributed replacement for
    * `Window.orderBy(...)` with an empty partitionSpec over a
    * data-sized frame (the single-task global-sort scale killer that
    * PlanAuditSpec rejects). Classic parallel prefix-sum
    * decomposition, same as q207's day-offset form but generic:
    *
    *  1. range-repartition on the total order `sortCols` (the range
    *     partitioner samples for balanced, ORDERED partitions) and
    *     pin `spark_partition_id()`;
    *  2. intra-partition `row_number` / running sums via windows
    *     PARTITIONED by pid — each partition sorts independently;
    *  3. per-pid totals prefix-summed by the ONLY unpartitioned
    *     window, over the pid frame (≤ `spark.sql.shuffle.partitions`
    *     rows — config-bounded, never data-sized), broadcast back.
    *
    * `sortCols` MUST be a total order (include a unique tiebreak):
    * with unique keys the result is partition-placement-invariant —
    * global rank/running sums are functions of the order alone, so
    * output is bit-identical to the single-task window. That
    * bit-identity claim is why `runningSums` columns must be
    * INTEGRAL (enforced): the decomposition reorders additions
    * (per-partition partials + a pid offset vs the window's
    * sequential fold), which is exact for integer sums but differs
    * in low bits for floating point — a double measure would
    * silently break the oracle parity this operator promises (use
    * integer cents / fixed-point, the repo-wide money rule). The
    * range-partitioned frame is persisted (tracked via [[Caches]])
    * so the offset pass and the row pass see one pid assignment.
    *
    * `rankOut`: column name for the 1-based global row_number, LONG
    * END-TO-END — both across partitions (a global rank exceeds Int
    * at 100 TB) and within one (the intra rank is a LongType running
    * count, never an IntegerType row_number that could wrap in a
    * skew-fattened range partition before widening). `runningSums`:
    * (srcCol, outCol) pairs for inclusive running sums over the same
    * order. */
  def globalRunning(df: DataFrame, sortCols: Seq[Column],
      rankOut: Option[String] = None,
      runningSums: Seq[(String, String)] = Nil): DataFrame = {
    require(rankOut.nonEmpty || runningSums.nonEmpty,
      "globalRunning needs a rank output and/or running sums")
    runningSums.foreach { case (src, _) =>
      val dt = df.schema(src).dataType
      require(dt == org.apache.spark.sql.types.ByteType ||
          dt == org.apache.spark.sql.types.ShortType ||
          dt == org.apache.spark.sql.types.IntegerType ||
          dt == org.apache.spark.sql.types.LongType,
        s"globalRunning running-sum column '$src' is $dt — the " +
          "two-phase decomposition is bit-identical only for integral " +
          "sums (FP addition reorders); use integer cents/fixed-point")
    }
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = Caches.persistTracked(
      df.repartitionByRange(p, sortCols: _*)
        .withColumn("__gr_pid", spark_partition_id()))
    val wIntra = Window.partitionBy(col("__gr_pid")).orderBy(sortCols: _*)
    val wRun = wIntra.rowsBetween(Window.unboundedPreceding, 0)
    // the intra rank is a LONG running count over the row frame (==
    // row_number over the same frame, but computed in LongType from
    // the first row): row_number() is IntegerType and would wrap
    // INSIDE a range partition holding >2^31 rows before any cast —
    // the scaladoc's Long contract must hold per-partition too, and
    // the range partitioner does not bound partition sizes under a
    // pathologically skewed total order
    val intra = runningSums.foldLeft(
      parts.withColumn("__gr_irn", count(lit(1)).over(wRun))) {
      case (acc, (src, out)) =>
        acc.withColumn(s"__gr_ir_$out", sum(col(src)).over(wRun))
    }
    val aggs = count(lit(1)).as("__gr_cnt") +:
      runningSums.map { case (src, out) => sum(col(src)).as(s"__gr_t_$out") }
    val wOff = Window.orderBy(col("__gr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = runningSums.foldLeft(
      parts.groupBy(col("__gr_pid")).agg(aggs.head, aggs.tail: _*)
        .withColumn("__gr_rnoff",
          coalesce(sum(col("__gr_cnt")).over(wOff), lit(0L)))) {
      case (acc, (_, out)) =>
        acc.withColumn(s"__gr_off_$out",
          coalesce(sum(col(s"__gr_t_$out")).over(wOff), lit(0L)))
    }.select(col("__gr_pid") +: col("__gr_rnoff") +:
      runningSums.map { case (_, out) => col(s"__gr_off_$out") }: _*)
    val joined = intra.join(broadcast(offs), Seq("__gr_pid"))
    val withRank = rankOut.fold(joined)(r =>
      joined.withColumn(r, col("__gr_rnoff") + col("__gr_irn")))
    val withSums = runningSums.foldLeft(withRank) {
      case (acc, (_, out)) =>
        acc.withColumn(out, col(s"__gr_off_$out") + col(s"__gr_ir_$out"))
    }
    withSums.drop(Seq("__gr_pid", "__gr_irn", "__gr_rnoff") ++
      runningSums.flatMap { case (_, out) =>
        Seq(s"__gr_ir_$out", s"__gr_off_$out") }: _*)
  }

  /** Spark's `ntile(n)` bucket for a precomputed 1-based global
    * `rank` out of `total` rows, as column arithmetic (SQL-standard
    * semantics: the first `total mod n` buckets hold one extra row).
    * Lets [[globalRunning]] replace a global `ntile` window: attach
    * `total` as a broadcast one-row aggregate, then derive the
    * bucket from the exact global rank. INT like the builtin.
    * (Column `/` is double division — the floor-casts below are exact
    * for counts < 2^53, i.e. any real row count.) */
  def ntileFromRank(rank: Column, total: Column, n: Int): Column = {
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val b = idiv(total.cast("long"), lit(n.toLong))
    val r = total.cast("long") % n
    val cut = r * (b + 1)
    when(rank <= cut, idiv(rank - 1, b + 1) + 1)
      .otherwise(r + idiv(rank - cut - 1, b) + 1)
      .cast("int")
  }

  /** Per-group top-k with rank and percent-of-group-total.
    * `metric` must be a column of the input; ties break on `tieBreak`
    * for determinism (reference behavior is list-order, i.e. arbitrary).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], metric: String,
      tieBreak: String, k: Int): DataFrame = {
    val part = Window.partitionBy(groupCols.map(col): _*)
    val rankW = part.orderBy(col(metric).desc, col(tieBreak))
    df.withColumn("rank", row_number().over(rankW))
      .withColumn("pct_of_total",
        round(col(metric) * 100.0 / sum(col(metric)).over(part), 2))
      .where(col("rank") <= k)
  }

  /** As-of join: for each left row, attach the most recent right row
    * (per key) with rightTime <= leftTime. Implemented as the
    * union-and-carry trick: one sort-shuffle on (key, time) instead of
    * an O(n·m) range join — the scalable shape for 100 TB event data.
    *
    * left/right must share the key column name `key`; time columns are
    * `leftTime`/`rightTime`. Output: all left columns + `asofCols`
    * (from right) as `asof_<name>`, null when no prior right row.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      asofCols: Seq[String]): DataFrame = {
    val lCols = left.columns
    // side 0 = right (carrier), side 1 = left (receiver); at equal
    // timestamps the right row sorts first ⇒ inclusive (<=) semantics.
    val r = right.select(
      col(key).as("_k"), col(rightTime).as("_t"), lit(0).as("_side"),
      struct(asofCols.map(col): _*).as("_payload"))
    val l = left.select(
      col(key).as("_k"), col(leftTime).as("_t"), lit(1).as("_side"),
      lit(null).cast(r.schema("_payload").dataType).as("_payload"),
      struct(lCols.map(col): _*).as("_row"))
    val unioned = r.withColumn("_row", lit(null).cast(l.schema("_row").dataType))
      .unionByName(l)
    // final tie-break on the payload struct: two right rows with the
    // same key AND identical timestamp would otherwise sort
    // nondeterministically, making the carried payload run-dependent
    // (ascending struct order ⇒ the max payload deterministically wins)
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side"), col("_payload"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned
      .withColumn("_carry", last(col("_payload"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
    val outCols = lCols.map(c => col("_row").getField(c).as(c)) ++
      asofCols.map(c => col("_carry").getField(c).as(s"asof_$c"))
    carried.select(outCols: _*)
  }

  /** As-of join on the dedicated physical operator
    * ([[graft.plans.AsOfJoinExec]]) — identical semantics and output
    * schema to [[asofJoin]] (inclusive <=, max-payload tie-break at
    * equal timestamps, nulls when no prior right row), but planned as
    * one co-partitioned sort-merge pass instead of union + window
    * carry. Runs [[graft.GraftExtensions.ensure]] so that a session
    * built without the extension can plan the node. */
  def asofJoinExec(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      asofCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    require(asofCols.nonEmpty, "asofCols must name at least one column")
    val spark = left.sparkSession
    graft.GraftExtensions.ensure(spark)
    // prune + rename the right side up front (the custom node is
    // opaque to column pruning, so the projection must be below it);
    // payload columns get their output names before the join
    val rSel = right.select(
      Seq(col(key).as("_rk"), col(rightTime).as("_rt")) ++
        asofCols.map(c => col(c).as(s"asof_$c")): _*)
    val lPlan = PlanBridge.analyzed(left)
    val rPlan = PlanBridge.analyzed(rSel)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"missing column $n"))
    val plan = graft.plans.AsOfJoinPlan(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, "_rk")),
      attr(lPlan, leftTime), attr(rPlan, "_rt"),
      asofCols.map(c => attr(rPlan, s"asof_$c")))
    PlanBridge.ofRows(spark, plan).drop("_rk", "_rt")
  }

  /** As-of join for a SMALL right side (a dimension): the right rows
    * collapse to one sorted (time, payload-struct) array per key, the
    * join is a plain broadcast hash join on the key, and the as-of
    * lookup is `element_at(filter(arr, t <= leftTime), -1)` — the last
    * qualifying element of the sorted array. No shuffle of the left
    * side at all (vs one per side for [[asofJoinExec]]) — the right
    * regime when the right side fits in a broadcast, exactly like
    * choosing BroadcastHashJoin over SortMergeJoin. Same semantics as
    * [[asofJoin]]/[[asofJoinExec]]: inclusive <=, max payload at equal
    * timestamps (sort_array puts it last), nulls when no prior row. */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      asofCols: Seq[String]): DataFrame = {
    require(asofCols.nonEmpty, "asofCols must name at least one column")
    require(!left.columns.contains("_arr"),
      "left side must not carry a column named _arr (internal)")
    val dim = right.groupBy(col(key))
      .agg(sort_array(collect_list(struct(
        col(rightTime).as("_t") +: asofCols.map(col): _*))).as("_arr"))
    val lCols = left.columns.map(col)
    // ANSI-safe: element_at(-1) throws on an empty array, so gate on
    // size (null _arr from a left-join miss yields null size → null)
    val priors = filter(col("_arr"), x => x.getField("_t") <= col(leftTime))
    val hit = when(size(priors) > 0, element_at(priors, -1))
    left.join(broadcast(dim), Seq(key), "left")
      .select(lCols ++
        asofCols.map(c => hit.getField(c).as(s"asof_$c")): _*)
  }

  /** Ordered conversion funnel (q157): each step's timestamp is the
    * entity's EARLIEST qualifying event at-or-after the previous
    * step — min-based, the standard deterministic funnel. `events`
    * needs (user_id, ts, event_type). One row per step with
    * survivors and step-to-step conversion basis points. The chained
    * conditional aggregations reuse one user_id partitioning; the
    * 3-way self-join row explosion never happens. */
  def orderedFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    val ev = events.select(col("user_id"), col("ts"), col("event_type"))
    // fold survivors declaratively — one plan, no driver actions
    val stages = steps.tail.scanLeft(
      ev.where(col("event_type") === steps.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))) {
      (prev, s) =>
        ev.join(prev, Seq("user_id"))
          .where(col("event_type") === s && col("ts") >= col("t"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    val names = steps.head +:
      steps.tail.zipWithIndex.map { case (s, i) =>
        s"${s}_after_${steps(i)}"
      }
    val counts = stages.zip(names).zipWithIndex.map {
      case ((df, name), i) =>
        df.agg(count(lit(1)).as("n"))
          .withColumn("step", lit((i + 1).toLong))
          .withColumn("step_name", lit(name))
    }.reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    counts.withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("step"), col("step_name"), col("n"),
        when(col("prev_n").isNull, lit(10000L))
          .otherwise(expr("n * 10000 div prev_n")).as("conv_bp"))
  }

  /** Time-decayed trending fold over a (user_id, day, n) daily-count
    * frame — q180's arithmetic, factored so the batch query and the
    * streaming maintenance ([[graft.streaming.TrendIngest]]) serve
    * through ONE implementation: a day's count is worth half per 7
    * days of age against the frame's max day, as a PURE INTEGER
    * right-shift (no float powers; shifts cap at 62). The fold is
    * additive integer sums, so partial daily counts from any split
    * of the data (micro-batches, shards) re-aggregate to the
    * identical result. Top 20 by (score DESC, user_id). */
  def decayedTrending(daily: DataFrame): DataFrame = {
    val maxDay = daily.agg(max(col("day")).as("d_max"))
    daily.crossJoin(broadcast(maxDay))
      .select(col("user_id"), col("n"),
        expr("shiftright(n * 1000000, " +
          "cast(least(datediff(d_max, day) div 7, 62) as int))")
          .as("contrib"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("contrib")).as("score_1e6"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_1e6").desc, col("user_id"))))
      .where(col("rank") <= 20)
      .select(col("rank"), col("user_id"), col("n_events"),
        col("score_1e6"))
      .orderBy(col("rank"))
  }
}
