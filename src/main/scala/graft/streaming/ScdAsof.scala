package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{Encoders => E}

/** Streaming as-of enrichment against a slowly-changing dimension that
  * is TOO BIG TO BROADCAST — the state-store regime the round-3
  * roadmap called out ([[StreamOps.asofEnrichScd]] covers the
  * broadcast regime; its scaladoc points here for the big-dim case).
  *
  * Shape: dim-version updates and fact events are two streams UNIONED
  * and co-partitioned by the join key, so each key's dim history lives
  * in that key's state store partition — the dim is never collected,
  * never broadcast, and its per-key slice is exactly co-located with
  * the facts that need it (the streaming analogue of a co-partitioned
  * sort-merge as-of, vs the broadcast analogue of asofJoinBroadcast).
  *
  * Correctness under out-of-order arrival: a fact must not resolve
  * until no earlier dim version can still arrive, i.e. until the
  * WATERMARK passes the fact's event time. Facts buffer in keyed
  * state; one event-time timer per key (at the earliest pending fact)
  * releases every fact the watermark has passed, resolved against the
  * dim versions seen so far — inclusive `version_ts <= fact_ts`, max
  * payload at equal timestamps, null when no prior version: exactly
  * [[graft.operators.Analytics.asofJoin]]'s contract, which the spec
  * proves by replaying the same interleaving through the batch
  * operator.
  *
  * State stays bounded on both sides: released facts leave the
  * buffer, and dim versions the watermark has passed collapse to the
  * single latest one (any future fact's timestamp exceeds the
  * watermark, so older versions can never win an as-of again).
  *
  * Inputs must be watermarked BEFORE the union (the union's watermark
  * is the min of the two).
  * facts: (event_id long, user_id long, ts timestamp);
  * dimUpdates: (user_id long, ts timestamp, tier string).
  * Output: (event_id, user_id, ts, asof_tier).
  * Requires the RocksDB state store provider
  * ([[StateStores.useRocksDb]]) like every transformWithState op.
  */
object ScdAsof {

  def asofEnrichScdState(facts: DataFrame, dimUpdates: DataFrame,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    val f = facts.select(lit(1).as("side"), col("event_id"),
      col("user_id"), col("ts"), lit(null).cast("string").as("tier"))
    val d = dimUpdates.select(lit(0).as("side"), lit(0L).as("event_id"),
      col("user_id"), col("ts"), col("tier"))
    f.unionByName(d)
      .as[(Int, Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._3)
      .transformWithState(new ScdAsofProcessor, TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("event_id", "user_id", "ts", "asof_tier")
  }
}

/** Keyed state behind [[ScdAsof.asofEnrichScdState]]: the key's dim
  * version history + its unresolved facts + the one armed timer. */
class ScdAsofProcessor extends StatefulProcessor[
    Long, (Int, Long, Long, java.sql.Timestamp, String),
    (Long, Long, java.sql.Timestamp, String)] {

  @transient private var versions: ListState[(Long, String)] = _
  @transient private var pending: ListState[(Long, Long)] = _
  @transient private var armedTimer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    versions = getHandle.getListState[(Long, String)]("versions",
      E.product[(Long, String)], TTLConfig.NONE)
    pending = getHandle.getListState[(Long, Long)]("pending",
      E.product[(Long, Long)], TTLConfig.NONE)
    armedTimer = getHandle.getValueState[Long]("armedTimer",
      E.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(user: Long,
      rows: Iterator[(Int, Long, Long, java.sql.Timestamp, String)],
      timerValues: TimerValues)
      : Iterator[(Long, Long, java.sql.Timestamp, String)] = {
    rows.foreach { r =>
      if (r._1 == 0) versions.appendValue((r._4.getTime, r._5))
      else pending.appendValue((r._2, r._4.getTime))
    }
    rearm()
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo)
      : Iterator[(Long, Long, java.sql.Timestamp, String)] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    val vs = versions.get().toArray
    val (ripe, stillPending) = pending.get().toArray
      .partition(_._2 <= wm)
    val out = ripe.sortBy(f => (f._2, f._1)).iterator.map {
      case (eventId, ts) =>
        // inclusive <=, max (ts, tier) wins — asofJoin's tie-break
        val hit = vs.filter(_._1 <= ts).sorted
          .lastOption.map(_._2).orNull
        (eventId, user, new java.sql.Timestamp(ts), hit)
    }
    if (stillPending.isEmpty) pending.clear()
    else pending.put(stillPending)
    // versions at or before the watermark collapse to the latest one:
    // every unresolved or future fact has ts > wm >= those versions
    val (past, future) = vs.partition(_._1 <= wm)
    val kept = past.sorted.lastOption.toArray ++ future
    if (kept.length != vs.length) {
      if (kept.isEmpty) versions.clear() else versions.put(kept)
    }
    armedTimer.clear()
    rearm()
    out
  }

  /** One timer per key at the earliest unresolved fact (facts resolve
    * exactly when the watermark passes them). */
  private def rearm(): Unit = {
    val minPending = pending.get().map(_._2).minOption
    minPending.foreach { at =>
      val armed = if (armedTimer.exists()) Some(armedTimer.get()) else None
      if (!armed.contains(at)) {
        armed.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(at)
        armedTimer.update(at)
      }
    }
  }
}
