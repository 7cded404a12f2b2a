package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's streaming
  * surface (SURVEY §2.11, §2.12 SQ1-SQ14). Every transform is a pure
  * `DataFrame => DataFrame` so the same logic runs against a Kafka
  * source, a file source, or a MemoryStream in tests — and (minus the
  * watermark) in batch for differential checks.
  *
  * Semantics carried over 1:1:
  *  - declared-schema JSON envelope decode + flatten
  *    (`from_json(cast(value as string))` then `data.*` —
  *    streaming/job2.py:136-139)
  *  - event-time promotion via to_timestamp (job2.py:140)
  *  - uniform 2-minute watermark before every agg (job1_bots.py:147)
  *  - 60 s tumbling detection window (job1_bots.py:148-151)
  *  - 5 min / 1 min sliding metrics windows (job2.py:177)
  *  - stateless alert filters + priority ladder (job5.py:139-205)
  *  - heterogeneous alert union via unionByName(allowMissingColumns)
  *    (job1_bots.py:358-360)
  *  - chained stateful topology: windowed agg → union → second
  *    watermark+window agg in append mode (job1_bots.py:310-333 —
  *    SURVEY §7.5 #1, needs Spark ≥3.4; tested in StreamingSpec)
  *  - streaming side always uses approx_count_distinct (HLL++), batch
  *    exact — the reference's A2/A3 split.
  */
object StreamOps {

  /** The streamed event record (plays the reference's tweet role).
    * Single source of truth for the envelope schema — the reference
    * copy-pastes its StructType five times (SURVEY §1.2). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType), // ISO timestamp-as-string, like the ref
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** S2: decode a binary/string `value` column carrying one JSON object
    * per record against the declared schema, flatten to columns.
    * Unparseable JSON → all-null row (from_json semantics, as in the
    * reference — no error channel). */
  def decodeJsonEnvelope(raw: DataFrame,
      schema: StructType = eventSchema): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("data"))
      .select("data.*")

  /** S3: event-time promotion of `ts` (string → TimestampType). */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("ts", to_timestamp(col("ts")))

  val WatermarkDelay = "2 minutes"

  /** T1: the single watermark definition. Applied ONCE at the source;
    * Spark ≥3.4 propagates it through chained stateful operators —
    * redefining it downstream is disallowed (and was the reference's
    * luck: PySpark 3.5 tolerated re-watermarking the union because the
    * branches carried the same source watermark). No-op in batch. */
  def watermarked(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
  // Operational note: Catalyst pushes filters whose predicates don't
  // reference the event-time column BELOW the watermark node, so the
  // watermark only advances on rows surviving those filters. A topology
  // that filters to a rare event type therefore needs its own traffic
  // to advance event time (verified in StreamingSpec's differential
  // test; same behavior as upstream Spark).

  /** T8/SQ1: high-frequency detector — ≥ 3 events from one user
    * inside a 60 s tumbling window. Stateful (windowed agg); expects a
    * [[watermarked]] input. Output `ts` is the window end, which
    * carries the propagated event-time watermark. */
  def highFrequencyAlerts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "60 seconds"), col("user_id"))
      .agg(count(lit(1)).as("event_count"))
      .where(col("event_count") >= 3L)
      .select(
        // window_time (= window.end - 1µs) keeps the event-time /
        // watermark metadata so a downstream agg can chain (T9);
        // a bare window.end would strip it.
        window_time(col("window")).as("ts"),
        col("user_id"),
        lit("high_frequency").as("alert_type"),
        lit("high").as("alert_priority"),
        col("event_count"))

  /** T7/SQ14-shape: stateless high-value alert with a 3-tier priority
    * ladder (order matters — first match wins, job5.py:177-180). */
  def highValueAlerts(events: DataFrame, minValue: Double = 150.0)
      : DataFrame =
    events
      .where(col("event_type") === "purchase" && col("value") >= minValue)
      .select(
        col("ts"), col("user_id"),
        lit("high_value").as("alert_type"),
        when(col("value") >= minValue * 2, "critical")
          .when(col("value") >= minValue * 1.5, "high")
          .otherwise("medium").as("alert_priority"),
        col("value"))

  /** T7: stateless error alert (filter-only detector). */
  def errorAlerts(events: DataFrame): DataFrame =
    events
      .where(col("event_type") === "error")
      .select(
        col("ts"), col("user_id"),
        lit("error").as("alert_type"),
        lit("medium").as("alert_priority"))

  /** U2: align heterogeneous alert streams by name, missing → null. */
  def alertUnion(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_.unionByName(_, allowMissingColumns = true))

  /** T1/T3/SQ5-shape metrics: sliding-window re-aggregation of an
    * alert stream — count + HLL++ distinct users. Relies on the
    * source watermark propagating through upstream operators (in a
    * chained-stateful topology this is the *second* stateful op, T9). */
  def windowedMetrics(df: DataFrame,
      windowLen: String = "5 minutes", slide: String = "1 minute")
      : DataFrame =
    df.groupBy(window(col("ts"), windowLen, slide), col("alert_type"))
      .agg(
        count(lit(1)).as("n_alerts"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("alert_type"), col("n_alerts"), col("approx_users"))

  /** T4 extension: session windows — activity sessions close after
    * 30 minutes of event-time inactivity per user (no fixed
    * boundaries; state merges as events arrive). Append emission once
    * the watermark passes the session end. */
  def sessionMetrics(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("event_type")).as("approx_types"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("approx_types"))

  /** Per-micro-batch observability: named metrics evaluated inline on
    * the streaming plan (`Dataset.observe` — an accumulator pass, no
    * extra shuffle or scan) that surface in every
    * `StreamingQueryProgress.observedMetrics` under "graft_metrics".
    * The monitoring contract a production topology needs: per-trigger
    * row count,
    * value total, and max observed event time (watermark lag =
    * wall-clock − max_event_time). */
  def observed(events: DataFrame): DataFrame =
    events.observe("graft_metrics",
      count(lit(1)).as("n_rows"),
      sum(col("value")).as("value_total"),
      max(col("ts")).as("max_event_time"))

  /** Deterministic session rollup (the oracle-checkable T4 variant —
    * [[sessionMetrics]] keeps reference parity with its approx
    * distinct): per-user sessions closing after 10 minutes of
    * event-time inactivity, with exact counts and integer-cents value
    * totals so a replay of the stream hash-matches a batch
    * gaps-and-islands sessionization in any engine. */
  def sessionRollup(events: DataFrame): DataFrame =
    sessionRollupOn(events, session_window(col("ts"), "10 minutes"))

  /** Shared output contract of the session rollups: exact counts +
    * integer-cents totals keyed on a caller-supplied session_window
    * column (fixed or dynamic gap) — the piece both q73 and q105
    * oracles mirror, kept in one place. */
  private def sessionRollupOn(events: DataFrame, sw: Column): DataFrame =
    events
      .groupBy(sw.as("session_window"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** [[sessionRollup]] with a DYNAMIC per-event gap: purchase activity
    * holds a session open longer than passive views (a purchase funnel
    * shouldn't time out mid-checkout). `session_window` accepts a gap
    * EXPRESSION evaluated per row; sessions merge under the union of
    * each event's hold window, and rows whose gap expression is ≤ 0
    * are dropped by definition. Same deterministic exact-count /
    * integer-cents output contract as the fixed-gap rollup. */
  def sessionRollupDynamicGap(events: DataFrame,
      viewGapMin: Int = 10, purchaseGapMin: Int = 30): DataFrame =
    // the gap expression must be CalendarIntervalType (an INTERVAL
    // literal is DayTimeIntervalType and is rejected) — make_interval
    // is the expression-level constructor of the right type
    sessionRollupOn(events, session_window(col("ts"),
      expr(s"CASE WHEN event_type = 'purchase' " +
        s"THEN make_interval(0,0,0,0,0,$purchaseGapMin,0) " +
        s"ELSE make_interval(0,0,0,0,0,$viewGapMin,0) END")))

  /** Custom keyed state (SURVEY §2.11 beyond-parity): exactly-once-ish
    * stream dedup — drops events whose event_id was already seen for
    * the user. State is the seen-id set per user, expired one hour of
    * event time after the user goes quiet (EventTimeTimeout — bounds
    * state at scale; a processing-time timeout would also keep the
    * no-data batch loop spinning). Input must be [[watermarked]]. */
  def dedupStream(events: Dataset[Row], spark: SparkSession)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked event-time column must remain in the stateful
    // operator's input, so ts rides along and is dropped on output
    val typed = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .as[(Long, Long, String, Double, java.sql.Timestamp)]
    typed
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long,
            rows: Iterator[(Long, Long, String, Double, java.sql.Timestamp)],
            state: GroupState[Set[Long]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(Set.empty[Long])
            var rowsMaxTs = 0L
            val (emitted, seenAfter) = rows.foldLeft(
              List.empty[(Long, Long, String, Double)] -> seen) {
                case ((out, s), r) =>
                  if (r._5 != null) rowsMaxTs = rowsMaxTs.max(r._5.getTime)
                  if (s.contains(r._1)) (out, s)
                  else ((r._1, r._2, r._3, r._4) :: out, s + r._1)
              }
            state.update(seenAfter)
            // expire 1h of event time after this user's newest event
            // (a watermark-relative timeout set while the watermark
            // still lags would expire state too early)
            val maxTs = rowsMaxTs.max(state.getCurrentWatermarkMs() + 1)
            state.setTimeoutTimestamp(maxTs + 3600000L)
            emitted.reverseIterator
          }
        })
      .toDF("event_id", "user_id", "event_type", "value")
  }

  /** Streaming SCD2 dimension build — the ingest-time twin of the
    * batch q154: per-entity keyed state carries the OPEN version (type,
    * valid_from, event count); an arriving event with a different
    * attribute value closes it (emitting the finished [valid_from,
    * valid_to) row — append-mode, exactly the batch build's non-current
    * rows) and opens the next. Events are sorted by (ts, event_id)
    * within each state invocation; correctness across micro-batches
    * requires the feed be non-decreasing in event time per entity (the
    * CDC-log contract; a production topology would add watermark +
    * EventTimeTimeout expiry for entities that go quiet — the
    * [[dedupStream]] pattern). State is O(1) per live entity. */
  def scd2Stream(events: Dataset[Row], spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // state: (version, event_type, valid_from_ms, n_events)
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[(Long, String, Long, Long)]) => {
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          var open = state.getOption
          val closed = List.newBuilder[(Long, Long, String,
            java.sql.Timestamp, java.sql.Timestamp, Long)]
          sorted.foreach { r =>
            open match {
              case Some((v, tpe, vf, n)) if tpe == r._4 =>
                open = Some((v, tpe, vf, n + 1))
              case Some((v, tpe, vf, n)) =>
                closed += ((user, v, tpe, new java.sql.Timestamp(vf),
                  r._2, n))
                open = Some((v + 1, r._4, r._2.getTime, 1L))
              case None =>
                open = Some((1L, r._4, r._2.getTime, 1L))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
        })
      .toDF("user_id", "version", "event_type", "valid_from",
        "valid_to", "n_events")
  }

  /** Streaming ordered funnel — the ingest-time twin of the batch
    * [[graft.operators.Analytics.orderedFunnel]]: per-entity keyed
    * state is the funnel POSITION (completed step count + the min
    * qualifying timestamp of the last completed step); each event
    * advances the machine when its type matches the next step at or
    * after the previous step's time. Emits one row per entity when
    * the FINAL step completes (append-mode; earlier steps are state,
    * not output). State is O(1) per live entity; same CDC ordering
    * contract as [[scd2Stream]]. Matches the batch min-based funnel
    * on completion COUNT; the completion time is the first time the
    * machine reaches the end in arrival order (the streaming
    * semantics — batch's global-min chain can differ per entity). */
  def funnelStream(events: Dataset[Row], steps: Seq[String],
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stepArr = steps.toArray
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[(Int, Long)]) => {
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          var (done, lastMs) = state.getOption.getOrElse((0, Long.MinValue))
          var completedAt: Option[java.sql.Timestamp] = None
          // rescan until no advance (≤ steps passes): a later step at
          // the SAME timestamp can sort before the event that unlocks
          // it, and batch semantics (ts >= t_prev inclusive) count it
          var advanced = true
          while (advanced && done < stepArr.length) {
            advanced = false
            sorted.foreach { r =>
              if (done < stepArr.length && completedAt.isEmpty
                  && r._4 == stepArr(done)
                  && (done == 0 || r._2.getTime >= lastMs)) {
                done += 1
                lastMs = r._2.getTime
                advanced = true
                if (done == stepArr.length) completedAt = Some(r._2)
              }
            }
          }
          state.update((done, lastMs))
          completedAt.iterator.map(ts => (user, ts))
        })
      .toDF("user_id", "completed_at")
  }

  /** Stream-static as-of enrichment against a SLOWLY CHANGING
    * dimension. The plain stream-static shapes (a broadcast
    * join, or [[graft.operators.Analytics.asofJoinBroadcast]] applied
    * to a static frame) pin the dim's file listing when the static subplan
    * is analyzed at query start — dim rows added while the stream runs
    * stay invisible for the life of the query. This variant
    * re-resolves the dim through `dimProvider` inside foreachBatch —
    * a fresh analysis + broadcast per micro-batch, the
    * periodic-re-broadcast pattern — so every batch is as-of joined
    * against the dim AS OF that trigger.
    *
    * Scale contract: the dim must stay broadcast-sized (same regime
    * as asofJoinBroadcast — it is collapsed to one sorted array per
    * key and broadcast); the re-list + re-broadcast cost is per
    * TRIGGER, not per row, so a 60 s trigger amortizes it. For dims
    * too big to broadcast, use [[ScdAsof.asofEnrichScdState]] — the
    * keyed-state regime where the dim history is co-partitioned with
    * the facts instead of broadcast. */
  def asofEnrichScd(stream: DataFrame, dimProvider: () => DataFrame,
      asofCols: Seq[String])(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        sink(graft.operators.Analytics.asofJoinBroadcast(
          batch.toDF(), dimProvider(), asofCols), id)
    }

  /** Stream-stream interval join (extension surface): purchases matched
    * to the same user's views in the preceding hour. Both sides carry
    * the source watermark; the range condition bounds the view-side
    * state to 1 h + watermark delay. Inner join ⇒ emits as soon as both
    * sides arrive; state expires with the watermark. */
  def purchaseAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** Shared purchases⋈views interval join behind the inner and
    * left-outer attribution variants — one place for the key, the
    * 1 h bound, and the strict `v_ts < p_ts` edge both depend on. */
  private def attributionJoin(events: DataFrame, joinType: String)
      : DataFrame = {
    val purchases = watermarked(events)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val views = watermarked(events)
      .where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    purchases.join(views,
      col("user_id") === col("v_user")
        && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("v_ts") < col("p_ts"),
      joinType)
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("value"))
  }

  /** [[purchaseAttribution]] with LEFT OUTER semantics: every purchase
    * emits — attributed to prior views when they exist, with a null
    * view_id otherwise. The null row is emitted only when the
    * WATERMARK proves no qualifying view can still arrive (outer
    * stream-stream results materialize on state eviction), so
    * unattributed purchases are delayed by watermark + interval bound
    * while inner matches emit immediately — the "every purchase is
    * attributed or explicitly unattributed" contract a revenue
    * pipeline needs. Same bounded view-side state as the inner form. */
  def purchaseAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  /** T9: the full chained topology — stateful detector ∪ stateless
    * alerts → second watermark + sliding-window agg, append mode.
    * The most fragile semantic in the port (SURVEY §7.5 #1). */
  def chainedAlertMetrics(events: DataFrame): DataFrame = {
    val src = watermarked(events)
    val chained = alertUnion(Seq(
      highFrequencyAlerts(src),
      highValueAlerts(src),
      errorAlerts(src)))
    windowedMetrics(chained)
  }
}
