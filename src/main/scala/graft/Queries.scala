package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

import graft.functions.TextFunctions._
import graft.operators.{Analytics, Dedup, Similarity, VectorIndex}

/** The query catalog: every operator family from SURVEY §2 re-expressed
  * Spark-first over the TESTDATA tables, plus the training-data
  * extension operators (§7.4). Each query has a 1:1 ANSI-SQL oracle in
  * [[Oracles]]; names and column aliases must match exactly.
  *
  * Determinism rules (SURVEY §7.5 #2):
  *  - money aggregates go through integer cents
  *    (`sum(cast(round(x*100) as long))/100.0`) so results do not
  *    depend on float summation order;
  *  - all timestamp outputs are formatted strings at second
  *    granularity (the source `events.ts` is nanos; Spark reads micros);
  *  - every result has a total ORDER BY with tie-breaks;
  *  - `first()`-style carries use window row_number (reference's
  *    non-deterministic `first()` — SURVEY §2.5 A6);
  *  - pivot values are pinned (A8);
  *  - any float that must be SUMMED across rows rides as fixed-point
  *    integers first (round per row, sum longs, divide once — q119
  *    micro-units, q121/q125 basis points, q126 integer ranks);
  *  - OUTPUT-visible hashes are md5 (engine-portable); internal join
  *    keys may be xxhash64 (16-byte shuffle rows — never reaches an
  *    output);
  *  - float literals shared with oracle SQL use e-notation (DuckDB
  *    parses plain decimals as DECIMAL, tainting downstream types).
  */
object Queries {

  // ---------- shared helpers ----------

  /** events.ts ships in three parquet layouts: INT64 micros
    * (TIMESTAMP_NTZ) in the fixture tables (TESTDATA.md), INT96
    * (TIMESTAMP) in GenData output under Spark's default
    * `outputTimestampType`, and INT64 nanos from older generators —
    * adapt to whichever this dir carries. The layout is read from one
    * footer on the driver ([[graft.sources.ParquetSchema.of]], no Spark
    * job), which resolves nanos to long. Nanos are read as that long
    * and truncated to micros (`timestamp_micros(ts div 1000)`,
    * identical to DuckDB's ns→us cast). Micros and INT96 are read as
    * `TimestampType` directly: the reader takes an NTZ column's stored
    * micros as the UTC instant, with no cast through the session time
    * zone, so every layout gives the same instants and column type.
    *
    * Writes no session conf, so concurrent builders can share the
    * session. A session whose time zone is not UTC keeps it, and `ts`
    * still holds the same instants; only functions that render or
    * bucket `ts` by wall clock (`hour`, `date_format`) follow that
    * session's zone. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val footer = graft.sources.ParquetSchema.of(spark, path)
    if (footer("ts").dataType == LongType)
      spark.read.schema(footer).parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.read.schema(StructType(footer.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
        .parquet(path)
  }

  def t(spark: SparkSession, dir: String): Tables = Tables(spark, dir)

  /** Integer-cents sum: deterministic under any partitioning. */
  private def centsSum(c: Column): Column = sum(round(c * 100).cast("long"))
  private def money(c: Column): Column = centsSum(c) / 100.0
  private def moneyAvg(c: Column): Column =
    round(centsSum(c) / 100.0 / count(lit(1)), 4)

  private def fmtTs(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** The embeddings as the (id, vec) frame the vector operators take. */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).embeddings
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  // ---------- relational core (lineitem / orders / dims) ----------

  /** TPC-H-Q1-shaped pricing summary: scan-filter → 2-key hash agg.
    * (reference agg surface: SURVEY §2.5 A1/A4.) */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).lineitem
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        money(col("l_extendedprice")).as("sum_base_price"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** 3-way join with broadcast dim (customer): revenue per segment.
    *
    * Aggregation is PUSHED BELOW the join: lineitem pre-aggregates to
    * one row per orderkey (integer-cents partials — long addition, so
    * re-summing per segment is bit-identical to the flat sum), which
    * (a) shrinks the join input from #lines to #orders and (b) turns
    * `countDistinct(o_orderkey)` into a plain `count` — no two-phase
    * distinct expand. Catalyst does not do this rewrite itself; it is
    * the classic partial-agg-below-join shape that matters at 100 TB
    * where lineitem is the dominant table. */
  def q02RevenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val c = tb.customer.select(col("c_custkey"), col("c_mktsegment"))
    val o = tb.orders.select(col("o_orderkey"), col("o_custkey"))
    val perOrder = tb.lineitem
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc"))
      .groupBy(col("l_orderkey"))
      .agg(centsSum(col("disc")).as("cents"), count(lit(1)).as("lines"))
    perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        (sum(col("cents")) / 100.0).as("revenue"),
        sum(col("lines")).as("n_lines"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Snowflake dim chain supplier→nation→region, both dims broadcast. */
  def q03SupplierGeo(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    tb.supplier
      .join(broadcast(tb.nation),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tb.region),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        money(col("s_acctbal")).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Per-group top-k via partitioned row_number (no global sort). */
  def q04TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir).orders
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  // ---------- events analytics (the reference's tweet-stream role) ----------

  /** Pivot with pinned values (SURVEY A8) + derived pct columns. */
  def q05EventPivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0, Seq("click", "error", "purchase", "signup", "view"))
      .withColumn("total",
        col("click") + col("error") + col("purchase") + col("signup")
          + col("view"))
      .withColumn("purchase_pct",
        round(col("purchase") * 100.0 / col("total"), 2))
      .orderBy(col("user_id"))

  /** Conditional tallies (sum-of-when, SURVEY A5) per user. */
  def q06UserBehavior(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .as("n_errors"),
        money(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("purchase_value"),
        countDistinct(col("event_type")).as("n_types"))
      .withColumn("error_rate",
        round(col("n_errors") * 100.0 / col("n_events"), 2))
      .orderBy(col("user_id"))

  /** Per-type stats: count / exact distinct / min / max / cents-avg. */
  def q07EventTypeStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        moneyAvg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  /** Hour-of-day activity pattern (reference BQ9). */
  def q08Hourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_of_day"), col("event_type"))

  /** Weekday name pattern (reference BQ10; date_format EEEE). */
  def q09Weekday(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day_name", date_format(col("ts"), "EEEE"))
      .groupBy(col("day_name"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        money(col("value")).as("total_value"))
      .orderBy(col("day_name"))

  /** Day × hour heatmap (reference BQ11). */
  def q10Heatmap(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_format(col("ts"), "EEEE").as("day_name"),
        hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day_name"), col("hour_of_day"))

  /** Tumbling 1h event-time window (reference T2), batch formulation.
    * Streaming twin lives in graft.streaming (same plan post-source). */
  def q11Tumbling(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
      .select(fmtTs(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding 1h/15m window (reference T3 shape). */
  def q12Sliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(fmtTs(col("window.start")).as("window_start"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** Weekend-vs-weekday split (reference BQ12 when-ladder). */
  def q13Weekend(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day_kind",
        when(date_format(col("ts"), "EEEE").isin("Saturday", "Sunday"),
          "weekend").otherwise("weekday"))
      .groupBy(col("day_kind"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        moneyAvg(col("value")).as("avg_value"))
      .orderBy(col("day_kind"), col("event_type"))

  /** Positional union of two filtered projections (reference U1) then
    * re-aggregation per day. */
  def q14UnionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val s = ev.where(col("event_type") === "signup")
      .select(fmtDate(col("ts")).as("day"), lit("signup").as("kind"),
        col("value"))
    val p = ev.where(col("event_type") === "purchase")
      .select(fmtDate(col("ts")).as("day"), lit("purchase").as("kind"),
        col("value"))
    s.union(p)
      .groupBy(col("day"), col("kind"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
      .orderBy(col("day"), col("kind"))
  }

  /** Engine-side replacement of the reference's driver-side per-group
    * top-k + rank + pct (SURVEY O4 → Window rank). */
  def q15TopUsersPct(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    Analytics.topKPerGroup(counts, Seq("event_type"), "user_id", 5)
      .select(col("event_type"), col("rank"), col("user_id"), col("cnt"),
        col("pct_of_total"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Global summary (reference BQ13): counts + ts range as strings. */
  def q16EventSummary(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(fmtDate(col("ts"))).as("n_days"),
        fmtTs(min(col("ts"))).as("first_ts"),
        fmtTs(max(col("ts"))).as("last_ts"))
      .orderBy(col("event_type"))

  /** Deterministic "first event per user" — replaces the reference's
    * non-deterministic first() carry (SURVEY A6) with a window rank. */
  def q17FirstEvent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event_id"),
        col("event_type").as("first_type"), col("value").as("first_value"))
      .orderBy(col("user_id"))
  }

  // ---------- documents: text analysis (SURVEY §7.4) ----------

  /** Corpus-level token frequencies, top-20 (explode → agg → topk). */
  def q18TopTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** Per-language quality scoring + language-ID agreement. */
  def q19LangQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality", qualityScore(col("toks")))
      .withColumn("guess", langGuess(col("toks")))
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 4).as("avg_quality"),
        sum(when(col("guess") === col("lang"), 1).otherwise(0))
          .as("n_guess_match"),
        round(avg(size(col("toks"))), 2).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  /** Sentiment keyword ladder (reference SQ10, UDF → pure columns). */
  def q20Sentiment(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("score", sentimentScore(col("toks")))
      .withColumn("sentiment_type", sentimentType(col("score")))
    docs.groupBy(col("sentiment_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("score")), 4).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy(col("sentiment_type"))
  }

  // ---------- dedup / similarity (training-data pipeline ops) ----------

  /** Exact dedup by md5 fingerprint of the normalized token stream. */
  def q21DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(spark, dir).documents)
      .orderBy(col("fp"))

  /** N-gram Jaccard near-dup pairs via shingle inverted index. */
  def q22JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(spark, dir).documents,
      n = 3, threshold = 0.2)
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash + banded LSH candidate pairs, exact-Jaccard verified. */
  def q23MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(spark, dir).documents)
      .orderBy(col("id_a"), col("id_b"))

  /** Per-source fingerprint / length profile. */
  def q24SourceProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .withColumn("fp", fingerprint(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"))

  /** Brute-force cosine top-5 for 8 query vectors (ANN baseline;
    * corpus streams, query side broadcast). */
  def q25AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val queries = emb.where(col("id") < 8)
    Similarity.bruteForceTopK(queries, emb, k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** As-of join: each purchase picks up the user's most recent prior
    * signup (union-and-carry, one sort-shuffle — SURVEY §7.4). */
  def q26AsofJoin(spark: SparkSession, dir: String): DataFrame =
    purchaseAsofSignup(spark, dir, Analytics.asofJoin(_, _, "ts", _))

  /** q26's as-of contract through `join`: each purchase takes the
    * user's latest signup at or before it (q26/q74/q76). */
  private def purchaseAsofSignup(spark: SparkSession, dir: String,
      join: (DataFrame, DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val ev = events(spark, dir)
    def typed(t: String) = ev.where(col("event_type") === t)
      .select(col("event_id"), col("user_id"), col("ts"))
    join(typed("purchase"), typed("signup"), Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("asof_event_id"))
      .orderBy(col("event_id"))
  }

  /** Regex term extraction (reference P10/BQ17 `regexp_extract_all`
    * mention mining, re-targeted at the corpus vocabulary). */
  def q27ExtractTerms(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit("\\bs[a-z]+"), lit(0))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("term"))

  /** A3: HLL++ approximate distinct next to the exact count (the
    * reference's streaming-vs-batch split). No SQL oracle — HLL++
    * internals are engine-specific; driver does the rows-only check. */
  def q28ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** U2: heterogeneous alert union via unionByName(allowMissing) —
    * missing columns null-filled, with the SQ14 priority ladder. */
  def q29AlertUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        lit("error").as("alert_type"), lit("medium").as("priority"))
    val highValue = ev
      .where(col("event_type") === "purchase" && col("value") >= 150.0)
      .select(col("event_id"), col("user_id"),
        lit("high_value").as("alert_type"),
        when(col("value") >= 300.0, "critical")
          .when(col("value") >= 225.0, "high")
          .otherwise("medium").as("priority"),
        col("value"))
    errors.unionByName(highValue, allowMissingColumns = true)
      .orderBy(col("event_id"))
  }

  /** A11 consolidation: cube over (event_type, day) — the idiomatic
    * replacement for the reference's separate global/per-key queries.
    * Grouping nulls are coalesced to 'ALL' for engine-portable order. */
  def q30Cube(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day_name", date_format(col("ts"), "EEEE"))
      .cube(col("event_type"), col("day_name"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day_name"), lit("ALL")).as("day_name"),
        col("n"), col("total_value"))
      .orderBy(col("event_type"), col("day_name"))

  /** Sessionization: 30-min inactivity gap starts a new session
    * (batch analog of session windows; lag + running sum). */
  def q31Sessions(spark: SparkSession, dir: String): DataFrame =
    sessionized(events(spark, dir))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("sess_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** q31's sessionization of `ev`: a gap over 1800 s to the user's
    * previous event opens a session; adds `prev_ts`, `new_session` and
    * the running session id `sid` (one user-ordered sort). q163, q183,
    * q205, q207 and q209 build on it. */
  private def sessionized(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull
          || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > 1800, 1).otherwise(0))
      .withColumn("sid", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** A session's events in order: the window of in-session leads. */
  private val inSession = Window.partitionBy(col("user_id"), col("sid"))
    .orderBy(col("ts"), col("event_id"))

  /** Each session's [s, e] span in epoch seconds (q207/q209). */
  private def sessionSpans(ev: DataFrame): DataFrame =
    sessionized(ev)
      .groupBy(col("user_id"), col("sid"))
      .agg(min(unix_timestamp(col("ts"))).as("s"),
        max(unix_timestamp(col("ts"))).as("e"))

  /** Range join (equi key + time-range residual): views in the hour
    * before each purchase. Hash-joins on user_id, range as residual —
    * the scalable shape (no cross product). */
  def q32RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("vts"))
    p.join(v,
        col("user_id") === col("v_user")
          && col("vts") >= col("ts") - expr("INTERVAL 1 HOUR")
          && col("vts") < col("ts"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("vts")).as("n_prior_views"))
      .orderBy(col("event_id"))
  }

  /** Lag/lead analytics (§2.8 — absent in the reference, standard in
    * any temporal engine): inter-event gap stats per user. */
  def q33UserGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
      .groupBy(col("user_id"))
      .agg(
        count(col("gap_s")).as("n_gaps"),
        round(avg(col("gap_s")), 2).as("avg_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** Value histogram: fixed-width buckets + share of total. */
  def q34ValueHistogram(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("bucket", floor(col("value") / 50.0).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct", round(col("n") * 100.0 / sum(col("n")).over(), 2))
      .orderBy(col("bucket"))

  /** JSON property extraction from the events.props payload
    * (reference S2 from_json surface, batch flavor). */
  def q35PropsExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_bucket", col("k") % 10)
      .groupBy(col("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("k_bucket"))

  /** Multimodal plumbing over opaque binary payloads: documents text
    * bytes stand in for media content (UTF-8 → binary cast); frames are
    * 64-byte windows at stride 128, fingerprinted — schema/partition/
    * batch shape identical to a real image/audio pipeline with the
    * codec swapped in (operators.Multimodal). */
  def q36FrameProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val per = t(spark, dir).documents
      .select(col("source"), col("doc_id"),
        col("text").cast("binary").as("content"))
      .withColumn("frames",
        Multimodal.frameFingerprints(col("content")))
      .select(col("source"), col("doc_id"),
        length(col("content")).as("n_bytes"), size(col("frames")).as("n_frames"),
        col("frames"))
    val base = per.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_bytes")).as("total_bytes"),
      sum(col("n_frames")).as("total_frames"))
    val distinctFrames = per
      .select(col("source"), explode(col("frames")).as("f"))
      .groupBy(col("source"))
      .agg(countDistinct(col("f")).as("n_distinct_frames"))
    base.join(distinctFrames, Seq("source"), "left")
      .na.fill(0, Seq("n_distinct_frames"))
      .orderBy(col("source"))
  }

  /** Exact interpolated percentiles per group (both engines use linear
    * interpolation; rounded to absorb last-bit arithmetic differences). */
  def q37Percentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Semi/anti joins (EXISTS / NOT EXISTS): customer order coverage
    * per segment. left_semi/left_anti never materialize the right side
    * in the output — the scalable existence check. */
  def q38SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val c = tb.customer.select(col("c_custkey"), col("c_mktsegment"))
    val o = tb.orders.select(col("o_custkey"))
    val all = c.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    all.join(semi, Seq("c_mktsegment"), "left")
      .join(anti, Seq("c_mktsegment"), "left")
      .na.fill(0, Seq("n_with_orders", "n_without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Frame-spec windows (rowsBetween): cumulative revenue + 7-day
    * moving average over daily purchase totals. Runs in integer cents
    * so running sums are order-exact in any engine. The unpartitioned
    * window is safe here: input is the *daily* aggregate (≤ a few
    * thousand rows at any scale), not raw events. */
  def q39RunningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(fmtDate(col("ts")).as("day"))
      .agg(centsSum(col("value")).as("cents"), count(lit(1)).as("n"))
    val wAll = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("daily_value", col("cents") / 100.0)
      .withColumn("running_value", sum(col("cents")).over(wAll) / 100.0)
      .withColumn("ma7",
        round(sum(col("cents")).over(w7) / count(lit(1)).over(w7) / 100.0, 4))
      .select(col("day"), col("n"), col("daily_value"),
        col("running_value"), col("ma7"))
      .orderBy(col("day"))
  }

  /** SimHash-64 near-dup pairs: banded 16-bit buckets for candidates,
    * Hamming-verified (native SimHashBits expression; portable md5
    * bit derivation mirrored in the oracle). maxHamming=3 is the
    * 4-band pigeonhole recall bound — the operator enforces
    * maxHamming < bands so the emitted pair set is COMPLETE at the
    * declared distance, not silently partial. */
  def q40Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(spark, dir).documents,
      maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** IVF-bucketed ANN (the 100 TB path of q25): corpus vectors are
    * assigned to their nearest centroid, queries probe 2 nearest
    * centroid buckets. Centroids here are a deterministic subset
    * (vec_id % 250 == 0); at scale they come from a sampled k-means. */
  def q41AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val centroids = emb.where(col("id") % 250 === 0)
    val queries = emb.where(col("id") < 8)
    Similarity.ivfTopK(queries, emb, centroids, k = 5, nprobe = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** TF-IDF-style term importance: rarity-weighted score
    * tf/(df+1) — a single exact division so ranks are reproducible
    * across engines (the classic log form differs per libm). Top-3
    * terms per doc via partitioned rank. */
  def q42TfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir).documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score", round(col("tf") / (col("df") + 1.0), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** A11 rollup variant: hierarchical day → event_type totals. */
  def q43Rollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", fmtDate(col("ts")))
      .rollup(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
      .select(
        coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("day"), col("event_type"))

  /** Date arithmetic (reference §2.9: datediff/to_date — the account-
    * age computation re-targeted): ship delay in days per order status. */
  def q44ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    tb.lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(tb.orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus")), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("delay_days")), 2).as("avg_delay"),
        min(col("delay_days")).as("min_delay"),
        max(col("delay_days")).as("max_delay"))
      .orderBy(col("o_orderstatus"))
  }

  /** Reproducible stratified sampling: k docs per language, chosen by
    * keyed-hash order — the auditable replacement for rand()-based
    * sampling in corpus construction. */
  def q45StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedTopK(
        t(spark, dir).documents.select(col("doc_id"), col("lang"),
          col("source"), col("n_chars")))
      .select(col("lang"), col("sample_rank"), col("doc_id"),
        col("source"), col("n_chars"))
      .orderBy(col("lang"), col("sample_rank"))

  /** Corpus cleaning decision: the keep/drop ladder a training-data
    * pipeline applies per document (order matters — first reason wins),
    * built from the quality/language primitives. */
  def q46QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality", qualityScore(col("toks")))
      .withColumn("decision",
        when(size(col("toks")) < 10, "drop:too_short")
          .when(stopwordRatio(col("toks")) > 0.5, "drop:stopword_stuffed")
          .when(uniqueRatio(col("toks")) < 0.2, "drop:repetitive")
          .when(col("quality") < 0.5, "drop:low_quality")
          .otherwise("keep"))
    d.groupBy(col("lang"), col("decision"))
      .agg(count(lit(1)).as("n"), round(avg(col("quality")), 4).as("avg_q"))
      .orderBy(col("lang"), col("decision"))
  }

  /** Cross-modal verification: textual near-dup pairs (q22 pipeline)
    * joined to their embedding cosine — pairs that are near-dups in
    * BOTH modalities are high-confidence duplicates. Inner-joins the
    * (tiny) pair set against the embedding table twice. */
  def q47CrossModal(spark: SparkSession, dir: String): DataFrame = {
    val pairs =
      Dedup.jaccardPairs(t(spark, dir).documents, n = 3, threshold = 0.2)
    val emb = t(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("e").as("ea")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("e").as("eb")), Seq("id_b"))
      .withColumn("emb_sim",
        round(Similarity.cosine(col("ea"), col("eb")), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("emb_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------- reference-domain parity pack (q48-q51) ----------
  // The reference's tweet-analytics Column logic (TweetFunctions) run
  // over deterministic tweet-shaped columns synthesized from the
  // documents table — the fixtures carry no locations/mentions/device
  // strings, so each query derives them reproducibly from doc_id and
  // mirrors the derivation in its oracle. The *functions* carry the
  // exact reference semantics; ParityFunctionsSpec additionally pins
  // them against realistic inputs (emoji, blacklist hits, bots).

  /** Both divergent location cleaners side-by-side (streaming:
    * job4_locationsreal_time.py:132-162; batch: job1_locations.py:
    * 68-93 — kept separate per SURVEY §5.5 #6). The synthesized
    * locations exercise every filter arm; 'Rio' (len 3) and
    * 'Wallet City' (batch keyword hit) survive exactly one variant. */
  def q48LocationClean(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TweetFunctions._
    val m = col("doc_id") % 8
    val d = t(spark, dir).documents.withColumn("loc",
      when(m === 0, lit(null).cast("string"))
        .when(m === 1, lit("Unknown"))
        .when(m === 2, concat(lit("#"), col("source")))
        .when(m === 3, concat(lit("http://"), col("source")))
        .when(m === 4, lit("NY"))
        .when(m === 5, lit("Rio"))
        .when(m === 6, lit("Wallet City"))
        .otherwise(concat(col("source"), lit(" city"))))
    def variant(name: String, cleaner: Column => Column): DataFrame =
      d.select(cleaner(col("loc")).as("lc"))
        .where(col("lc").isNotNull)
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("lc")).as("n_distinct"))
        .select(lit(name).as("variant"), col("n_kept"), col("n_distinct"))
    variant("batch", cleanLocationBatch)
      .unionByName(variant("streaming", cleanLocationStreaming))
      .orderBy(col("variant"))
  }

  /** Spam flags + composite 0-3 score + high-risk filter per source
    * (job4_spam.py:81-199). Deterministic URL/short-tweet injection so
    * every flag arm fires on the synthetic corpus. */
  def q49SpamProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TweetFunctions._
    val d = t(spark, dir).documents.withColumn("tweet",
      when(col("doc_id") % 13 === 0, lit("Act now! Win FREE bonus"))
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" see https://promo.example/x")))
        .otherwise(col("text")))
      .withColumn("score", spamScore(col("tweet")))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(containsUrl(col("tweet")), 1).otherwise(0)).as("with_urls"),
        sum(when(isSpamKeyword(col("tweet")), 1).otherwise(0)).as("spam_docs"),
        sum(when(isVeryShort(col("tweet")), 1).otherwise(0)).as("very_short"),
        round(avg(spamWordCount(col("tweet"))), 2).as("avg_words"),
        sum(when(col("score") >= 2, 1).otherwise(0)).as("high_risk"))
      .orderBy(col("source"))
  }

  /** Device/bot categorization ladder + per-language share
    * (job2_historico.py:145-158; bot list job2_historico.py:23-28).
    * Synthesized source strings hit every ladder arm including the
    * bot-regex-before-platform precedence. */
  def q50DeviceProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TweetFunctions._
    val m = col("doc_id") % 8
    val d = t(spark, dir).documents.withColumn("src",
      when(m === 0, lit("Twitter Web App"))
        .when(m === 1, lit("Twitter for Android"))
        .when(m === 2, lit("Twitter for iPhone"))
        .when(m === 3, lit("IFTTT"))
        .when(m === 4, lit("crypto feed aggregator"))
        .when(m === 5, lit("TweetDeck"))
        .when(m === 6, lit("Twitter for Mac"))
        .otherwise(lit("Mobile Web")))
      .withColumn("device_category", deviceCategory(col("src")))
    val byLang = Window.partitionBy(col("lang"))
    d.groupBy(col("lang"), col("device_category"))
      .agg(count(lit(1)).as("n"), countDistinct(col("src")).as("n_sources"))
      .withColumn("pct",
        round(col("n") * 100.0 / sum(col("n")).over(byLang), 2))
      .orderBy(col("lang"), col("device_category"))
  }

  /** `@mention` extraction with the reference's exact regex
    * `@([A-Za-z0-9_]+)` (job5_menciones.py:75-78), explode + tally. */
  def q51Mentions(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TweetFunctions._
    val d = t(spark, dir).documents.withColumn("tweet",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" @user"),
          (col("doc_id") % 25).cast("string"), lit(" and @Crypto_Bot99")))
        .otherwise(col("text")))
    d.select(col("doc_id"),
        explode(extractMentions(col("tweet"))).as("mention"))
      .where(col("mention") =!= "")
      .groupBy(col("mention"))
      .agg(count(lit(1)).as("mention_count"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("mention"))
  }

  /** T9 with an ORACLE ROW: the chained stateful streaming topology
    * (stateful hf detector ∪ stateless alerts → second windowed agg,
    * append mode) replayed batch-deterministically through the REAL
    * streaming engine and checked against a DuckDB window oracle.
    *
    * Determinism construction: the whole events table lands as ONE
    * parquet file, plus a second "clock" file holding a single
    * alert-free view event at the same max timestamp; with
    * maxFilesPerTrigger=1 the file source runs exactly two micro-
    * batches in mtime order. Append emission in batch 2 then uses the
    * batch-1 watermark wm = max(ts) - 2 min for every stage (stage-1
    * finalized windows flow through stage 2 in the same batch —
    * Spark ≥3.4 watermark propagation), so the emitted set is exactly
    * "sliding windows with end <= wm" — a pure SQL predicate.
    * (A single AvailableNow pass emits nothing: the final watermark
    * is computed after the last batch — see JobsSpec's backfill test.)
    */
  /** Stage the deterministic two-file replay input for batch-replayable
    * streaming queries: one data file with the full events table, one
    * "clock" file whose single row carries max(ts) so the watermark
    * advances past every finalizable window on the second micro-batch.
    * Built once per (tag, sf-dir) and reused across runs/samples — in
    * production the files already exist; landing them is scaffolding,
    * not the measured operator. Returns the glob base directory. */
  private def stagedReplay(spark: SparkSession, dir: String,
      tag: String): java.io.File = {
    val ev = events(spark, dir)
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_in_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val dataDir = new java.io.File(base, "data")
    val clockDir = new java.io.File(base, "clock")
    def ready(d: java.io.File) = new java.io.File(d, "_SUCCESS").exists
    def stamp(d: java.io.File, t: Long): Unit = d.listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(t))
    if (!(ready(dataDir) && ready(clockDir))) {
      ev.coalesce(1).write.mode("overwrite")
        .parquet(dataDir.getAbsolutePath)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, maxTs, -1L, "view", 0.0, "{}")),
        ev.schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(clockDir.getAbsolutePath)
      // one file per micro-batch, mtimes force (data, clock) order
      val t0 = System.currentTimeMillis()
      stamp(dataDir, t0 - 120000)
      stamp(clockDir, t0 - 60000)
    }
    base
  }

  /** The replay's scale-adaptive state-partition derivation, pure for
    * testability: one partition per 4 MB of staged input, floor 4,
    * capped at the session's configured shuffle partitions. Grows with
    * data, never exceeds the cluster-tuned value. */
  private[graft] def replayStateParts(stagedBytes: Long, confParts: Int): Int =
    math.max(4L, (stagedBytes + (4L << 20) - 1) / (4L << 20))
      .min(confParts.toLong).toInt

  /** Shared AvailableNow replay harness for the streaming-semantics
    * oracle queries (q52/q73/q105): stream the staged data+clock
    * layout through `pipeline`, sink to a fresh checkpointed parquet
    * dir, and read the watermark-finalized append output back. The
    * returned frame reads the temp dir LAZILY — it must outlive
    * consumption, so the harness cannot delete it eagerly; instead
    * every dir is registered for JVM-exit deletion so repeated bench
    * runs (n samples × 3 replay queries × SFs) do not accumulate
    * parquet+checkpoint dirs under java.io.tmpdir across processes. */
  private def replayToParquet(spark: SparkSession, dir: String,
      tag: String)(pipeline: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = events(spark, dir)
    val base = stagedReplay(spark, dir, tag)
    val tmpFile = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
      .toFile
    deleteRecursivelyOnExit(tmpFile)
    val tmp = tmpFile.getAbsolutePath
    // Scale-adaptive state partitioning (guide §2: derive partitioning
    // from input size, not a constant): the stateful operators in the
    // replayed topology create one state-store instance PER SHUFFLE
    // PARTITION per operator per micro-batch — each with fixed
    // provider/commit/file overhead that dwarfs the per-row work on a
    // bounded replay (measured at sf0.1: the three q132 join stages ran
    // 32 tasks × ~2 s of state overhead on < 1 MB of rows; 8.3 s →
    // 3.0 s wall with right-sized partitions). Partitions derive from
    // the staged input bytes and are capped by the session's configured
    // shuffle partitions, so a production-size replay keeps the
    // cluster-tuned value. The stream runs on a clone of the caller's
    // session that carries the count (the caller's session is never
    // written; the clone keeps its time zone, which `fmtTs` reads inside
    // the stream); a fresh checkpoint per invocation means no stored
    // state-partition count can conflict.
    val stagedBytes = {
      def sz(d: java.io.File): Long = Option(d.listFiles())
        .map(_.filter(_.getName.endsWith(".parquet")).map(_.length).sum)
        .getOrElse(0L)
      sz(new java.io.File(base, "data")) + sz(new java.io.File(base, "clock"))
    }
    val replay = org.apache.spark.sql.graftbridge.PlanBridge.cloneSession(spark)
    replay.conf.set("spark.sql.shuffle.partitions", replayStateParts(stagedBytes,
      spark.sessionState.conf.numShufflePartitions).toLong)
    val stream = replay.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.getAbsolutePath + "/*")
    val q = pipeline(stream).writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/chk")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$tmp/out")
  }

  private def deleteRecursivelyOnExit(d: java.io.File): Unit =
    graft.operators.TempDirs.deleteRecursivelyOnExit(d)

  def q52ChainedMetrics(spark: SparkSession, dir: String): DataFrame =
    replayToParquet(spark, dir, "q52")(stream =>
      graft.streaming.StreamOps.chainedAlertMetrics(stream)
        .select(
          fmtTs(col("window_start")).as("window_start"),
          fmtTs(col("window_end")).as("window_end"),
          col("alert_type"), col("n_alerts")))
      .orderBy(col("window_start"), col("alert_type"))

  /** U3: intersect / except (absent in the reference; completes the
    * §2.6 set-operation family). Both are DISTINCT-semantics set ops —
    * one shuffle on the full row as key, the scalable cohort shape. */
  def q53SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    def users(t: String) =
      ev.where(col("event_type") === t).select(col("user_id"))
    val both = users("purchase").intersect(users("signup"))
      .select(lit("purchase_and_signup").as("cohort"), col("user_id"))
    val clean = users("view").except(users("error"))
      .select(lit("view_never_error").as("cohort"), col("user_id"))
    both.unionByName(clean).orderBy(col("cohort"), col("user_id"))
  }

  /** Embedding-cosine similar-pair mining (the embedding-space analog
    * of q22's text pair mining): IVF-bucketed self-join, 2-probe
    * assignment. Centroids are the deterministic vec_id % 100 subset;
    * at scale they come from a sampled `Similarity.fitCentroids`. */
  def q54EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    embedGraphPairs(spark, dir, 0.35).orderBy(col("id_a"), col("id_b"))

  /** q54's near-dup embedding graph: IVF-bucketed cosine self-join,
    * 2-probe assignment, centroids the vec_id % 100 subset. q54/q81
    * and [[graft.operators.PairTable.embedPairs]] mine it at 0.35,
    * q102/q167/q171/q182 at 0.30 (via [[embedGraph]]). */
  private[graft] def embedGraphPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val emb = vectors(spark, dir)
    Similarity.cosineNearDupPairs(emb, emb.where(col("id") % 100 === 0),
      threshold = threshold)
  }

  /** The 0.30 embedding graph's canonical (id_a < id_b) edge list,
    * persisted: every graph query reads it more than once. */
  private def embedGraph(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Caches.persistTracked(
      embedGraphPairs(spark, dir, 0.30).select(col("id_a"), col("id_b")))

  /** The symmetric (src, dst) edge list of canonical pairs. */
  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  /** Triangles per node of a canonical pair set: one wedge join keyed
    * on the shared node and one semi join to close each wedge, so each
    * triangle counts once (q102/q167). */
  private def triangleCounts(pairs: DataFrame): DataFrame = {
    val wedges = pairs.join(
      pairs.select(col("id_a").as("id_b"), col("id_b").as("id_c")),
      Seq("id_b"))
    wedges.join(pairs.select(col("id_a"), col("id_b").as("id_c")),
        Seq("id_a", "id_c"), "left_semi")
      .select(explode(array(col("id_a"), col("id_b"), col("id_c")))
        .as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** The deterministic k-means fit EXPOSED to the oracle: 2 Lloyd
    * iterations, k=4, init = the 4 lowest-id vectors, output = the
    * exploded centroid coordinates. Because every arithmetic step is
    * engine-portable (fixed-point long mean, 6-dp-rounded cosine
    * assignment with centroid-id tie-break), even the ITERATIVE fit
    * is differential-checkable — the DuckDB oracle replays both
    * iterations in SQL. */
  def q55KmeansFit(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    Similarity.fitCentroids(emb, k = 4, iters = 2)
      .select(col("cent_id"), posexplode(col("cent_v")))
      .select(col("cent_id"), col("pos"), round(col("col"), 6).as("m"))
      .orderBy(col("cent_id"), col("pos"))
  }

  /** Winnowed rolling-hash fingerprint profile (SIGMOD'03 winnowing,
    * native [[graft.expressions.WinnowFingerprints]] — Rabin-Karp
    * base-131 mod 2^31-1 over 8-codepoint windows, min of each 4-hash
    * run): the 8-char fragments selected into the most documents'
    * sketches. The corpus-wide shared-fragment census a fuzzy-dedup
    * pass starts from. */
  def q56WinnowShared(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(explode(graft.expressions.TextExpressions
        .winnowFingerprints(col("text"), 8, 4)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("fp"))
      .limit(20)

  /** BPE-ish token-cost profile per language: pre-tokenizer match
    * counts (the standard corpus-cost proxy) vs whitespace word counts,
    * with the bpe/word "fertility" ratio. */
  def q57TokenCost(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("lang"),
        bpeTokenCount(col("text")).cast("long").as("bpe"),
        wordCount(col("text")).cast("long").as("ws"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("ws")).as("ws_tokens"),
        round(avg(col("bpe")), 2).as("avg_bpe_per_doc"),
        round(sum(col("bpe")) / sum(col("ws")), 4).as("fertility"))
      .orderBy(col("lang"))

  /** Fuzzy near-dup pairs: winnow-fingerprint blocking + Levenshtein
    * verification ([[Dedup.editDistancePairs]], the MOSS shape). */
  def q58EditDistancePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(t(spark, dir).documents)
      .orderBy(col("id_a"), col("id_b"))

  /** Reproducible train/val/test split assignment: md5-keyed hash
    * buckets (first two hex chars → 256 buckets; f0/f8 cuts give a
    * 93.75/3.125/3.125 split), with per-split document and token
    * volume and corpus share. Deterministic in any engine — the split
    * a doc lands in never depends on partitioning or ordering. */
  def q59SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(
      md5(concat_ws("|", lit("split-seed"), col("doc_id"))), 1, 2)
    val split = when(bucket < "f0", "train")
      .when(bucket < "f8", "val")
      .otherwise("test")
    val perSplit = t(spark, dir).documents
      .select(split.as("split"), wordCount(col("text")).cast("long").as("ws"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
    perSplit
      .withColumn("doc_share",
        round(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 4))
      .orderBy(col("split"))
  }

  /** Benchmark-contamination check: training docs sharing word-3-gram
    * shingles with the held-out benchmark slice (doc_id % 50 == 0).
    * Posting-list join benchmark×train (never all-pairs; the benchmark
    * side is small by construction, the train side streams). */
  def q60Contamination(spark: SparkSession, dir: String): DataFrame = {
    val sets = Dedup.shingleSets(t(spark, dir).documents, 3)
    val post = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val bench = post.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val train = post.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), col("shingle"))
    train.join(bench, Seq("shingle"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .groupBy(col("train_id"))
      .agg(
        countDistinct(col("bench_id")).as("n_bench_docs"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("total_shared"))
      .where(col("max_shared") >= 2)
      .orderBy(col("train_id"))
  }

  /** Bloom-pruned semi join ([[operators.Bloom]]): lineitems of
    * top-priced orders (~2% of orders), revenue per return flag. The
    * bloom sketch prunes the fact scan before the shuffle; the exact
    * semi join removes false positives, so the result is identical to
    * the plain semi join the oracle runs. */
  def q61BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    val topOrders = tt.orders.where(col("o_totalprice") > 490000.0)
    operators.Bloom.bloomPrunedSemiJoin(
        tt.lineitem, topOrders, "l_orderkey", "o_orderkey",
        expectedItems = 10000L)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** GROUPING SETS aggregation (completes the cube/rollup family with
    * the explicit-set form): (type, day), (type), (day) — but NOT the
    * grand total, which only the explicit form can express. */
  def q62GroupingSets(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day_name", date_format(col("ts"), "EEEE"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day_name")),
          Seq(col("event_type")), Seq(col("day_name"))),
        col("event_type"), col("day_name"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day_name"), lit("ALL")).as("day_name"),
        col("n"), col("total_value"))
      .orderBy(col("event_type"), col("day_name"))

  /** The 100 TB IVF shape end-to-end: centroids fitted on a
    * DETERMINISTIC hash sample (md5 first hex < '4' → 25% of vectors;
    * reproducible in any engine, unlike rand()), one Lloyd iteration,
    * then the full corpus is only touched by the final bucket
    * assignment + probe — the sampled-fit path
    * [[Similarity.fitCentroids]]'s doc promises. Oracle replays the
    * sampled fit AND the probe in SQL. */
  def q63SampledFit(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val sample = emb.where(
      substring(md5(concat_ws("|", lit("fit-seed"), col("id"))), 1, 1) < "4")
    val cents = Similarity.fitCentroids(sample, k = 4, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    val queries = emb.where(col("id") < 8)
    Similarity.ivfTopK(queries, emb, cents, k = 5, nprobe = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Balanced output sharding for training-data export: ntile over a
    * deterministic keyed-hash order gives shards of equal size (vs
    * q59's hash buckets, which are only balanced in expectation).
    * The global sort is one total-order shuffle — at 100 TB this is
    * `repartitionByRange` on the same hash key; ntile here keeps the
    * shard id oracle-checkable. */
  def q64ShardAssign(spark: SparkSession, dir: String): DataFrame = {
    // ntile over the full corpus in hash order — computed TWO-PHASE
    // (Analytics.globalRunning): a literal global ntile window would
    // funnel every document through one sort task; here the only
    // unpartitioned window runs on the spark_partition_id offset
    // frame (≤ shuffle partitions rows) and the shard is derived
    // from the exact global rank — bit-identical assignment.
    val base = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(col("doc_id"), wordCount(col("text")).cast("long").as("ws"))
        .withColumn("__k",
          md5(concat_ws("|", lit("shard-seed"), col("doc_id")))))
    val total = base.agg(count(lit(1)).as("__n"))
    Analytics.globalRunning(base, Seq(col("__k"), col("doc_id")),
        rankOut = Some("__rk"))
      .crossJoin(broadcast(total))
      .withColumn("shard",
        Analytics.ntileFromRank(col("__rk"), col("__n"), 8))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  /** Unpivot/melt — the inverse of A8's pivot, completing the reshape
    * family: lineitem measures to long form, then per-(flag, measure)
    * stats. Spark's native `unpivot` is a single Expand (one pass, no
    * re-scans); the oracle uses the portable UNION ALL formulation.
    * The mean goes through 1e-4-quantum fixed-point longs (same
    * determinism rule as money). */
  def q65Unpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(round(col("val") * 10000).cast("long")).cast("double")
          / 10000.0 / count(lit(1)), 4).as("avg_val"),
        round(min(col("val")), 4).as("min_val"),
        round(max(col("val")), 4).as("max_val"))
      .orderBy(col("l_returnflag"), col("measure"))

  /** Gopher/C4-style repetition quality filters per language: the
    * top-bigram fraction (share of words covered by the most frequent
    * word bigram) and the duplicate-word fraction (1 − distinct/total).
    * Per-doc fractions go through 1e6-quantum fixed-point (floor) so
    * flag cuts and averages are bit-identical across engines.
    * Scale shape: explode → two keyed aggregations, no self-join; the
    * per-doc bigram mode is a (doc, bigram) groupBy — AQE-balanced,
    * never a driver-side histogram. */
  def q66RepetitionQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
      .withColumn("ws", size(col("tk")))
      .withColumn("nd", size(array_distinct(col("tk"))))
      .where(col("ws") >= 2)
    val topBg = d
      .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bg"))
    d.join(topBg, Seq("doc_id"))
      .select(col("lang"),
        floor(col("top_bg") * 2.0 * 1000000.0 / col("ws")).as("top_fp"),
        floor((col("ws") - col("nd")) * 1000000.0 / col("ws")).as("dup_fp"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("top_fp") >= 200000, 1L).otherwise(0L))
          .as("n_flag_bigram"),
        sum(when(col("dup_fp") >= 300000, 1L).otherwise(0L))
          .as("n_flag_dup"),
        round(sum(col("top_fp")).cast("double") / count(lit(1)) / 1000000.0, 4)
          .as("avg_top_bigram_frac"),
        round(sum(col("dup_fp")).cast("double") / count(lit(1)) / 1000000.0, 4)
          .as("avg_dup_word_frac"))
      .orderBy(col("lang"))
  }

  /** Deterministic PII-bearing variant of the corpus: the synthetic
    * documents carry no emails/URLs/numbers, so PII spans are salted in
    * as a pure function of doc_id (no randomness, no external data) —
    * both engines derive the identical corpus and the redaction paths
    * get exercised for real. */
  private def saltedPiiText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" see https://www.site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.org/page"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" ref "),
          lpad(col("doc_id").cast("string"), 8, "0"))).otherwise(lit("")))

  /** PII scrubbing profile per language ([[redactPii]]): match counts
    * per pattern class and total characters removed. Map-only pass —
    * the 100 TB shape is scan → regex → partial agg, one shuffle of
    * 5 tiny rows. */
  def q67RedactProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("lang"), saltedPiiText.as("salted"))
      .select(col("lang"), col("salted"),
        redactPii(col("salted")).as("clean"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(regexp_count(col("salted"), lit(EmailPattern)).cast("long"))
          .as("n_emails"),
        sum(regexp_count(col("salted"), lit(UrlPattern)).cast("long"))
          .as("n_urls"),
        sum(regexp_count(col("salted"), lit(LongDigitPattern)).cast("long"))
          .as("n_digit_runs"),
        sum((length(col("salted")) - length(col("clean"))).cast("long"))
          .as("chars_removed"))
      .orderBy(col("lang"))

  /** Link-domain profile: extract every URL host from the (salted)
    * corpus, count references and distinct referring docs per domain.
    * regexp_extract_all → explode → one keyed aggregation. */
  def q68DomainProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("doc_id"),
        explode(regexp_extract_all(saltedPiiText,
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("domain"))

  /** Token-budget sequence packing for training shards: docs are
    * ordered by a deterministic keyed hash WITHIN 16 coarse hash
    * buckets (first md5 hex char), a running token sum packs each
    * bucket greedily into 4000-token shards (a doc belongs to the
    * shard where it STARTS). Output: per-(bucket, shard) fill.
    *
    * Scale shape: the running sum is a window PARTITIONED by bucket —
    * 16-way (or 4096-way) parallel, never the single-reducer global
    * cumsum a naive packer uses. q64's ntile balances counts; this
    * balances token budget, which is what sequence packing needs. */
  def q69PackShards(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat_ws("|", lit("pack-seed"), col("doc_id")))
    val w = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    t(spark, dir).documents
      .select(col("doc_id"), wordCount(col("text")).cast("long").as("ws"),
        h.as("h"))
      .withColumn("bucket", substring(col("h"), 1, 1))
      .withColumn("cum", sum(col("ws")).over(w))
      .withColumn("shard",
        floor((col("cum") - col("ws")).cast("double") / 4000.0).cast("int"))
      .groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
      .orderBy(col("bucket"), col("shard"))
  }

  /** Containment near-dup pairs ([[Dedup.overlapPairs]]): overlap
    * coefficient |A∩B|/min(|A|,|B|) ≥ 0.5 — catches short docs embedded
    * in long ones, which Jaccard dilutes. Same inverted-index +
    * stop-shingle machinery as q22. */
  def q70OverlapPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.overlapPairs(t(spark, dir).documents)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup cluster collapse ([[Dedup.connectedComponents]]): q22's
    * jaccard pairs → connected components by min-label propagation →
    * per-cluster membership. A~B and B~C collapse into one cluster with
    * the min doc id as survivor even when A~C was never an emitted
    * pair — the transitive step every dedup pipeline needs between
    * pair mining and row dropping. */
  def q71DedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterSizes(Dedup.connectedComponents(textPairs(t(spark, dir).documents)))

  /** q22's near-dup pairs: word-3-gram jaccard >= 0.2, stop-shingle
    * cap 1000 (q71/q85/q91/q92/q93). */
  private def textPairs(docs: DataFrame): DataFrame =
    Dedup.jaccardPairs(docs, n = 3, threshold = 0.2)

  /** Per-cluster member count and max member of CC labels
    * (q71/q81/q92). */
  private def clusterSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
      .orderBy(col("cluster_id"))

  /** Incremental-ingest dedup: the `doc_id % 10 == 7` slice plays the
    * incoming batch, the rest the already-indexed corpus. Each incoming
    * doc is classified `exact_dup` (fingerprint already indexed — one
    * semi join on md5), else `near_dup` (jaccard ≥ 0.5 against a corpus
    * doc via the incoming×corpus shingle posting join — never all-pairs,
    * corpus side carries the `maxDf` stop-shingle guard), else `new`.
    * At 100 TB the corpus fingerprint set and posting list are the
    * persistent index; only the (small) incoming batch is scanned fresh
    * — the join fans out by shingle, not by corpus size. */
  def q72IncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    val incoming = d.where(pmod(col("doc_id"), lit(10)) === 7)
    val corpus = d.where(pmod(col("doc_id"), lit(10)) =!= 7)
    val exactIds = incoming
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .join(corpus.select(fingerprint(col("text")).as("fp")).distinct(),
        Seq("fp"), "leftsemi")
      .select(col("doc_id"), lit(true).as("ex"))
    val inPost = Dedup.shingleSets(incoming, 3)
      .select(col("doc_id").as("in_id"), col("n_sh").as("na"),
        explode(col("sh")).as("shingle"))
    val corpPost = Dedup.shingleSets(corpus, 3)
      .select(col("doc_id").as("corp_id"), col("n_sh").as("nb"),
        explode(col("sh")).as("shingle"))
    val keep = corpPost.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).where(col("df") <= 1000)
      .select(col("shingle"))
    val nearIds = inPost
      .join(corpPost.join(keep, Seq("shingle")), Seq("shingle"))
      .groupBy(col("in_id"), col("corp_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")) >= 0.5)
      .select(col("in_id").as("doc_id")).distinct()
      .withColumn("nr", lit(true))
    incoming.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex"), "exact_dup")
          .when(col("nr"), "near_dup")
          .otherwise("new").as("decision"))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("decision"))
  }

  /** T4 session windows, oracle-checked: the events table replayed as
    * an AvailableNow stream (data file, then a clock file that pushes
    * the watermark past every closable session), through
    * [[graft.streaming.StreamOps.sessionRollup]] — per-user sessions
    * closing after 10 min of event-time inactivity, exact counts,
    * integer-cents totals. The DuckDB oracle recomputes the identical
    * sessions with batch gaps-and-islands (lag + running break sum) and
    * keeps only sessions the 2-min watermark would have finalized —
    * proving the streaming session semantics, not just testing them. */
  def q73SessionReplay(spark: SparkSession, dir: String): DataFrame =
    replayToParquet(spark, dir, "q73")(stream =>
      graft.streaming.StreamOps.sessionRollup(
          graft.streaming.StreamOps.watermarked(stream))
        .select(
          fmtTs(col("session_start")).as("session_start"),
          fmtTs(col("session_end")).as("session_end"),
          col("user_id"), col("n_events"), col("total_value")))
      .orderBy(col("session_start"), col("user_id"))

  /** q26's as-of join on the dedicated physical operator
    * ([[graft.plans.AsOfJoinExec]] via [[Analytics.asofJoinExec]]) —
    * same DuckDB ASOF oracle, so the custom LogicalPlan → Strategy →
    * SparkPlan path is hash-verified end-to-end, not just unit-tested. */
  def q74AsofExec(spark: SparkSession, dir: String): DataFrame =
    purchaseAsofSignup(spark, dir, Analytics.asofJoinExec(_, _, "ts", _))

  /** SCD2-style temporal-validity join: signup events become validity
    * intervals per user ([ts, next-signup ts) via lead()), purchases
    * join the interval covering their timestamp. The plan is an
    * equi-join on user_id with the range as a cheap residual — the q32
    * shape, never a cartesian. Output: per-interval purchase rollup. */
  def q75Scd2Join(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // both sides project `ev`: the interval key is renamed so the join
    // condition compares two attributes, not one with itself
    val intervals = ev.where(col("event_type") === "signup")
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("event_id").as("interval_id"),
        col("user_id").as("iv_user_id"),
        col("ts").as("valid_from"), col("valid_to"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    purchases.join(intervals,
        col("user_id") === col("iv_user_id") &&
          col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_purchases"), money(col("value")).as("revenue"))
      .orderBy(col("interval_id"))
  }

  /** q26's as-of join in the BROADCAST regime
    * ([[Analytics.asofJoinBroadcast]]): the signup dimension collapses
    * to one sorted array per user and rides a broadcast hash join — no
    * shuffle of the purchase stream at all. Third implementation of
    * the same oracle semantics (carry q26, merge exec q74), one per
    * scale regime. */
  def q76AsofBroadcast(spark: SparkSession, dir: String): DataFrame =
    purchaseAsofSignup(spark, dir, Analytics.asofJoinBroadcast)

  /** Completes the §2.8 window family: rank, dense_rank, percent_rank,
    * cume_dist (over value DESC — ties share ranks, so no tie-break
    * column is needed for determinism) and nth_value over the full
    * frame (2nd-highest per user; the (value, event_id) ordering makes
    * the nth row unique). percent_rank/cume_dist are exact rationals —
    * round(6) is bit-stable in both engines. */
  def q77WindowFamily(spark: SparkSession, dir: String): DataFrame = {
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc)
    val full = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(spark, dir)
      .where(col("user_id") < 5)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rnk", rank().over(byValue))
      .withColumn("drnk", dense_rank().over(byValue))
      .withColumn("prnk", round(percent_rank().over(byValue), 6))
      .withColumn("cd", round(cume_dist().over(byValue), 6))
      .withColumn("second_highest", nth_value(col("value"), 2).over(full))
      .orderBy(col("user_id"), col("rnk"), col("event_id"))
  }

  /** Corrupt-record quarantine: the events props JSON with a
    * deterministic corruption salt (event_id % 13 → truncated JSON),
    * parsed PERMISSIVE via from_json — unparseable rows route to the
    * quarantine side, parsed rows keep their extracted payload. The
    * standard bad-record pattern for 100 TB ingest: one map-only pass,
    * the quarantine split is a column, not a second scan. */
  def q78JsonQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val salted = when(pmod(col("event_id"), lit(13)) === 0,
      concat(lit("{"), col("props"))).otherwise(col("props"))
    val parsed = from_json(salted,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType))))
    events(spark, dir)
      .select(col("event_id"), parsed.getField("k").as("k"))
      .select(
        when(col("k").isNull, "quarantine").otherwise("ok").as("decision"),
        col("k"))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("k"), lit(0)).cast("long")).as("k_total"))
      .orderBy(col("decision"))
  }

  /** Modern aggregate family (completes §2.5 breadth): count_if,
    * bool_and/bool_or, exact interpolated median. value is a parquet
    * double, so median's (a+b)/2 interpolation is bit-identical across
    * engines; round(4) guards the display. */
  def q79AggFamily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("value") > 100.0).as("n_high"),
        bool_and(col("value") >= 0.0).as("all_nonneg"),
        bool_or(col("value") > 190.0).as("any_extreme"),
        round(median(col("value")), 4).as("median_value"))
      .orderBy(col("event_type"))

  /** Per-user daily gap fill + forward fill: build each user's full
    * day spine (sequence + explode — generate_series in the oracle),
    * left-join observed daily revenue, then carry the last non-null
    * value forward (window last(ignoreNulls)). The standard
    * time-series featurization pattern; one window per user, keyed
    * shuffles only, spine generation is column algebra (no driver
    * loop). Users 0-4 keep the result compact. */
  def q80ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .where(col("user_id") < 5 && col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(money(col("value")).as("revenue"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_revenue",
        last(col("revenue"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("revenue").isNotNull)
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("filled_revenue"), col("is_observed"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Embedding near-dup CLUSTERS: q54's cosine pair mining composed
    * with [[Dedup.connectedComponents]] — the end-to-end shape of
    * embedding-level dedup (mine pairs in IVF buckets, collapse the
    * pair graph, keep one doc per cluster). Oracle replays the pair
    * SQL and closes it with a recursive CTE. The collapse uses the
    * O(log diameter) star contraction: the embedding similarity graph
    * is measurably DEEPER than the text near-dup graph (chained
    * cosine neighborhoods), and star converges in fewer rounds than
    * min-label propagation there (measured ~25% faster at sf0.1 —
    * the closure oracle is algorithm-independent). */
  def q81EmbedClusters(spark: SparkSession, dir: String): DataFrame =
    clusterSizes(
      Dedup.connectedComponentsStar(embedGraphPairs(spark, dir, 0.35)))

  /** Robust-stats outlier profile: per event type, exact quartiles,
    * IQR, and the count of rows outside the 1.5×IQR Tukey fences. Two
    * scans (quartiles need the full distribution before fences can be
    * tested) but the second is a map-only pass against the BROADCAST
    * fence table — the big side is never shuffled twice. */
  def q82IqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val fences = ev.groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .select(col("event_type"), col("q1"), col("q3"),
        (col("q3") - col("q1")).as("iqr"))
    ev.join(broadcast(fences), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(first(col("q1")), 4).as("q1"),
        round(first(col("q3")), 4).as("q3"),
        sum(when(col("value") < col("q1") - lit(1.5) * col("iqr")
          || col("value") > col("q3") + lit(1.5) * col("iqr"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Retention cohorts: users grouped by first-activity week, counted
    * by distinct activity week offset — the classic triangle matrix.
    * Two keyed aggregations + one join on user_id; no self-join of the
    * full event stream. */
  def q83RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firstWk = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    ev.join(firstWk, Seq("user_id"))
      .select(col("user_id"), col("cohort_wk"),
        floor(datediff(col("wk"), col("cohort_wk")) / 7).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Sessionized conversion funnel: within each q31-style activity
    * session (30-min gap), did a view precede a purchase? Stages
    * counted per session; conversion = sessions where the first view
    * is strictly before the first purchase. Window sessionization +
    * one aggregation — the funnel never joins the event stream to
    * itself. */
  def q84SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessioned = events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull
          || col("ts").cast("long") - col("prev_ts").cast("long") >= 1800,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    sessioned
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_buy"))
      .select(
        when(col("first_view").isNull, "no_view")
          .when(col("first_buy").isNull, "view_only")
          .when(col("first_view") < col("first_buy"), "converted")
          .otherwise("buy_first").as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("funnel_stage"))
  }

  /** Dedup survivorship ("golden record"): q22 pairs → q71 clusters →
    * one merged record per cluster — the survivor keeps the minimum id,
    * the longest text length wins the content slot, and the member
    * sources merge into a sorted distinct list. Completes the dedup
    * pipeline: mine → collapse → merge. */
  def q85SurvivorMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    survivors(Dedup.connectedComponents(textPairs(docs)), docs)
  }

  /** q85's golden record per cluster of `labels`: member count, the
    * longest text length, the sorted distinct member sources
    * (q85/q111). */
  private def survivors(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.join(docs, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(length(col("text"))).cast("long").as("best_text_len"),
        array_join(array_sort(collect_set(col("source"))), ",")
          .as("merged_sources"))
      .orderBy(col("cluster_id"))

  /** TPC-H Q5-shaped star join — the 5-table relational depth marker:
    * region → nation → customer → orders → lineitem, revenue per
    * nation for one region and a date slice. The two tiny dims ride
    * broadcasts; the orders date filter is pushed to the scan; AQE
    * re-plans the two big joins. */
  def q86StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    tt.lineitem
      .join(tt.orders.where(col("o_orderdate") >= "1996-01-01"
        && col("o_orderdate") < "1998-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tt.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(tt.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tt.region.where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** The SQL-string surface (every other catalog query is built with
    * the DataFrame API): TPC-H Q22-shaped correlated subqueries — a
    * scalar subquery (above-average balance) and a correlated NOT
    * EXISTS (never ordered), decorrelated by Catalyst into the
    * aggregate + anti-join plan a hand-built DataFrame would produce.
    * The temp views live on a DERIVED session
    * (`PlanBridge.cloneSession`), so the caller's catalog is never
    * written and concurrent runs cannot see each other's views. */
  def q87SqlSubqueries(spark: SparkSession, dir: String): DataFrame = {
    val s = org.apache.spark.sql.graftbridge.PlanBridge.cloneSession(spark)
    val tt = t(s, dir)
    tt.customer.createOrReplaceTempView("v_customer")
    tt.orders.createOrReplaceTempView("v_orders")
    s.sql("""
      SELECT c_mktsegment,
             COUNT(*) AS n_customers,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_balance
      FROM v_customer c
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM v_customer
                         WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM v_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  }

  /** Language-ID confusion matrix: labeled lang × [[langGuess]]
    * prediction with per-label share — the standard classifier-eval
    * artifact, here evaluating the n-gram-keyword heuristic against
    * the corpus labels (q19 reports only the diagonal). */
  def q88LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir).documents
      .select(col("lang"), langGuess(tokens(col("text"))).as("guess"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("share", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy(col("lang"))), 4))
      .orderBy(col("lang"), col("guess"))
  }

  /** GPT-3-style exact 13-gram contamination (the industry-standard
    * parameterization; q60 is the thresholded 3-gram variant): a train
    * doc is contaminated if it shares ANY 13-gram with the held-out
    * slice (doc_id % 50 == 0). Posting join on the 13-gram — the bench
    * side is tiny and the join fans out by shared-gram frequency, not
    * corpus size. Output: per-source contamination rate. */
  def q89ExactContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val post = Dedup.shingleSets(docs, 13)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val benchGrams = post.where(col("doc_id") % 50 === 0)
      .select(col("g")).distinct()
    val flagged = post.where(col("doc_id") % 50 =!= 0)
      .join(benchGrams, Seq("g"))
      .select(col("doc_id")).distinct()
      .withColumn("flagged", lit(true))
    docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("rate",
        round(col("n_contaminated").cast("double") / col("n_train"), 4))
      .orderBy(col("source"))
  }

  /** Per-source corpus health report — the dashboard a pipeline owner
    * reads before training: volume, exact-dup rate, mean quality, mean
    * token count. One scan + one keyed aggregation; the dup rate rides
    * the same aggregation as a distinct-count of fingerprints. */
  def q90CorpusHealth(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .withColumn("toks", tokens(col("text")))
      .select(col("source"),
        fingerprint(col("text")).as("fp"),
        qualityScore(col("toks")).as("q"),
        size(col("toks")).as("n"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        round(avg(col("q")), 4).as("avg_quality"),
        round(avg(col("n")), 2).as("avg_tokens"))
      .orderBy(col("source"))

  /** The capstone pipeline query — raw corpus → training-ready keep
    * list, one decision per doc with the precedence a real cleaning
    * pipeline uses: exact-dup non-survivors drop first (q21 rule),
    * then near-dup cluster non-survivors (q22 pairs → q71 components,
    * min-id survivor), then low-quality docs (score < 0.62); the rest
    * export. Reported per (source, decision). Every stage is an
    * already-verified operator; this proves they COMPOSE. */
  def q91CleanExport(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    cleanExport(docs, textPairs(docs))
  }

  /** q91's decision per doc, counted per (source, decision): exact-dup
    * non-survivors drop, then non-survivors of the CC clusters of
    * `pairs`, then quality < 0.62; the rest keep (q91/q112). */
  private def cleanExport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      fingerprint(col("text")).as("fp"),
      qualityScore(tokens(col("text"))).as("q"))
    val keepFp = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val clusters = Dedup.connectedComponents(pairs)
    base.join(keepFp, Seq("fp"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("doc_id") =!= col("keep_id"), "drop_exact_dup")
          .when(col("cluster_id").isNotNull
            && col("cluster_id") =!= col("doc_id"), "drop_near_dup")
          .when(col("q") < 0.62, "drop_low_quality")
          .otherwise("keep").as("decision"))
      .groupBy(col("source"), col("decision"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("decision"))
  }

  /** The q71 clustering computed by the OTHER fixpoint algorithm:
    * alternating large-star/small-star contraction
    * ([[Dedup.connectedComponentsStar]], O(log diameter) rounds —
    * the 100 TB insurance when components are deep) instead of
    * min-label propagation. Same pairs, same output contract, same
    * oracle closure — a full-pipeline differential check that two
    * independently-derived distributed CC algorithms agree. */
  def q92StarClusters(spark: SparkSession, dir: String): DataFrame =
    clusterSizes(
      Dedup.connectedComponentsStar(textPairs(t(spark, dir).documents)))

  /** PageRank centrality over the near-dup similarity graph
    * ([[graft.operators.Graphs.pageRankFixed]]): q22's jaccard pairs,
    * mirrored to a symmetric edge set, 3 damped message-passing rounds
    * in exact fixed-point integer arithmetic. The pipeline use: rank
    * picks the CANONICAL document of each near-dup neighborhood (the
    * most-connected member), an alternative survivor rule to q85's
    * min-id. Every shuffle is keyed on a node id; ranks are scaled
    * longs so the result is bit-identical under any partitioning and
    * replayable by an integer-division SQL oracle. */
  def q93PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(graft.operators.Caches.persistTracked(
      textPairs(t(spark, dir).documents)))

  /** q93's 3-round fixed-point PageRank over the symmetric edges of
    * `pairs` (q93/q113). */
  private def pageRank(pairs: DataFrame): DataFrame =
    graft.operators.Graphs.pageRankFixed(symmetricEdges(pairs), iters = 3)
      .select(col("id").as("doc_id"), col("out_deg"), col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("doc_id"))

  // ---------- round-3 training-pipeline extensions ----------

  /** Fixed-size token-window chunking with overlap (chunk=64 tokens,
    * stride=48 ⇒ 16-token overlap) — the pretraining step that packs
    * documents into model context windows. Pure column algebra: one
    * `sequence()` per doc, one explode; the only shuffle is the final
    * per-source rollup. At 100 TB the explode multiplies rows ~n/stride
    * per doc BEFORE the aggregate, but chunk metadata is 3 small
    * columns — the heavy `text` column never rides along. */
  def q94ChunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val chunk = 64L
    val stride = 48L
    t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        wordCount(col("text")).cast("long").as("n"))
      .where(col("n") > 0)
      .withColumn("s",
        explode(sequence(lit(0L), col("n") - 1, lit(stride))))
      .select(col("doc_id"), col("source"),
        least(lit(chunk), col("n") - col("s")).as("chunk_toks"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_toks")).as("chunk_tokens"),
        round(avg(col("chunk_toks")), 2).as("avg_chunk_toks"))
      .orderBy(col("source"))
  }

  /** Quality-weighted Bernoulli sampling in pure integer arithmetic:
    * each doc's inclusion probability is proportional to its quality
    * score (threshold = round(q·300000) out of a 16^5 = 1048576 hash
    * space), decided by comparing the first 5 hex chars of a seeded
    * md5 against the threshold's zero-padded hex — engine-portable,
    * partition-invariant, no RNG. The importance-sampling counterpart
    * to q45's uniform stratified sample. */
  def q95WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(tokens(col("text")))
    val thresholdHex = lpad(lower(hex(round(q * 300000).cast("long"))), 5, "0")
    val draw = substring(md5(concat_ws("|", lit("wsample"), col("doc_id"))), 1, 5)
    t(spark, dir).documents
      .select(col("source"), q.as("q"),
        wordCount(col("text")).cast("long").as("ws"),
        (draw < thresholdHex).as("sampled"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("ws")).otherwise(0L)).as("sampled_tokens"),
        round(avg(when(col("sampled"), col("q"))), 4).as("avg_q_sampled"))
      .orderBy(col("source"))
  }

  /** Per-source top-p ("nucleus") selection: order docs by quality
    * (doc_id tie-break), keep the smallest prefix holding ≥50% of the
    * source's token mass — the cumulative-share cutoff is integer
    * arithmetic (2·(cum−own) < total) so the kept set is exact. The
    * curriculum/budgeting shape: one sort shuffle on (source), one
    * window pass, no self-join. */
  def q96TopPSelect(spark: SparkSession, dir: String): DataFrame = {
    val byQ = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bySrc = Window.partitionBy(col("source"))
    t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        qualityScore(tokens(col("text"))).as("q"),
        wordCount(col("text")).cast("long").as("ws"))
      .withColumn("cum", sum(col("ws")).over(byQ))
      .withColumn("total", sum(col("ws")).over(bySrc))
      .withColumn("keep", (col("cum") - col("ws")) * 2 < col("total"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("ws")).otherwise(0L)).as("kept_tokens"),
        round(sum(when(col("keep"), col("ws")).otherwise(0L))
          / sum(col("ws")).cast("double"), 4).as("kept_share"))
      .orderBy(col("source"))
  }

  /** Symmetric int8 embedding quantization profile — the 4× storage
    * cut a 100 TB embedding store takes before ANN. Per vector:
    * scale = max|v|, q_i = clamp(round(v_i·127/scale), ±127); the
    * reconstruction error Σ(v−dq)² is accumulated in FIXED-POINT
    * (round(d²·1e12) as long) so the per-vector error is bit-identical
    * under any element order or engine. Reported per label: mean
    * scale, total/max error, saturation count. */
  def q97QuantizeProfile(spark: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val scale = array_max(transform(col("v"), x => abs(x)))
    def qi(x: Column) =
      least(greatest(round(x * 127 / col("scale")), lit(-127.0)), lit(127.0))
    def errElem(x: Column) = {
      val d = x - qi(x) * col("scale") / 127
      round(d * d * 1e12).cast("long")
    }
    t(spark, dir).embeddings
      .select(col("label"), v.as("v"))
      .withColumn("scale", scale)
      .select(col("label"), col("scale"),
        when(col("scale") === 0, 0L)
          .otherwise(aggregate(col("v"), lit(0L), (acc, x) => acc + errElem(x)))
          .as("err_fp"),
        when(col("scale") === 0, 0)
          .otherwise(size(filter(col("v"), x => abs(qi(x)) === 127.0)))
          .cast("long").as("n_sat"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg(col("scale")), 6).as("avg_scale"),
        sum(col("err_fp")).as("total_err_fp12"),
        max(col("err_fp")).as("max_err_fp12"),
        sum(col("n_sat")).as("n_saturated"))
      .orderBy(col("label"))
  }

  /** Temperature-balanced mixture weights (α=0.5): per-source sampling
    * share ∝ √tokens — the standard move that keeps small sources
    * (languages, domains) from vanishing in a weighted corpus mix.
    * √tokens goes through fixed-point (round(√t·1e6) as long) before
    * the normalizing sum, so the shares are exact integers divided
    * once — no float-summation-order dependence. */
  def q98MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = t(spark, dir).documents
      .select(col("source"), wordCount(col("text")).cast("long").as("ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
      .withColumn("p_fp", round(sqrt(col("n_tokens")) * 1e6).cast("long"))
    val total = Window.partitionBy()
    perSrc
      .withColumn("mix_share",
        round(col("p_fp").cast("double") / sum(col("p_fp")).over(total), 6))
      .withColumn("docs_per_10k",
        round(col("p_fp") * 10000.0 / sum(col("p_fp")).over(total)).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mix_share"), col("docs_per_10k"))
      .orderBy(col("source"))
  }

  /** Cross-source contamination matrix: 8-token PREFIX-fingerprint
    * collisions between DIFFERENT sources — which feeds copy from each
    * other, the provenance question asked before de-weighting a source.
    * The prefix key (vs q21's whole-doc fingerprint) catches docs that
    * share their opening — syndicated boilerplate, mirrored headers —
    * even when tails diverge. One shuffle on the md5 key (near-unique),
    * pairs emitted only for colliding keys — never an all-pairs join. */
  def q99CrossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val fps = t(spark, dir).documents
      .select(md5(concat_ws(" ", slice(tokens(col("text")), 1, 8))).as("fp"),
        col("source"))
      .distinct()
    val a = fps.select(col("fp"), col("source").as("source_a"))
    val b = fps.select(col("fp"), col("source").as("source_b"))
    a.join(b, Seq("fp"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("fp")).as("n_shared_fps"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Market-basket co-occurrence with lift over per-user event-type
    * baskets: which event types appear together more often than
    * independence predicts. Scale shape: the basket self-join is keyed
    * on user_id and each side is the DISTINCT (user, type) projection
    * — O(users·k²) for k event types (k=5 here), never an all-pairs
    * join over events; support and total-user counts ride in as
    * broadcasts. Lift = n_co·N / (supp_a·supp_b) with both products
    * exact longs before the one double division. */
  def q100CooccurLift(spark: SparkSession, dir: String): DataFrame = {
    // the distinct basket projection feeds FOUR consumers (both
    // self-join sides, support, totals) — materialize it once or the
    // scan+distinct shuffle runs four times ([[Caches]] lifecycle)
    val ut = graft.operators.Caches.persistTracked(
      events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct())
    val totals = ut.agg(countDistinct(col("user_id")).as("n_users"))
    val supp = ut.groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
    val co = ut.select(col("user_id"), col("event_type").as("et_a"))
      .join(ut.select(col("user_id"), col("event_type").as("et_b")),
        Seq("user_id"))
      .where(col("et_a") < col("et_b"))
      .groupBy(col("et_a"), col("et_b"))
      .agg(count(lit(1)).as("n_co"))
    co.join(broadcast(supp.select(col("event_type").as("et_a"),
        col("supp").as("supp_a"))), Seq("et_a"))
      .join(broadcast(supp.select(col("event_type").as("et_b"),
        col("supp").as("supp_b"))), Seq("et_b"))
      .crossJoin(broadcast(totals))
      .select(col("et_a"), col("et_b"), col("n_co"),
        col("supp_a"), col("supp_b"),
        round((col("n_co") * col("n_users")).cast("double")
          / (col("supp_a") * col("supp_b")).cast("double"), 4).as("lift"))
      .orderBy(col("et_a"), col("et_b"))
  }

  /** Per-segment equi-depth (ntile) histogram of lineitem prices: 8
    * equal-count buckets per return flag with bucket boundaries — the
    * optimizer-statistics / data-profiling shape. The ntile window is
    * PARTITIONED (by l_returnflag), so the sort distributes per key —
    * never a global single-partition sort; at 100 TB you'd bucket by a
    * finer composite key or sample for cutpoints, same plan shape. */
  def q101EquiDepthHist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    t(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(8).over(w).cast("long"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  /** Triangle census over the embedding near-dup graph: per-node
    * triangle participation — the local-clustering signal that
    * separates a tight duplicate CLIQUE (burst of re-uploads, one
    * canonical survivor) from a drifting near-dup CHAIN (successive
    * edits — triangles ≈ 0) before choosing a dedup survivor rule.
    * Shape: pairs are mined once ([[Similarity.cosineNearDupPairs]],
    * persisted), then one wedge join keyed on the shared node and one
    * semi join to close each wedge — never an all-pairs pass. The
    * canonical a<b orientation means each triangle is counted exactly
    * once; at 100 TB orient edges by degree instead (low→high) to
    * bound wedge fan-out on hub nodes. */
  def q102Triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(embedGraph(spark, dir))
      .orderBy(col("n_triangles").desc, col("vec_id"))

  /** Corpus snapshot diff — the data-versioning report run between
    * crawl snapshots: FULL OUTER join of two snapshot views on doc_id,
    * fingerprints compared to classify added / removed / changed /
    * unchanged per source. Synthetic snapshots: A = doc_id%10≠0,
    * B = doc_id%7≠0 with docs doc_id%5=0 "edited" (deterministic
    * text salt). One shuffle per side on the near-unique key; the
    * only full-outer join in the catalog (every other shape is
    * inner/left/semi/anti). */
  def q103SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val a = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source").as("source_a"),
        fingerprint(col("text")).as("fp_a"))
    val b = docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source").as("source_b"),
        fingerprint(when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("status"))
  }

  /** Corpus bigram language-model estimation: P(next | head) as exact
    * integer count ratios, reported as the top-3 continuations for the
    * 10 most frequent head words — the conditional-distribution
    * building block of n-gram LMs (and the repeated-continuation
    * signal a decontamination pass inspects). Shape: one bigram
    * explode (map-side), one (head, next) count shuffle, a per-head
    * window for totals+rank, and a broadcast of the 10-row head list.
    * The probability divides two exact longs once, then rounds. */
  def q104BigramLm(spark: SparkSession, dir: String): DataFrame = {
    // the (head, next) count table feeds BOTH the head-total ranking
    // and the join side — materialize it once or the bigram explode
    // (the heaviest stage at scale) runs twice ([[Caches]] lifecycle)
    val bi = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= 2)
        .select(explode(shingles(col("tk"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("head"),
          split(col("bg"), " ").getItem(1).as("next"))
        .groupBy(col("head"), col("next"))
        .agg(count(lit(1)).as("n")))
    val byHead = Window.partitionBy(col("head"))
    val topHeads = bi.groupBy(col("head"))
      .agg(sum(col("n")).as("head_n"))
      .orderBy(col("head_n").desc, col("head"))
      .limit(10)
    bi.join(broadcast(topHeads), Seq("head"))
      .withColumn("rank", row_number().over(
        byHead.orderBy(col("n").desc, col("next"))))
      .where(col("rank") <= 3)
      .select(col("head"), col("rank"), col("next"), col("n"),
        col("head_n"),
        round(col("n").cast("double") / col("head_n"), 4).as("p"))
      .orderBy(col("head"), col("rank"))
  }

  /** The DYNAMIC-gap session semantics (q73's replay harness, T4
    * extension): per-event hold durations — purchases keep a session
    * open 30 min, views 10 — streamed through AvailableNow with the
    * staged data+clock layout, emitted on watermark finalization, and
    * hash-checked against a batch oracle. The oracle generalizes
    * gaps-and-islands to event-dependent holds: a session breaks when
    * ts >= the RUNNING MAX of all prior (ts + gap) ends (a fixed-gap
    * break only needs lag(ts)), and the session end is the max hold
    * end, which an early purchase can own even when later views
    * arrive. */
  def q105DynamicSessionReplay(spark: SparkSession, dir: String)
      : DataFrame =
    replayToParquet(spark, dir, "q105")(stream =>
      graft.streaming.StreamOps.sessionRollupDynamicGap(
          graft.streaming.StreamOps.watermarked(stream),
          viewGapMin = 10, purchaseGapMin = 30)
        .select(
          fmtTs(col("session_start")).as("session_start"),
          fmtTs(col("session_end")).as("session_end"),
          col("user_id"), col("n_events"), col("total_value")))
      .orderBy(col("session_start"), col("user_id"))

  /** Count-min sketch term frequencies, verified against exact counts:
    * d=4 hash rows × w=256 buckets of md5-derived counters, estimate =
    * min over the 4 counters — the mergeable-sketch shape used when
    * exact per-term counts can't fit (CMS counters merge by cell-wise
    * ADDITION across partitions/days, unlike an exact top-k). Because
    * the hashes are md5 (not seeded JVM hashing), the WHOLE sketch is
    * engine-portable: the oracle rebuilds the same 1024 counters and
    * the same estimates, so the approximation itself is hash-checked —
    * including its characteristic one-sided overcount, reported per
    * true-top-20 token. */
  def q106CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("exact_n")))
    // counters: every token occurrence lands in one bucket per hash row
    val rows = (0 until 4).map(lit(_))
    def bucket(row: Column) =
      conv(substring(md5(concat_ws("|", row, col("tok"))), 1, 2), 16, 10)
        .cast("int")
    val counters = toks
      .select(col("tok"), col("exact_n"), explode(array(rows: _*)).as("hrow"))
      .select(col("hrow"), bucket(col("hrow")).as("bucket"), col("exact_n"))
      .groupBy(col("hrow"), col("bucket"))
      .agg(sum(col("exact_n")).as("cnt"))
    val top = toks
      .withColumn("rk", row_number().over(
        Window.orderBy(col("exact_n").desc, col("tok"))))
      .where(col("rk") <= 20)
    top.select(col("tok"), col("exact_n"), col("rk"),
        explode(array(rows: _*)).as("hrow"))
      .withColumn("bucket", bucket(col("hrow")))
      .join(counters, Seq("hrow", "bucket"))
      .groupBy(col("tok"), col("exact_n"), col("rk"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("rk"), col("tok"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("rk"))
  }

  /** md5-derived HLL register ranks of `user_id` for each row of `df`
    * (shared by q107/q114/q188): bucket = first hash byte (m=256),
    * r = leading-zero count of the next 48 bits + 1 (capped at 49 when
    * the whole field is zero). All other columns pass through, so
    * callers key the register max however they group. */
  private def hllRanks(df: DataFrame): DataFrame =
    df
      .withColumn("h", md5(concat_ws("|", lit("hll"), col("user_id"))))
      .withColumn("bucket",
        conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
      .withColumn("h12", substring(col("h"), 3, 12))
      .withColumn("zc", length(regexp_extract(col("h12"), "^(0*)", 1)))
      .withColumn("r", when(col("zc") === 12, lit(49)).otherwise(
        col("zc") * 4 + expr(
          "CASE substring(h12, zc + 1, 1) WHEN '1' THEN 3" +
            " WHEN '2' THEN 2 WHEN '3' THEN 2 WHEN '4' THEN 1" +
            " WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1" +
            " ELSE 0 END") + 1))
      .drop("h", "h12", "zc")

  /** Portable HyperLogLog, oracle-checked end to end — the upgrade to
    * q28's story (Spark's HLL++ sketch has no cross-engine oracle; a
    * sketch built from md5 does). m=256 registers keyed on the first
    * hash byte; register = max over (leading-zero-bits of the next 48
    * bits + 1); estimate = α·m²/Σ2^(−r). Every step is engine-portable
    * integer arithmetic: the Σ2^(−r) sum is computed in FIXED POINT as
    * Σ 2^(49−r) longs (a float sum of dyadic rationals would need 57
    * bits of mantissa and become order-dependent), so even the
    * ESTIMATE hash-matches. Registers are per (event_type, bucket) —
    * the mergeable-by-max shape a 1000-executor distinct-count uses.
    * Reported against exact distincts with the relative error. */
  def q107PortableHll(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Caches.persistTracked(
      events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct())
    val sums = hllRanks(pairs)
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("r")).as("r"))
      .groupBy(col("event_type"))
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - r)")).as("s_used"),
        count(lit(1)).as("n_buckets"))
    val exact = pairs.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sums.join(exact, Seq("event_type"))
      // empty registers hold r=0 and contribute 2^49 each to the
      // fixed-point sum
      .withColumn("s",
        col("s_used") + (lit(256L) - col("n_buckets")) * lit(562949953421312L))
      // e-notation literals parse as DOUBLE in both engines (plain
      // decimals are DECIMAL in DuckDB and would decimal-taint the
      // whole estimate)
      .withColumn("est", round(
        expr("0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0")
          / col("s"), 2))
      .select(col("event_type"), col("n_buckets"), col("exact_users"),
        col("est"),
        round((col("est") - col("exact_users")) / col("exact_users"), 4)
          .as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** Portable Bloom filter, oracle-checked — completes the sketch
    * trilogy (q106 count-min, q107 HLL): m=1024 bits, k=3 md5-derived
    * positions per key; the filter IS a distributed table of set bits
    * (mergeable by union — the multi-shard build), membership = all 3
    * probe bits present. Unlike q61's engine-native BloomFilterAggregate
    * (whose bit layout is JVM-specific, so the oracle there checks only
    * the post-verify join), the md5 bit positions replay in DuckDB and
    * the CONFUSION MATRIX itself is hash-checked: false negatives are
    * structurally zero, false positives are the m/k/n-determined price,
    * counted exactly. */
  def q108PortableBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val ks = (0 until 3).map(lit(_))
    def bitPos(i: Column, fp: Column) =
      (conv(substring(md5(concat_ws("|", i, fp)), 1, 3), 16, 10)
        .cast("int") % 1024).as("bit")
    val bits = graft.operators.Caches.persistTracked(
      docs.where(col("doc_id") % 3 === 0)
        .select(explode(array(ks: _*)).as("i"), col("fp"))
        .select(bitPos(col("i"), col("fp"))).distinct())
    val probes = docs
      .select(col("doc_id"), (col("doc_id") % 3 === 0).as("actual"),
        explode(array(ks: _*)).as("i"), col("fp"))
      .select(col("doc_id"), col("actual"), bitPos(col("i"), col("fp")))
    val claimed = probes
      .join(bits.withColumnRenamed("bit", "mbit"),
        col("bit") === col("mbit"), "left")
      .groupBy(col("doc_id"), col("actual"))
      .agg((count(col("mbit")) === 3).as("claimed"))
    claimed.groupBy(col("actual"), col("claimed"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
      .orderBy(col("actual"), col("claimed"))
  }

  // ---------- round-4: materialized pair-table pipeline ----------
  //
  // q71/q85/q91/q92/q93 each re-mine the jaccard pair table so every
  // catalog row stays independently oracle-checkable. q109-q113 are the
  // PRODUCTION composition of the same stages: mine the pair table ONCE
  // into a parquet intermediate (graft.operators.PairTable), then derive
  // clusters, survivors, the clean export, and PageRank from the shared
  // table. Each stage keeps its own oracle (the same DuckDB closures),
  // so the composed pipeline is hash-verified stage by stage while the
  // corpus is shingled exactly once.

  /** Pipeline stage 0 — MINE: force-materialize the pair table and
    * emit it. `rebuild` (not the memo) so the measured cost of this
    * row is the true mining cost on every bench sample; the oracle is
    * q22's pair SQL, proving the materialized file is exactly the
    * mined pair set. */
  def q109PipelineMine(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PairTable.rebuild(spark, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** Pipeline stage 1 — CLUSTERS from the shared table: connected
    * components plus a per-cluster edge count (the pair table is read
    * TWICE — labels and edge rollup — which is precisely what
    * materialization makes cheap; the re-mining form would shingle the
    * corpus twice). */
  def q110PipelineClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.PairTable.pairs(spark, dir)
    clusterRollup(pairs, Dedup.connectedComponents(pairs))
  }

  /** Shared sizes + per-cluster-edge-count rollup over (pairs, labels)
    * — the derivation both q110 (text pairs, min-label CC) and q118
    * (embedding pairs, star CC) run over their respective tables. */
  private def clusterRollup(pairs: DataFrame, labels: DataFrame)
      : DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
    val edges = pairs
      .join(labels.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"))
    sizes.join(edges, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("max_member"),
        col("n_pairs"))
      .orderBy(col("cluster_id"))
  }

  /** Pipeline stage 2 — SURVIVORS from the shared table: q85's golden-
    * record merge without q85's re-mine. Same oracle closure. */
  def q111PipelineSurvivors(spark: SparkSession, dir: String): DataFrame =
    survivors(
      Dedup.connectedComponents(graft.operators.PairTable.pairs(spark, dir)),
      t(spark, dir).documents)

  /** Pipeline stage 3 — CLEAN EXPORT from the shared table: q91's
    * precedence-ordered keep/drop decisions with the near-dup clusters
    * derived from the materialized pairs instead of a fresh mine. */
  def q112PipelineExport(spark: SparkSession, dir: String): DataFrame =
    cleanExport(t(spark, dir).documents,
      graft.operators.PairTable.pairs(spark, dir))

  /** Pipeline stage 4 — PAGERANK from the shared table: q93's
    * fixed-point centrality with the edge set read from the
    * materialized pairs (scanned twice for the symmetric mirror — no
    * persist needed, unlike q93 whose pair subtree would otherwise be
    * re-MINED per consumer). */
  def q113PipelinePagerank(spark: SparkSession, dir: String): DataFrame =
    pageRank(graft.operators.PairTable.pairs(spark, dir))

  /** HLL sketch MERGE, hash-checked — the step q107 argues but never
    * executes. Events are split into two shards (event_id parity);
    * each shard builds its own 256-register sketch, and the `merged`
    * row is computed by REGISTER-WISE MAX over the shard sketches —
    * the multi-day/multi-source rollup a 1000-executor distinct-count
    * does instead of re-reading raw data. The oracle computes the
    * merged row as a ONE-SHOT sketch over the union of raw values, so
    * the hash match proves merge ≡ rebuild (max is associative), not
    * merely that both engines ran the same merge. Estimates use q107's
    * fixed-point Σ2^(49−r) arithmetic, so they hash-match too. */
  def q114HllMerge(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Caches.persistTracked(
      events(spark, dir)
        .select(concat(lit("shard_"), col("event_id") % 2).as("part"),
          col("user_id"))
        .distinct())
    val shardRegs = graft.operators.Caches.persistTracked(
      hllRanks(pairs)
        .groupBy(col("part"), col("bucket"))
        .agg(max(col("r")).as("r")))
    // THE MERGE: register-wise max across shard sketches
    val mergedRegs = shardRegs.groupBy(col("bucket"))
      .agg(max(col("r")).as("r"))
      .select(lit("merged").as("part"), col("bucket"), col("r"))
    val sums = shardRegs.select(col("part"), col("bucket"), col("r"))
      .unionByName(mergedRegs)
      .groupBy(col("part"))
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - r)")).as("s_used"),
        count(lit(1)).as("n_buckets"))
    val exact = pairs.groupBy(col("part"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .unionByName(
        pairs.agg(countDistinct(col("user_id")).as("exact_users"))
          .select(lit("merged").as("part"), col("exact_users")))
    sums.join(exact, Seq("part"))
      .withColumn("s",
        col("s_used") + (lit(256L) - col("n_buckets")) * lit(562949953421312L))
      .withColumn("est", round(
        expr("0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0")
          / col("s"), 2))
      .select(col("part"), col("n_buckets"), col("exact_users"),
        col("est"),
        round((col("est") - col("exact_users")) / col("exact_users"), 4)
          .as("rel_err"))
      .orderBy(col("part"))
  }

  /** Quantized IVF ANN with full-precision rerank — q97's int8
    * quantization composed with q41's IVF probe, the memory-bound ANN
    * shape at 100 TB (the probe touches 4×-smaller int8 vectors;
    * float vectors are fetched BY ID only for the top candidates).
    * The probe score is an exact INTEGER dot product over quantized
    * vectors (order-independent by construction), normalized per-row;
    * the top `rerankN` candidates per query are then re-scored with
    * exact double cosine. Both the approximate gate score and the
    * final rerank are hash-checked. */
  def q115QuantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val centroids = emb.where(col("id") % 250 === 0)
    val queries = emb.where(col("id") < 8)
    Similarity.quantizedIvfTopK(queries, emb, centroids)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim"), col("sim_q"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Incremental pair-table MAINTENANCE
    * ([[Dedup.incrementalJaccardPairs]]): the `doc_id % 10 == 7` slice
    * plays the incoming batch (q72's split), the rest the
    * already-indexed corpus; output = existing corpus pairs ∪ delta
    * pairs touching the batch. The oracle is the FULL-RE-MINE SQL
    * (q109's closure over all documents) — the hash match proves the
    * incremental algebra reproduces the from-scratch result, including
    * the subtle part: the stop-shingle df cap is computed over the
    * UPDATED index, so a shingle the batch pushes over the cap drops
    * from the existing side too. At 100 TB this is the nightly
    * ingest: the corpus side is a persisted index read, and only the
    * batch fans out through the posting join. */
  def q116IncrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    Dedup.incrementalJaccardPairs(
        d.where(pmod(col("doc_id"), lit(10)) =!= 7),
        d.where(pmod(col("doc_id"), lit(10)) === 7),
        n = 3, threshold = 0.2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Leakage-safe train/val/test split: near-dup cluster members must
    * land in the SAME split, or held-out evaluation leaks through
    * near-duplicates of training docs — the classic contamination
    * vector q59's doc-level split cannot prevent. Split unit =
    * coalesce(cluster_id, doc_id) over the materialized pair table's
    * components, hashed with q59's md5 ladder (80/10/10). The output
    * carries the proof: `n_cross_split_pairs` counts near-dup pairs
    * whose endpoints landed in different splits — structurally zero
    * here, counted exactly (q59's doc-level split measurably leaks on
    * the same pair set). */
  def q117ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.PairTable.pairs(spark, dir)
    val clusters = Dedup.connectedComponents(pairs)
    val docs = t(spark, dir).documents
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
    val bucket = substring(
      md5(concat_ws("|", lit("split-seed"), col("grp"))), 1, 2)
    val assigned = graft.operators.Caches.persistTracked(
      docs.select(col("doc_id"), col("grp"),
        when(bucket < "f0", "train").when(bucket < "f8", "val")
          .otherwise("test").as("split"),
        wordCount(col("text")).cast("long").as("ws")))
    val cross = pairs
      .join(assigned.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), Seq("id_a"))
      .join(assigned.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), Seq("id_b"))
      .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
        .as("n_cross_split_pairs"))
    assigned
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(col("ws")).as("n_tokens"))
      .crossJoin(broadcast(cross))
      .orderBy(col("split"))
  }

  /** The embedding-side pipeline derivation: q81's cluster rollup
    * derived from the MATERIALIZED embedding pair table
    * ([[graft.operators.PairTable.embedPairs]]) instead of re-mining
    * the IVF buckets, plus the per-cluster edge count q110 adds on the
    * text side — the same mine-once topology proven flat at 10× for
    * text pairs, extended to the embedding modality. Star contraction
    * for the collapse (deep graph — see [[q81EmbedClusters]]). */
  def q118EmbedPipeline(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.PairTable.embedPairs(spark, dir)
    clusterRollup(pairs, Dedup.connectedComponentsStar(pairs))
  }

  /** Corpus-LM quality filter — the (simplified, honestly-exact)
    * KenLM-style pretraining filter: score every document by the MEAN
    * corpus-bigram probability of its bigram stream (p = c(head,next)
    * / c(head) from the corpus-wide occurrence counts), flag docs
    * below a floor. Perplexity proper needs logs (libm-dependent —
    * not oracle-portable); the mean-probability form keeps the exact
    * same ranking intent in pure rational arithmetic: per-bigram p
    * rounds to 6 dp, rides as fixed-point micro-units, per-doc mean is
    * an integer division, so every score is bit-identical across
    * engines and partitionings. One bigram explode feeds both the LM
    * counts and the per-doc scoring (persisted — the [[Caches]]
    * multi-consumer rule). */
  def q119LmQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val docBi = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(shingles(col("tk"), 2)).as("bg"))
        .select(col("doc_id"), col("source"),
          split(col("bg"), " ").getItem(0).as("head"),
          split(col("bg"), " ").getItem(1).as("next")))
    val cnt = graft.operators.Caches.persistTracked(
      docBi.groupBy(col("head"), col("next")).agg(count(lit(1)).as("n")))
    val headN = cnt.groupBy(col("head")).agg(sum(col("n")).as("head_n"))
    val perDoc = docBi
      .join(cnt, Seq("head", "next"))
      .join(headN, Seq("head"))
      .withColumn("p_fp",
        round(round(col("n").cast("double") / col("head_n"), 6) * 1e6)
          .cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_bi"), sum(col("p_fp")).as("sum_fp"))
      .withColumn("mean_fp", expr("sum_fp div n_bi"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mean_fp") < 33000L, 1L).otherwise(0L)).as("n_low"),
        round(sum(col("mean_fp")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("avg_mean_p"))
      .orderBy(col("source"))
  }

  /** Cross-source NEAR-dup matrix — q99's contamination question asked
    * of near-duplicates instead of exact prefixes: which source pairs
    * share jaccard-near-dup documents, at what strength. A pure
    * derivation over the materialized pair table (two broadcast-scale
    * joins to fetch endpoint sources, one rollup) — another consumer
    * that costs nothing extra because the mining is shared. Source
    * pairs are emitted in canonical (least, greatest) order so within-
    * source and cross-source rows aggregate deterministically. */
  def q120PairSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.PairTable.pairs(spark, dir)
    val src = t(spark, dir).documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(min(col("jaccard")), 4).as("min_jaccard"),
        round(max(col("jaccard")), 4).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Repeated-span coverage — the exact-substring dedup signal of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., 2021) at word-5-gram granularity: for every doc, the
    * fraction of its distinct 5-gram spans that also occur in at least
    * one OTHER document, rolled up per source. One posting-list build
    * (the shared inverted-index shape); the df count and join-back key
    * on xxhash64(span) so both shuffles carry 16-byte fixed-width rows
    * instead of ~40-char strings. Coverage rides as integer basis
    * points (floor division) so the per-source mean is an exact
    * integer sum — no float accumulation across rows. Docs with fewer
    * than 5 words have no spans and are excluded (mirrored in the
    * oracle). */
  def q121RepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val post = graft.operators.Caches.persistTracked(
      Dedup.shingleSets(t(spark, dir).documents, 5)
        .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
        .select(col("doc_id"), col("n_sh"),
          xxhash64(col("shingle")).as("sh_key")))
    val dfTab = post.groupBy(col("sh_key")).agg(count(lit(1)).as("df"))
    val perDoc = post
      .join(dfTab, Seq("sh_key"))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sum(when(col("df") >= 2L, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("cov_bp", expr("(10000 * n_dup) div n_sh"))
    perDoc
      .join(t(spark, dir).documents.select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cov_bp") >= 5000L, 1L).otherwise(0L)).as("n_flagged"),
        round(sum(col("cov_bp")).cast("double") / count(lit(1)) / 1e4, 6)
          .as("avg_coverage"))
      .orderBy(col("source"))
  }

  /** BPE first-merge vocab induction: the pair-frequency table the
    * byte-pair-encoding training loop is built around — per-word
    * adjacent character pairs weighted by corpus word frequency, top
    * 20 by weighted count. The full BPE loop re-counts after each
    * merge (inherently sequential); the COUNTING step is the
    * distributed part and is what this query proves: one token
    * explode → word-frequency table → pair explode over DISTINCT
    * words only (the standard BPE-training trick — work scales with
    * vocabulary, not corpus size). Total order by (count desc, pair)
    * so the top-20 cut is deterministic. */
  def q122BpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = t(spark, dir).documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .where(length(col("w")) >= 2)
    wf.select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Near-dup retention curve — the threshold-tuning artifact every
    * dedup pipeline produces before committing to a cutoff: sweep
    * jaccard thresholds 0.2..0.9 over the MATERIALIZED pair table and
    * report, per threshold, surviving pair count, docs touched, docs
    * dropped under the keep-lowest-id policy (the mined table emits
    * id_a < id_b, so dropping distinct id_b IS that policy — the
    * standard first-pass heuristic; the transitively-exact CC form is
    * q111/q85), and corpus retention. Thresholds ride as integer
    * basis points so no float comparison crosses engines. Another
    * zero-marginal-cost pipeline consumer: 8 thresholds × pairs is a
    * few thousand rows at any corpus size, because it sweeps the
    * PAIRS, not the corpus. */
  def q123RetentionSweep(spark: SparkSession, dir: String): DataFrame =
    retentionSweep(graft.operators.PairTable.pairs(spark, dir)
        .withColumn("bp", round(col("jaccard") * 10000).cast("int")),
      (2 to 9).map(_ * 1000), t(spark, dir).documents)

  /** q123's sweep of a pair set with integer basis points `bp` over
    * `thresholdsBp`: per threshold, pairs, docs touched, keep-lowest-id
    * drops (id_a < id_b) and retention against `corpus`'s row count
    * (q123/q145). */
  private def retentionSweep(pairs: DataFrame, thresholdsBp: Seq[Int],
      corpus: DataFrame): DataFrame = {
    val thresholds = array(thresholdsBp.map(lit): _*)
    val e = graft.operators.Caches.persistTracked(
      pairs
        .select(explode(thresholds).as("threshold_bp"),
          col("id_a"), col("id_b"), col("bp"))
        .where(col("bp") >= col("threshold_bp")))
    val a1 = e.groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_dropped"))
    val a2 = e
      .select(col("threshold_bp"),
        explode(array(col("id_a"), col("id_b"))).as("did"))
      .groupBy(col("threshold_bp"))
      .agg(countDistinct(col("did")).as("n_docs_touched"))
    val total = corpus.agg(count(lit(1)).as("n_total"))
    a1.join(a2, Seq("threshold_bp"))
      .crossJoin(broadcast(total))
      .select(col("threshold_bp"), col("n_pairs"), col("n_docs_touched"),
        col("n_dropped"),
        round(lit(1.0) - col("n_dropped").cast("double") / col("n_total"), 4)
          .as("retention"))
      .orderBy(col("threshold_bp"))
  }

  /** Deterministic interleaved training order — the last step of a
    * data pipeline: the global schedule the trainer reads. Each doc
    * gets a per-source position by hash order (md5 keyed on doc_id —
    * a seeded shuffle reproducible on any cluster), and the global
    * order is (position, source): all the position-1 docs across
    * sources first, then position 2, … — round-robin interleaving
    * without any cross-partition coordination. The window is
    * PARTITIONED by source (never global); the head of the schedule
    * is the checkable output — at any corpus size the plan is one
    * keyed window plus a TakeOrderedAndProject. */
  def q124TrainingOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        md5(concat_ws("|", lit("order"), col("doc_id"))).as("h"))
      .withColumn("position", row_number().over(w))
      .select(col("position"), col("source"), col("doc_id"))
      .orderBy(col("position"), col("source"))
      .limit(24)
  }

  /** Exact-quota stratified sample — mixture REALIZATION, where q95 is
    * mixture estimation: take exactly min(50, available) docs per
    * language, best quality first (hash-free: quality fixed-point
    * desc, doc_id tie-break), and report the realized quota fill.
    * Bernoulli sampling (q95) only hits proportions in expectation;
    * curated mixtures need exact per-stratum counts, which is a
    * per-stratum top-k — WindowGroupLimit shape, partitioned by the
    * stratum, never a global sort. Quality rides as fixed-point
    * 1e4-units so the per-stratum mean is an exact integer sum. */
  def q125QuotaSample(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          wordCount(col("text")).cast("long").as("ws"),
          round(qualityScore(tokens(col("text"))) * 10000).cast("long")
            .as("q_fp")))
    val avail = base.groupBy(col("lang")).agg(count(lit(1)).as("n_avail"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("q_fp").desc, col("doc_id"))
    // rank-filter directly over the window so Catalyst rewrites it to
    // WindowGroupLimit: each map task keeps only its local top-50 per
    // stratum BEFORE the exchange — the corpus never fully sorts
    val taken = base.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 50)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_taken"),
        sum(col("ws")).as("taken_tokens"),
        round(sum(col("q_fp")).cast("double") / count(lit(1)) / 1e4, 4)
          .as("avg_q_taken"))
    avail.join(taken, Seq("lang"))
      .select(col("lang"), col("n_avail"), col("n_taken"),
        col("taken_tokens"), col("avg_q_taken"))
      .orderBy(col("lang"))
  }

  /** Mergeable quantile sketch — completes the portable-sketch family
    * (q106 count-min, q107 HLL, q108 Bloom) with the fourth classic:
    * a fixed-bin histogram whose merge is cell-add, the multi-day-
    * rollup quantile shape at 100 TB (exact percentile needs the
    * sorted data; bin counts need 50 longs per group). Built per
    * day-parity shard, merged by cell addition, then quantiles are
    * estimated by linear interpolation inside the k-th-count bin with
    * INTEGER rank arithmetic (k = ceil(pct·n/100) as (pct·n+99) div
    * 100 — no float ceil at the boundary) and one final division.
    * The oracle builds the same sketch ONE-SHOT from the raw rows, so
    * the hash check IS the merge ≡ rebuild proof (the q114 pattern),
    * and the exact percentile rides along so the approximation error
    * is visible in the checked output. */
  def q126HistogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val binned = ev.select(col("event_type"),
      (dayofmonth(col("ts")) % 2).as("shard"),
      least(lit(49), floor(col("value") / 10).cast("int")).as("bin"))
    val perShard = binned
      .groupBy(col("event_type"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val merged = graft.operators.Caches.persistTracked(
      perShard.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("c")))
    val tot = merged.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val est = merged
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(tot, Seq("event_type"))
      .select(col("event_type"), col("bin"), col("c"), col("cum"),
        col("n"), explode(array(lit(50), lit(90), lit(99))).as("p_pct"))
      .withColumn("k", expr("(p_pct * n + 99) div 100"))
      .where(col("cum") - col("c") < col("k") && col("k") <= col("cum"))
      .withColumn("est_value", round(col("bin") * 10
        + lit(10.0) * (col("k") - (col("cum") - col("c"))).cast("double")
          / col("c"), 4))
    val exact = ev.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.5)").as("e50"),
      expr("percentile(value, 0.9)").as("e90"),
      expr("percentile(value, 0.99)").as("e99"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("p_pct"), col("n"), col("est_value"),
        round(when(col("p_pct") === 50, col("e50"))
          .when(col("p_pct") === 90, col("e90"))
          .otherwise(col("e99")), 4).as("exact_value"))
      .orderBy(col("event_type"), col("p_pct"))
  }

  /** Modality-agreement matrix — the dedup-evaluation question a
    * pipeline asks before trusting semantic dedup: how much of the
    * lexical (jaccard) near-dup pair set does the embedding (cosine)
    * pair set recover, and vice versa. Both sides read MATERIALIZED
    * pair tables (text [[graft.operators.PairTable.pairs]], embedding
    * [[graft.operators.PairTable.embedPairs]] — both canonical
    * id_a < id_b), so the comparison is a pair-sized full-outer join
    * with three flag sums: zero corpus contact. Precision/recall
    * guards divide-by-zero with an explicit 0.0 so the row shape is
    * stable at any scale. (On the synthetic tables the embeddings are
    * iid w.r.t. the planted text dups, so agreement is honestly 0 —
    * sf0.1: 256 text pairs, 1880 embed pairs, 0 shared; the oracle
    * hash-checks the full computation either way.) */
  def q127ModalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val text = graft.operators.PairTable.pairs(spark, dir)
      .select(col("id_a"), col("id_b")).withColumn("in_text", lit(1))
    val embed = graft.operators.PairTable.embedPairs(spark, dir)
      .select(col("id_a"), col("id_b")).withColumn("in_embed", lit(1))
    val ag = text.join(embed, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("in_text") === 1, 1L).otherwise(0L))
          .as("n_text_pairs"),
        sum(when(col("in_embed") === 1, 1L).otherwise(0L))
          .as("n_embed_pairs"),
        sum(when(col("in_text") === 1 && col("in_embed") === 1, 1L)
          .otherwise(0L)).as("n_both"))
    val unionSz = col("n_text_pairs") + col("n_embed_pairs") - col("n_both")
    ag.select(col("n_text_pairs"), col("n_embed_pairs"), col("n_both"),
      round(when(unionSz === 0L, lit(0.0))
        .otherwise(col("n_both").cast("double") / unionSz), 4)
        .as("pair_jaccard"),
      round(when(col("n_embed_pairs") === 0L, lit(0.0))
        .otherwise(col("n_both").cast("double") / col("n_embed_pairs")), 4)
        .as("precision_embed"),
      round(when(col("n_text_pairs") === 0L, lit(0.0))
        .otherwise(col("n_both").cast("double") / col("n_text_pairs")), 4)
        .as("recall_text"))
  }

  /** Right-to-be-forgotten cascade — the data-governance question at
    * 100 TB: given a deletion set (here the deterministic slice
    * doc_id % 97 == 0), what does the forget actually touch?
    * Forgotten docs, near-dup pairs invalidated (either endpoint
    * forgotten), clusters affected, and surviving members of those
    * clusters that need re-labeling once the edges vanish. Every
    * count derives from the MATERIALIZED pair table and its CC labels
    * — the cascade costs a label fixpoint plus flag sums, never a
    * re-mine. */
  def q128ForgetCascade(spark: SparkSession, dir: String): DataFrame = {
    val forgotten = col("doc_id") % 97 === 0
    val nForgotten = t(spark, dir).documents
      .agg(sum(when(forgotten, 1L).otherwise(0L)).as("n_forgotten"))
    val pairs = graft.operators.PairTable.pairs(spark, dir)
    val nInvalid = pairs
      .agg(sum(when(col("id_a") % 97 === 0 || col("id_b") % 97 === 0, 1L)
        .otherwise(0L)).as("n_pairs_invalidated"))
    val labels = graft.operators.Caches.persistTracked(
      Dedup.connectedComponents(pairs))
    val affected = labels.where(forgotten)
      .select(col("cluster_id")).distinct()
    val nAffected = affected.agg(count(lit(1)).as("n_affected_clusters"))
    val nOrphaned = labels
      .join(affected, Seq("cluster_id"), "left_semi")
      .agg(sum(when(!forgotten, 1L).otherwise(0L)).as("n_orphaned_survivors"))
    nForgotten.crossJoin(broadcast(nInvalid))
      .crossJoin(broadcast(nAffected))
      .crossJoin(broadcast(nOrphaned))
  }

  /** Vocabulary OOV rate — the tokenizer-fit metric: fix the vocab at
    * the corpus's top-256 tokens (total order: count desc, token asc,
    * so the cut is deterministic) and measure, per source, the
    * fraction of token OCCURRENCES falling outside it. One token
    * explode feeds both the vocab induction and the scoring (persisted
    * — the multi-consumer rule); the vocab rides a broadcast into the
    * scoring pass, so the corpus-side plan is one Generate + one
    * keyed rollup at any scale. */
  def q129OovRate(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(col("source"), explode(tokens(col("text"))).as("token")))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(256)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))
      .orderBy(col("source"))
  }

  /** Cosine-threshold join via the injected Catalyst extension
    * ([[graft.plans.SimilarityJoinPlan]] → stats-picked exec), exact
    * broadcast-gate regime: 8 query vectors against the full corpus.
    * The point vs q25 (brute-force compose): the JOIN ITSELF is the
    * custom operator — the physical plan is SimilarityBroadcastGateExec
    * with the query side collected/broadcast and per-vector norms
    * hoisted, no BroadcastNestedLoopJoin, no window rank machinery —
    * and the same declaration would plan the banded-LSH shuffle
    * (q131's shape) if the small side outgrew the broadcast
    * threshold. Oracle: the literal exact threshold join. */
  def q130SimJoinExact(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    Similarity.cosineJoin(queries, corpus, "qv", "cv", 0.35,
        graft.plans.SimJoinRegime.Exact)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("cv")), 4).as("sim"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** The banded-LSH regime of the same operator — the large-large
    * shape where neither side broadcasts: full corpus self-join at
    * cosine ≥ 0.35 through 8 bands × 8 hyperplane bits. The
    * approximation ITSELF is deterministic (integer Rademacher
    * signatures over 1e-6-quantized components), so the oracle replays
    * banding + gate bit-for-bit in SQL and the hash match proves the
    * distributed shuffle (band-replicated rows, first-common-band
    * dedup, no global distinct) computes exactly the declared
    * candidate set — same contract as q23/q40. */
  def q131SimJoinBanded(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    // geometry pinned EXPLICITLY at 8×8: the DuckDB oracle replays
    // exactly this banding; the operator default (0,0 = auto-derived
    // from threshold + recall target) is covered by SimilarityJoinSpec
    Similarity.cosineJoin(a, b, "va", "vb", 0.35,
        graft.plans.SimJoinRegime.Banded, bands = 8, bandBits = 8)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Stream-stream LEFT OUTER interval join through a real replay
    * (checkpoint + parquet sink, AvailableNow) — closing the round-3
    * roadmap's "outer-join replay oracle" caveat: outer null rows
    * materialize only when the WATERMARK proves no matching view can
    * still arrive, so the batch oracle must be lag-aware — it emits a
    * null row only for unmatched purchases at or below the replay's
    * final EFFECTIVE watermark; purchases above it stay pending in
    * state forever, exactly as a live query would hold them. Inner
    * matches are watermark-independent.
    *
    * The effective watermark is subtler than max(ts) - delay, and the
    * oracle encodes what probing measured: Catalyst pushes the
    * event-type filters BELOW the two EventTimeWatermark nodes, so
    * the purchase-side node tracks only max PURCHASE time and the
    * view-side node only max VIEW time; the global watermark is their
    * MIN (multipleWatermarkPolicy default), each floored to epoch
    * milliseconds (EventTimeStats granularity) minus the delay, and
    * eviction is INCLUSIVE (p_ts <= watermark emits). */
  def q132AttributionOuter(spark: SparkSession, dir: String): DataFrame =
    replayToParquet(spark, dir, "q132")(stream =>
      graft.streaming.StreamOps.purchaseAttributionOuter(stream))
      .orderBy(col("purchase_id"), coalesce(col("view_id"), lit(-1L)))

  /** Delta-of-the-cap incremental pair maintenance — the production
    * ingest path that q116 approximates: the STORED corpus pair table
    * is adjusted in place (decrement `shared` for pairs touching
    * shingles the incoming batch pushed over the df cap, drop pairs
    * falling below threshold — additions are impossible, removal only
    * shrinks intersections) and only the incoming slice mines through
    * the posting index. maxDf = 8 here so the cap actually bites at
    * the test SFs (1/0/3031 crossing shingles and 28/25/5 result rows
    * at sf0.001/0.01/0.1 — the tight-vocabulary data pushes most
    * shingles over any small cap by sf0.1); the crossing-erases-a-
    * stored-pair semantics are additionally pinned at unit scale in
    * OperatorsSpec. The oracle is the full re-mine over corpus ∪
    * incoming at the same cap, so the hash match proves
    * adjust-in-place ≡ from-scratch. */
  def q133DeltaCapPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    val corpus = d.where(pmod(col("doc_id"), lit(10)) =!= 7)
    val incoming = d.where(pmod(col("doc_id"), lit(10)) === 7)
    val stored = Dedup.jaccardPairs(corpus, n = 3,
      threshold = 0.2, maxDf = 8)
    Dedup.deltaCapJaccardPairs(stored, corpus, incoming, maxDf = 8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Saved-index ANN probe — q41's IVF compose through the persisted
    * lifecycle ([[graft.operators.VectorIndex]]): build the index once
    * (write centroids + cent_id-partitioned assignments to parquet),
    * read it back, probe the saved layout. The probe's bucket filter
    * is a literal `cent_id IN (...)`, so the assignments scan opens
    * only the probed partition directories (static file-level
    * partition pruning — the vector-store serving path, where the
    * full-corpus assignment pass is paid once at build time, not per
    * query). Oracle: identical to q41 — the saved-index probe must
    * EQUAL the in-memory compose, which is the lifecycle's whole
    * contract. */
  def q134IvfIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val centroids = emb.where(col("id") % 250 === 0)
    val queries = emb.where(col("id") < 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q134_").toFile
    deleteRecursivelyOnExit(tmp)
    VectorIndex.write(emb, centroids, tmp.getAbsolutePath)
    val idx = VectorIndex.read(spark, tmp.getAbsolutePath)
    VectorIndex.probe(idx, queries, k = 5, nprobe = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Naive jaccard-threshold join — `a JOIN b ON jaccard_sim(a.text,
    * b.text, 3) >= 0.2 AND a.id < b.id` written as the plain join
    * predicate a SQL user would — through the injected
    * [[graft.plans.JaccardJoinRewrite]]: the optimizer rewrites the
    * condition onto [[graft.plans.JaccardInvertedJoinExec]] (q22's
    * shingle inverted index as a whole-operator planner extension), so
    * the physical plan is keyed shuffles with exact intersection
    * counts — no BroadcastNestedLoopJoin, no CartesianProduct, and no
    * recall trade (the inverted index is exact at any size, unlike
    * q131's banded regime). Oracle: the literal exact pairwise jaccard
    * with NO df cap — the rewrite implements the user's predicate
    * verbatim, not the capped mining heuristic. */
  def q135JaccardJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    val jac = graft.expressions.TextExpressions
      .jaccardSim(col("text_a"), col("text_b"))
    a.join(b, jac >= lit(0.2) && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The containment twin of q135: `a JOIN b ON overlap_sim(a.text,
    * b.text, 3) >= 0.5 AND a.id < b.id` through the same
    * [[graft.plans.JaccardJoinRewrite]] — the rule recognizes both
    * set-similarity scalars and tags the plan with the metric, so one
    * inverted-index exec serves both (only the final score arithmetic
    * differs: shared/min(na,nb) instead of shared/union). Overlap
    * catches a short doc embedded in a long one, which jaccard
    * dilutes (q70's metric, here as naive-SQL surface). Oracle:
    * literal uncapped pairwise containment. */
  def q136OverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    val ov = graft.expressions.TextExpressions
      .overlapSim(col("text_a"), col("text_b"))
    a.join(b, ov >= lit(0.5) && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(ov, 4).as("overlap"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup — semantic deduplication by the published recipe (Abbas
    * et al. 2023): k-means the embedding space (one deterministic
    * Lloyd iteration from the k lowest-id seeds — [[Similarity
    * .fitCentroids]], q55/q63's fixed-point arithmetic), compare only
    * WITHIN-cluster pairs, and for every pair above the similarity
    * threshold drop the member farther from its cluster centroid.
    * Output: one row per dropped doc with its most-central qualifying
    * duplicate. The O(n²) semantic comparison collapses to Σ cluster²
    * (k chosen to bound cluster sizes; at corpus scale the fit runs on
    * a sample, exactly q63's shape) and the keep-policy is pair-local —
    * no connected components, no global structure. */
  def q137SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val cents = Similarity.fitCentroids(emb, k = 6, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    Similarity.semanticDedupDrops(emb, cents, threshold = 0.35)
      .orderBy(col("dropped_id"))
  }

  /** Incremental IVF index maintenance — build the persisted index on
    * the base corpus, [[graft.operators.VectorIndex.append]] the
    * incoming slice against the FIXED centroids (cost scales with the
    * increment; stored assignment files are never read or rewritten),
    * then probe the appended layout. Oracle: q41's in-memory IVF
    * compose over the FULL corpus — build+append must be
    * indistinguishable from a from-scratch build, the same contract
    * q116 pins for incremental pair-table maintenance. */
  def q138IvfIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val centroids = emb.where(col("id") % 250 === 0)
    val base = emb.where(pmod(col("id"), lit(10)) =!= 3)
    val incoming = emb.where(pmod(col("id"), lit(10)) === 3)
    val queries = emb.where(col("id") < 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q138_").toFile
    deleteRecursivelyOnExit(tmp)
    VectorIndex.write(base, centroids, tmp.getAbsolutePath)
    VectorIndex.append(incoming, tmp.getAbsolutePath)
    val idx = VectorIndex.read(spark, tmp.getAbsolutePath)
    VectorIndex.probe(idx, queries, k = 5, nprobe = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Benchmark decontamination by embedding similarity — the semantic
    * twin of q60/q89's n-gram contamination checks: flag every corpus
    * vector whose cosine similarity to ANY eval-set vector clears the
    * threshold (paraphrased leakage that exact n-gram matching
    * misses). Physical shape: [[Similarity.cosineJoin]] in the EXACT
    * regime — the eval set is tiny by construction (benchmarks vs a
    * 100 TB corpus), so it broadcasts with cached norms and the corpus
    * side STREAMS through the gate, never shuffled, with recall 1.0
    * (a decontamination screen must not silently trade recall). Output
    * per contaminated doc: its nearest eval neighbor (rounded-sim
    * rank, id tie-break) and how many eval docs it matched. */
  def q139EmbedDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectors(spark, dir)
    val evalSet = emb.where(pmod(col("id"), lit(97)) === 0)
      .select(col("id").as("eval_id"), col("vec").as("ev"))
    val corpus = emb.where(pmod(col("id"), lit(97)) =!= 0)
      .select(col("id").as("corpus_id"), col("vec").as("cv"))
    val hits = Similarity.cosineJoin(corpus, evalSet, "cv", "ev",
      threshold = 0.35, regime = graft.plans.SimJoinRegime.Exact)
    val scored = hits.select(col("corpus_id"), col("eval_id"),
      round(Similarity.cosine(col("cv"), col("ev")), 4).as("sim"))
    val wN = Window.partitionBy(col("corpus_id"))
    val wR = Window.partitionBy(col("corpus_id"))
      .orderBy(col("sim").desc, col("eval_id"))
    scored
      .withColumn("n_eval_hits", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wR))
      .where(col("rk") === 1)
      .select(col("corpus_id"), col("eval_id").as("nearest_eval_id"),
        col("sim").as("max_sim"), col("n_eval_hits"))
      .orderBy(col("corpus_id"))
  }

  /** Z-order key math — the Morton bit-interleave
    * ([[graft.expressions.ZOrderKey]], native codegen'd kernel) that
    * [[graft.sources.Writers.zorderedParquet]] clusters by: rows
    * sorted by this key land in row groups covering small RECTANGLES
    * of the (user_id, value-bucket) plane, so parquet min/max stats
    * prune box predicates on EITHER dimension (ScaleOpsSpec measures
    * the actual row-group skip). The query emits per-event keys plus
    * each event's would-be cluster file, making the whole layout
    * computation oracle-checkable (the interleave replays in SQL as
    * 16 unrolled shift-or terms). */
  def q140ZorderKeys(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val x = pmod(col("user_id"), lit(65536L))
    val y = pmod(round(col("value") * 100).cast("long"), lit(65536L))
    ev.select(col("event_id"), x.as("zx"), y.as("zy"),
        graft.expressions.ZOrderExpressions.zorderKey(
          x.cast("long"), y.cast("long")).as("zkey"))
      .withColumn("zfile", floor(col("zkey") / lit(1 << 26)))
      .orderBy(col("event_id"))
  }

  /** File-provenance audit — the lineage plumbing a multi-source lake
    * needs: documents are laid out as a hive-partitioned tree
    * (`shard=<k>` directories), read back with `input_file_name()`,
    * and every row's provenance is recovered FROM THE PATH — then
    * joined against exact-dedup survivorship (q21's rule) to report
    * which ingest shard contributes duplicates. At 100 TB this is how
    * blame lands on a source feed without any per-row provenance
    * column in the data itself. The oracle recomputes the shard from
    * the same formula the layout used — path-derived provenance must
    * round-trip exactly. */
  def q141ShardProvenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val tmp = java.nio.file.Files.createTempDirectory("graft_q141_").toFile
    deleteRecursivelyOnExit(tmp)
    graft.sources.Writers.partitionedParquet(
      docs.withColumn("shard", pmod(col("doc_id"), lit(8))),
      tmp.getAbsolutePath, Seq("shard"))
    val back = spark.read.parquet(tmp.getAbsolutePath)
      .withColumn("shard_from_path",
        regexp_extract(input_file_name(), "shard=(\\d+)", 1).cast("long"))
    val survivors = Dedup.exact(docs)
      .select(col("keep_id").as("doc_id"))
    back
      .join(survivors.withColumn("survives", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("shard_from_path").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("survives"), lit(0L))).as("n_survivors"))
      .withColumn("dup_rate_bp",
        round((col("n_docs") - col("n_survivors")) * lit(10000L)
          / col("n_docs"), 4))
      .orderBy(col("shard"))
  }

  /** BPE merge induction — q122's single-step probe iterated into the
    * real trainer ([[graft.operators.Bpe]]): 8 merge steps, each one
    * aggregation over the DISTINCT-WORD vocabulary weighted by corpus
    * frequency (never the corpus itself — trainer cost is decoupled
    * from corpus size), ties broken on the pair string. The oracle
    * replays the full 8-step trajectory as chained CTEs — every
    * chosen merge and its frequency must match, which pins the whole
    * training path, not just the final state. */
  def q142BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = graft.operators.Bpe.train(
      graft.operators.Bpe.vocab(t(spark, dir).documents))
    merges.toDF("step", "merge_pair", "pair_freq").orderBy(col("step"))
  }

  /** Tokenizer application at corpus scale: encode every DISTINCT
    * word under q142's learned merges (vocabulary-sized work), then
    * join the per-word token counts back onto the corpus token stream
    * — per-language token economics (words, BPE tokens, chars,
    * chars-per-token) without ever running the encoder over raw
    * documents. The join's build side is the vocabulary — broadcast
    * at real scale. */
  def q143BpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val v = graft.operators.Caches.persistTracked(
      graft.operators.Bpe.vocab(docs))
    val merges = graft.operators.Bpe.train(v).map(_.pair)
    val perWord = graft.operators.Bpe.applyMerges(v, merges)
      .select(col("word"), col("n_bpe_tokens"))
    val stream = docs.select(col("lang"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
    stream.join(broadcast(perWord), Seq("word"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_bpe_tokens").cast("long")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_bpe_tokens"), 4))
      .orderBy(col("lang"))
  }

  /** Incremental SemDeDup — q137's semantics at INGEST time (the
    * q116/q133 maintenance contract applied to the semantic
    * modality): a nightly slice of new embeddings is assigned under
    * the FIXED centroids the store was built with and compared only
    * against the EXISTING members of its cluster; an incoming doc
    * drops when any existing member clears the threshold (keep-old
    * policy, best match reported). Fanout is incoming × cluster —
    * the stored corpus is never self-compared. The fit runs on the
    * existing slice only: a quantizer that shifted with every
    * increment would invalidate stored assignments. */
  def q144SemanticDedupIncrement(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = vectors(spark, dir)
    val incoming = emb.where(pmod(col("id"), lit(10)) === 7)
    val existing = emb.where(pmod(col("id"), lit(10)) =!= 7)
    val cents = Similarity.fitCentroids(existing, k = 6, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    Similarity.semanticDedupIncrement(existing, incoming, cents,
        threshold = 0.35)
      .orderBy(col("incoming_id"))
  }

  /** Semantic retention sweep — q123's threshold-sweep question asked
    * of the SEMANTIC metric: within-cluster cosine pairs are mined
    * ONCE at the lowest threshold of interest
    * ([[graft.operators.Similarity.semanticPairs]]), then the whole
    * 2500–6000 bp threshold grid sweeps the PAIR SET (integer basis
    * points, never re-touching the corpus) — pairs, docs touched,
    * keep-lowest-id drops, and corpus retention per threshold. */
  def q145SemanticRetentionSweep(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = vectors(spark, dir)
    val cents = Similarity.fitCentroids(emb, k = 6, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    retentionSweep(Similarity.semanticPairs(emb, cents)
        .withColumn("bp", round(col("sim") * 10000).cast("int")),
      (5 to 12).map(_ * 500), t(spark, dir).embeddings)
  }

  /** Incremental exact dedup — the ingest-time regime of q21
    * ([[graft.operators.Dedup.incrementalExact]]), completing the
    * maintenance matrix across all four dedup modalities (q116
    * jaccard, q133 delta-cap, q144 semantic): an incoming batch
    * merges into the STORED fingerprint table without re-reading the
    * corpus. The batch pre-screens against a bloom sketch of the
    * stored fingerprints — sketch rejects cannot be stored dups (no
    * false negatives) and skip the join against the corpus-sized
    * table entirely; false positives die in the exact join. Oracle:
    * the updated table must EQUAL q21's full re-dedup of the whole
    * corpus — maintenance must be indistinguishable from rebuild. */
  def q146IncrementalExactDedup(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = t(spark, dir).documents
    val incoming = docs.where(pmod(col("doc_id"), lit(10)) === 5)
    val existing = docs.where(pmod(col("doc_id"), lit(10)) =!= 5)
    val stored = Dedup.exact(existing)
    Dedup.incrementalExact(stored, incoming)
      .orderBy(col("fp"))
  }

  /** Multi-probe SemDeDup — q137's policy over MULTI-probe candidate
    * pairs ([[graft.operators.Similarity.semanticDedupDropsMulti]]):
    * every vector sits in its 2 nearest centroid buckets, so
    * near-duplicates split across a Voronoi boundary still meet —
    * the boundary-recall mitigation BASELINE.md's k-scaling
    * measurement calls for, at ~2× candidate cost (never ×n). Same
    * keep-policy (primary-centroid centrality), strictly wider drop
    * set than q137. */
  def q147SemanticDedupMultiprobe(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = vectors(spark, dir)
    val cents = Similarity.fitCentroids(emb, k = 6, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    Similarity.semanticDedupDropsMulti(emb, cents)
      .orderBy(col("dropped_id"))
  }

  /** Exact heavy hitters at sketch cost
    * ([[graft.operators.HeavyHitters.cmsScreenedExact]]): the CMS is
    * used as a no-false-negative SCREEN, not an estimator — pass 1
    * aggregates 1024 sketch cells (vocabulary-independent shuffle),
    * the sketch becomes a foldable map literal over the occurrence
    * stream, and pass 2's exact groupBy shuffles only tokens whose
    * CMS estimate clears the threshold. CMS never undercounts, so the
    * result EQUALS the naive `GROUP BY HAVING` — which is exactly what
    * the oracle runs; the sketch is invisible in the output. Threshold
    * = max(2, total_occurrences/200). */
  def q148HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    // spread (round-12, guide §2.5): both sketch passes tokenized the
    // whole corpus inside the ONE-task scan of a small parquet file —
    // two ~850 ms serial stages while 31 cores idled; no-op at
    // production scan sizes
    val occ = graft.operators.Spread.forFanout(
        t(spark, dir).documents, col("doc_id"))
      .select(explode(tokens(col("text"))).as("tok"))
    graft.operators.HeavyHitters.cmsScreenedExact(occ, denom = 200L)
      .orderBy(col("n").desc, col("tok"))
  }

  /** Cross-document duplicated-substring spans
    * ([[graft.operators.Dedup.crossDocDupSpans]], k=4) — the detection
    * pass of exact-substring dedup (Lee et al. 2021): maximal per-doc
    * token spans whose every 4-gram also occurs in ANOTHER document,
    * plus the `dup_bp` duplicated-fraction quality signal curation
    * pipelines filter on. Gram keys are xxhash64 (16-byte postings);
    * cross-doc test is min(doc)≠max(doc) — two longs of state, not a
    * distinct-set; spans come from doc-partitioned gaps-and-islands
    * windows. */
  def q149DupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.crossDocDupSpans(t(spark, dir).documents)
      .orderBy(col("doc_id"))

  /** Signed random projection (Johnson–Lindenstrauss / Achlioptas)
    * 64→8 dims ([[graft.operators.Projection]]): quantized fixed-point
    * vectors, md5-parity ±1 sign matrix as an r×d literal, projection
    * as r integer fold-lefts per row — one narrow codegen'd pass, no
    * shuffle. Output: per consecutive-id pair, original vs projected
    * squared distance and the JL distortion ratio
    * ‖p_a−p_b‖²/(r·‖a−b‖²) (≈1 in expectation) — integer inputs, one
    * rounded division at the end. */
  def q150RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val proj = graft.operators.Projection.project(emb)
      .select(col("vec_id"), col("qv"), col("pv"))
    val a = proj.select(col("vec_id").as("id_a"), col("qv").as("qa"),
      col("pv").as("pa")).where(col("id_a") % 2 === 0)
    val b = proj.select(col("vec_id").as("id_b"), col("qv").as("qb"),
      col("pv").as("pb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        graft.operators.Projection.sqDist(col("qa"), col("qb"))
          .as("orig_d2"),
        graft.operators.Projection.sqDist(col("pa"), col("pb"))
          .as("proj_d2"))
      .withColumn("distortion",
        round(col("proj_d2").cast("double") / (col("orig_d2") * 8), 4))
      .orderBy(col("id_a"))
  }

  /** Duplicated-span removal ([[graft.operators.Dedup.removeDupSpans]],
    * k=4) — the CLEANING pass q149 only measures: drop every token
    * position covered by a cross-doc duplicated 4-gram, re-join the
    * survivors in order, and emit the audit row a curation pipeline
    * logs per doc: kept/removed counts + the md5 fingerprint of the
    * cleaned token stream (the key a downstream exact-dedup pass would
    * use). Re-assembly state is bounded by document length — never
    * corpus-sized. */
  def q153DupSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(t(spark, dir).documents)
      .orderBy(col("doc_id"))

  /** Hashed-bigram odds-voting domain relevance
    * ([[graft.operators.Relevance.oddsVotes]]) — integer-exact DSIR
    * flavor: target = src0 docs, raw = the rest; each of a doc's
    * bigram occurrences votes ±1 by exact cross-multiplied
    * relative-frequency comparison against the 256-bucket hashed
    * feature tables. Top 25 raw docs by (score, doc_id). */
  def q151DomainRelevance(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val target = docs.where(col("source") === "src0")
    val raw = docs.where(col("source") =!= "src0")
    val scored = graft.operators.Relevance
      .oddsVotes(target, raw)
    scored.join(raw.select(col("doc_id"), col("source"), col("lang")),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .where(col("rk") <= 25)
      .select(col("rk"), col("doc_id"), col("source"), col("lang"),
        col("score"))
      .orderBy(col("rk"))
  }

  /** kNN label prediction over embeddings — holdout vectors
    * (vec_id % 5 = 0) classified by the majority label of their 5
    * nearest labeled neighbors ([[Similarity.gridTopK]]: both sides
    * are data-sized, so the exact all-pairs scoring runs as a grid
    * equi-join — no corpus-fraction broadcast; sim rounded to 4 dp
    * before ranking, ties by neighbor then label — fully
    * deterministic). Output: the confusion matrix plus per-cell mean
    * neighbor agreement — the standard label-noise/split-leakage
    * diagnostic over an embedded corpus. */
  def q152KnnLabelConfusion(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = t(spark, dir).embeddings
    val labeled = emb.where(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val holdout = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // the holdout is 1/5 of the CORPUS — not "small by construction",
    // so the broadcast brute-force path is the wrong regime: gridTopK
    // scores the same exact pairs through a grid equi-join with
    // bounded per-task memory (bit-identical output)
    val nn = Similarity.gridTopK(holdout, labeled, k = 5)
    val nl = nn.join(
      emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
    val votes = nl.groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("v"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("v").desc, col("n_label"))))
      .where(col("vr") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"),
        col("v").as("agree"))
    votes.join(
        emb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("agree")) / (lit(5.0) * count(lit(1))), 4)
          .as("mean_agreement"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** SCD type-2 dimension build from a change log — the warehouse
    * pattern every pipeline's dim tables need: collapse each user's
    * event stream into versioned rows with [valid_from, valid_to)
    * effective ranges, one row per RUN of equal attribute values
    * (gaps-and-islands change detection via lag, range close via
    * lead). All windows are user-partitioned — no global state; the
    * output is the dim table the as-of joins (q26/q74/q76, ScdAsof)
    * consume. Timestamps emit as strings (determinism rule); the
    * open-ended current version carries valid_to = null. */
  def q154Scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val chg = ev
      .withColumn("prev", lag(col("event_type"), 1).over(ord))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = chg.groupBy(col("user_id"), col("version"))
      .agg(min(struct(col("ts"), col("event_id"))).getField("ts")
          .as("vf"),
        // event_type is CONSTANT within a version by construction;
        // min() keeps the no-first() determinism rule anyway
        min(col("event_type")).as("event_type"),
        count(lit(1)).as("n_events"))
    val vw = Window.partitionBy(col("user_id")).orderBy(col("version"))
    versions
      .withColumn("vt", lead(col("vf"), 1).over(vw))
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("vf"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("vt"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"),
        col("vt").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Surgical eval decontamination
    * ([[graft.operators.Dedup.removeContaminatedSpans]], k=5) — the
    * cut-don't-drop middle ground to q89's doc-level flagging: remove
    * only the token spans covered by a 5-gram that occurs anywhere in
    * the benchmark slice (doc_id % 50 = 0, q89's split), keep the
    * rest. Eval gram set is benchmark-sized → broadcasts; the corpus
    * streams. Same audit shape as q153. */
  def q155DeconSpanRemoval(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = t(spark, dir).documents
    val evalDocs = docs.where(col("doc_id") % 50 === 0)
    val train = docs.where(col("doc_id") % 50 =!= 0)
    Dedup.removeContaminatedSpans(train, evalDocs)
      .orderBy(col("doc_id"))
  }

  /** Cohort retention triangle — the product-analytics standard:
    * users cohorted by first-activity week, activity counted as
    * distinct (user, week) presence, retention = share of the cohort
    * active at each week offset. Two keyed aggregations (user-level
    * cohort derivation, then matrix rollup) and integer basis points;
    * week truncation is Monday-based in both engines. At 100 TB the
    * (user, week) distinct projection is the only corpus-scale
    * shuffle — the matrix itself is cohorts × offsets. */
  def q156CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val uw = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, Seq("user_id"))
      // both weeks are Monday-truncated, so the day gap is an exact
      // multiple of 7; expr-div keeps it integer (Column./ is DOUBLE)
      .withColumn("offset_weeks",
        (datediff(col("week"), col("cohort_week")).cast("long") / lit(7L))
          .cast("long"))
      .groupBy(col("cohort_week"), col("offset_weeks"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(fmtDate(col("cohort_week")).as("cohort_week"),
        col("offset_weeks"), col("n_active"), col("cohort_size"),
        expr("n_active * 10000 div cohort_size").as("retention_bp"))
      .orderBy(col("cohort_week"), col("offset_weeks"))
  }

  /** Ordered conversion funnel view → click → purchase: each step's
    * timestamp is the user's EARLIEST qualifying event at-or-after the
    * previous step (min-based, the standard deterministic funnel
    * semantics; q32's single-hop attribution generalized to an ordered
    * chain). Three user-keyed conditional aggregations — the row
    * explosion of a 3-way self-join never happens; Spark reuses the
    * user_id partitioning across the chained aggs. Output: one row
    * per step with survivors and step-to-step conversion bp. */
  def q157OrderedFunnel(spark: SparkSession, dir: String): DataFrame =
    Analytics.orderedFunnel(events(spark, dir),
        Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  /** Daily event-rate anomaly detection with an INTEGER-EXACT
    * decision: per (event_type, day), flag days whose count deviates
    * ≥2σ from the trailing-7-day window. The z² ≥ 4 test is algebra
    * over exact integer window sums — (n·k − s1)² ≥ 4·(k·s2 − s1²)
    * with s1=Σn, s2=Σn², k=window size — so the FLAG never touches a
    * float (the reported z value is derived from the same exact
    * integers and rounds once). Windows are type-partitioned; daily
    * counts are one keyed aggregation of the corpus. */
  def q158RateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        fmtDate(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("k", count(col("n")).over(w))
      .where(col("k") >= 4)
      .withColumn("num", col("n") * col("k") - col("s1"))
      .withColumn("den", col("k") * col("s2") - col("s1") * col("s1"))
      .select(col("event_type"), col("day"), col("n"), col("s1"),
        col("k"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(
            signum(col("num")) * sqrt(col("num") * col("num")
              / col("den")), 4)).as("z"),
        (col("den") > 0 &&
          col("num") * col("num") >= col("den") * 4).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Adaptive per-language quality cut — absolute quality scores are
    * not comparable across languages, so curation thresholds are set
    * PER LANGUAGE: cut the bottom decile of each language by q46's
    * quality score using the exact nearest-rank percentile (quota
    * k = ⌈n/10⌉ with (quality, doc_id) tie-breaks — deterministic,
    * no interpolation). Output is the per-language policy row:
    * corpus size, the induced threshold, cut size and basis points. */
  def q159AdaptiveQualityCut(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = t(spark, dir).documents
      .withColumn("quality", qualityScore(tokens(col("text"))))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality"), col("doc_id"))
    val ranked = d
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(
        Window.partitionBy(col("lang"))))
      .withColumn("k_cut", expr("(n_docs + 9) div 10"))
    // quality is a 4-dp double: averages ride as exact 1e-4
    // fixed-point longs (sum order never matters), divided once
    val qfp = round(col("quality") * 10000).cast("long")
    ranked.groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("k_cut")).as("k_cut"),
        max(when(col("rk") <= col("k_cut"), col("quality")))
          .as("p10_quality"),
        sum(when(col("rk") <= col("k_cut"), qfp)).as("cut_fp"),
        sum(when(col("rk") > col("k_cut"), qfp)).as("kept_fp"))
      .select(col("lang"), col("n_docs"), col("k_cut"),
        col("p10_quality"),
        round(col("cut_fp") / col("k_cut") / 10000.0e0, 4)
          .as("avg_cut_quality"),
        when(col("n_docs") === col("k_cut"), lit(null).cast("double"))
          .otherwise(round(
            col("kept_fp") / (col("n_docs") - col("k_cut")) / 10000.0e0,
            4)).as("avg_kept_quality"),
        expr("k_cut * 10000 div n_docs").as("cut_bp"))
      .orderBy(col("lang"))
  }

  /** BM25 full-text retrieval (Robertson k1=1.2, b=0.75, Lucene's
    * always-positive idf) for a fixed 5-query workload — the serving
    * side of the q42 TF-IDF index. Scale shape: postings and doc
    * lengths are each ONE keyed aggregation of the token stream; the
    * query side and the vocabulary-sized df table broadcast; corpus
    * stats attach as a single-row broadcast. Determinism: each term's
    * score rounds to 1e-6 fixed point and documents sum LONGS (the
    * q119 pattern) — multi-term float summation order never matters;
    * ranks tie-break by doc_id. */
  def q160Bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Relevance
    val (post, lens) = Relevance.bm25Postings(
      t(spark, dir).documents)
    val qs = Seq(
      (1L, "hash join"), (2L, "window agg sort"),
      (3L, "spark stream batch"), (4L, "vector query"),
      (5L, "slow scan filter")).toDF("query_id", "qtext")
    Relevance.bm25TopK(post, lens, qs)
  }

  /** Product-quantized ANN with ADC scoring
    * ([[graft.operators.ProductQuant]]): 64-dim vectors → 8 subspaces
    * × 16-codeword codebooks (deterministic one-iteration Lloyd per
    * subspace, the q63 contract) → each vector stored as 8 codes
    * (32× compression); queries score the CODES asymmetrically
    * (exact query sub-vector vs codeword) — the memory-bound
    * compression regime of the ANN stack, complementing IVF's
    * candidate pruning (q41/q115/q134) and int8 rerank (q115).
    * Everything is integer fixed point (1e-6 grid) — codebook fit,
    * assignment, and every ADC distance — so the full fit+encode+
    * serve trajectory is replayed exactly by the SQL oracle. */
  def q161PqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuant
    val subs = graft.operators.Caches.persistTracked(
      ProductQuant.subVectors(t(spark, dir).embeddings))
    val cb = graft.operators.Caches.persistTracked(
      ProductQuant.fitCodebooks(subs))
    val codes = ProductQuant.assign(subs, cb)
    ProductQuant.adcTopK(subs.where(col("vec_id") < 8), codes, cb)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF+PQ composed serving — the FAISS-style production path: IVF
    * prunes WHICH vectors to score (q41's bucket probe, nprobe=2),
    * PQ's 32×-compressed codes are WHAT gets scored (q161's ADC) —
    * the original vectors never load at serving time. At 100 TB the
    * candidate set is nprobe/k of the corpus and each candidate costs
    * m code lookups instead of a d-dim walk; both reductions compose
    * multiplicatively. Fully integer ADC on the deterministic
    * codebooks, so the oracle replays the composed trajectory. */
  def q162IvfPqServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuant
    val emb = t(spark, dir).embeddings
    val vecs = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val cents = vecs.where(col("id") % 250 === 0)
    val assigned = Similarity.nearestCentroids(vecs, cents,
      "neighbor_id", 1)
    val probed = Similarity.nearestCentroids(
      vecs.where(col("id") < 8), cents, "query_id", 2)
    val cand = probed.select(col("query_id"), col("cent_id"))
      .join(assigned.select(col("neighbor_id"), col("cent_id")),
        Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val subs = graft.operators.Caches.persistTracked(
      ProductQuant.subVectors(emb))
    val cb = graft.operators.Caches.persistTracked(
      ProductQuant.fitCodebooks(subs))
    val codes = ProductQuant.assign(subs, cb)
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("cent_id", "code")
    val q6 = subs.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("j"),
        transform(col("sv"), x => x * 100).as("qv6"))
    val scored = cand
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(cb.withColumnRenamed("cent_id", "code")),
        Seq("j", "code"))
      .join(broadcast(q6), Seq("query_id", "j"))
      .select(col("query_id"), col("neighbor_id"),
        ProductQuant.d2(col("qv6"), col("cv")).as("dj"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dj")).as("adc_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Clickstream path mining — the top within-session 3-step event
    * sequences (q31's sessionization + lead-window trigrams): the
    * navigation-pattern report product analytics runs on raw event
    * logs. All windows are user-partitioned; the path rollup
    * aggregates trigram strings (bounded by |event_types|³). Output:
    * rank, path "a>b>c", occurrence count, distinct sessions
    * containing it. */
  def q163SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val tri = sessionized(events(spark, dir))
      .withColumn("t2", lead(col("event_type"), 1).over(inSession))
      .withColumn("t3", lead(col("event_type"), 2).over(inSession))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"),
        concat_ws("#", col("user_id"), col("sid")).as("sess"))
    tri.groupBy(col("path"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("sess")).as("n_sessions"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .where(col("rank") <= 20)
      .select(col("rank"), col("path"), col("n"), col("n_sessions"))
      .orderBy(col("rank"))
  }

  /** Ingest-completeness audit on a generated calendar spine: for
    * each event type, the days in its own [min, max] activity range
    * with ZERO events — the silent-pipeline detector a data-quality
    * suite runs nightly (a gap is indistinguishable from "no data"
    * without the spine). The spine is `sequence()` per type (bounded
    * by the date range, generated engine-side — no driver calendar),
    * anti-joined against observed days. */
  def q164CalendarGaps(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val gaps = spine.join(daily, Seq("event_type", "day"), "left_anti")
    val spanned = spine.groupBy(col("event_type"))
      .agg(count(lit(1)).as("span_days"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("gap_days"),
        min(fmtDate(col("day"))).as("first_gap"),
        max(fmtDate(col("day"))).as("last_gap"))
      .join(spanned, Seq("event_type"), "right")
      .select(col("event_type"), col("span_days"),
        coalesce(col("gap_days"), lit(0L)).as("gap_days"),
        col("first_gap"), col("last_gap"),
        expr("coalesce(gap_days, 0) * 10000 div span_days")
          .as("gap_bp"))
      .orderBy(col("event_type"))
  }

  /** Lakehouse MERGE: a two-batch CDC log (inserts, updates, deletes —
    * with keys touched twice across batches so last-writer-wins
    * compaction is exercised: update→delete, delete→resurrect,
    * insert→update) applied to a base snapshot via
    * [[graft.operators.Cdc.applyChangeset]], then audited per source:
    * row counts before/after, op counts, and an order-independent
    * content checksum (XOR-fold of 48-bit md5 prefixes) proving the
    * merged IMAGES match, not just the cardinalities. The base never
    * shuffles: the apply is anti-join + union on the batch-sized
    * compacted key set. */
  def q165MergeApply(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    val m9 = pmod(col("doc_id"), lit(9))
    val base = d.where(m9 =!= 8)
    def img(pred: Column, seq: Int, op: String, newText: Column,
        nChars: Column): DataFrame =
      d.where(pred).select(col("doc_id"), lit(seq.toLong).as("seq"),
        lit(op).as("op"), newText.as("text"), col("lang"), col("source"),
        nChars.cast("long").as("n_chars"))
    def del(pred: Column, seq: Int): DataFrame =
      d.where(pred).select(col("doc_id"), lit(seq.toLong).as("seq"),
        lit("D").as("op"), lit(null).cast("string").as("text"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"),
        lit(null).cast("long").as("n_chars"))
    val rev2 = concat(col("text"), lit(" rev2"))
    val v3 = concat(col("text"), lit(" v3"))
    val log = del(m9 === 3, 1)
      .unionByName(img(m9 === 1 || m9 === 5, 1, "U", rev2, length(rev2)))
      .unionByName(img(m9 === 8, 1, "I", col("text"), col("n_chars")))
      .unionByName(del(m9 === 5, 2))
      .unionByName(img(m9 === 3 || pmod(col("doc_id"), lit(27)) === 8, 2,
        "U", v3, length(v3)))
    // the log is batch-sized — the double compaction (applyChangeset
    // compacts internally; the audit needs `latest` too) costs two
    // windows over the small side, never a corpus pass
    val merged = graft.operators.Cdc.applyChangeset(base, log, "doc_id")
    val latest = graft.operators.Cdc.compact(log, "doc_id")
    val cls = latest
      .join(base.select(col("doc_id"), col("source").as("b_source")),
        Seq("doc_id"), "left")
      .select(coalesce(col("b_source"), col("source")).as("source"),
        when(col("op") === "D" && col("b_source").isNotNull, "deleted")
          .when(col("op") =!= "D" && col("b_source").isNotNull, "updated")
          .when(col("op") =!= "D", "inserted").as("cls"))
      .where(col("cls").isNotNull) // no-op deletes on absent keys
      .groupBy(col("source"))
      .agg(sum(when(col("cls") === "inserted", 1L).otherwise(0L))
          .as("n_inserted"),
        sum(when(col("cls") === "updated", 1L).otherwise(0L))
          .as("n_updated"),
        sum(when(col("cls") === "deleted", 1L).otherwise(0L))
          .as("n_deleted"))
    val before = base.groupBy(col("source"))
      .agg(count(lit(1)).as("rows_before"))
    val after = merged.groupBy(col("source"))
      .agg(count(lit(1)).as("rows_after"),
        sum(col("n_chars")).as("chars_after"),
        // XOR-fold of 48-bit md5 prefixes: order-independent and
        // overflow-free at any row count (a SUM checksum would wrap)
        expr("bit_xor(cast(conv(substring(md5(concat_ws(':', doc_id, " +
          "text)), 1, 12), 16, 10) as long))").as("text_sum"))
    before.join(after, Seq("source"), "full_outer")
      .join(cls, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("rows_before"), lit(0L)).as("rows_before"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
        coalesce(col("n_updated"), lit(0L)).as("n_updated"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        col("chars_after"), col("text_sum"))
      .orderBy(col("source"))
  }

  /** Positional phrase search over the q160 retrieval stack: a
    * positional inverted index (doc, position, term — ONE corpus-scale
    * posexplode) joined to a broadcast phrase-term workload; a phrase
    * occurrence is a start offset where every phrase term matched at
    * its own offset (`count == phrase_len` over (query, doc, start) —
    * exact also for phrases with repeated terms, since each offset can
    * contribute at most one row per start). Fanout is bounded by
    * matched-term frequency, never all positions × all queries; top-10
    * docs per phrase via the per-query rank window. */
  def q166PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pos = t(spark, dir).documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val phrases = Seq(
      (1L, "hash join"), (2L, "window merge"), (3L, "slow query"),
      (4L, "data stream vector"), (5L, "sort order"))
      .toDF("query_id", "phrase")
    val qterms = phrases
      .select(col("query_id"), size(tokens(col("phrase"))).as("plen"),
        posexplode(tokens(col("phrase"))))
      .select(col("query_id"), col("plen"), col("pos").as("off"),
        col("col").as("term"))
    val hits = pos.join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("plen"), col("doc_id"),
        (col("pos") - col("off")).as("start"))
      .groupBy(col("query_id"), col("plen"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("nmatch"))
      .where(col("nmatch") === col("plen"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_hits").desc, col("doc_id"))
    hits.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("start")).cast("long").as("first_pos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hits"), col("first_pos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Local clustering coefficient per node over the q102 similarity
    * graph — the third graph metric (components q71/q92, PageRank
    * q93, triangle census q102) sharing one mined edge set:
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) as floor basis points
    * (pure integer — no float ratio crosses engines). Degrees come
    * from one explode of the canonical (a<b) edge list; triangles
    * from the q102 wedge-join; both are keyed shuffles over the
    * pair-table-sized frame, never the corpus. */
  def q167ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embedGraph(spark, dir)
    val deg = pairs.select(col("id_a").as("vec_id"))
      .unionAll(pairs.select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= 2)
      .join(triangleCounts(pairs), Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        // tri ≤ deg²/2 so the numerator is deg²·1e4-scale: a hub with
        // deg > ~9.6e6 wraps Long — decimal(38,0) both sides
        expr("2 * cast(coalesce(n_triangles, 0) as decimal(38,0))" +
          " * 10000 div (cast(deg as decimal(38,0)) * (deg - 1))")
          .as("cc_bp"))
      .orderBy(col("cc_bp").desc, col("vec_id"))
  }

  /** Blocked record linkage with the native [[graft.expressions
    * .JaroWinkler]] expression (codegen'd; semantics fuzz-pinned
    * bit-identical to DuckDB's `jaro_winkler_similarity` — see
    * StringSimKernels): a dirty feed (deterministic char-drop /
    * char-dup / suffix perturbations of half the part registry) is
    * linked back to the master registry. Candidate pairs come from
    * rare-character-4-gram blocking over DICTIONARY-ENCODED names
    * (the q22 inverted-index pattern: score distinct name pairs once,
    * df-capped grams, expand winners to records via the per-name min
    * key) — never all-pairs, never re-scoring a repeated name, and
    * robust to name distributions where prefix blocking collapses to
    * one block. Top-1 match per dirty record at rounded jw ≥ 0.88. */
  def q168RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.StringSimExpressions.jaroWinkler
    val p = t(spark, dir).part
    val b = p.where(col("p_partkey") % 2 === 1)
      .withColumn("k", expr("cast(3 + p_partkey % 3 as int)"))
      .select(col("p_partkey").as("b_key"),
        when(col("p_partkey") % 8 === 1, expr(
          "concat(substring(p_name, 1, k - 1), substring(p_name, k + 1))"))
        .when(col("p_partkey") % 8 === 3, expr(
          "concat(substring(p_name, 1, k), substring(p_name, k))"))
        .when(col("p_partkey") % 8 === 5,
          concat(col("p_name"), lit(" inc")))
        .otherwise(col("p_name")).as("b_name"))
    // dictionary-encode before the expensive comparator: score
    // DISTINCT (b_name, a_name) pairs and expand winners afterwards —
    // an all-records block join re-evaluates identical JW pairs
    // millions of times once names repeat. The per-record winner
    // under (jw DESC, a_key ASC) is always the min a_key of an
    // argmax-jw name, so carrying min_a_key per name loses nothing.
    val aNames = p.groupBy(col("p_name").as("a_name"))
      .agg(min(col("p_partkey")).as("min_a_key"))
    val bNames = b.select(col("b_name")).distinct()
    // q-gram blocking (the q22 inverted-index pattern on CHARACTER
    // 4-grams): candidates = name pairs sharing a non-hot gram, with
    // the df cap on the registry side killing stop-grams. A prefix
    // block degenerates on real name distributions (gen10's names all
    // share one prefix — one block, 2e10 comparator calls, measured
    // unrunnable); rare-gram candidates survive every perturbation
    // here (drop/dup touch ≤4 of a name's grams, the suffix none).
    def grams(n: Column): Column = array_distinct(
      transform(sequence(lit(1), length(n) - 3),
        i => substring(n, i, lit(4))))
    val aG = aNames
      .select(col("a_name"), col("min_a_key"),
        explode(grams(col("a_name"))).as("g"))
    val keep = aG.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 200).select(col("g"))
    val cand = bNames
      .select(col("b_name"), explode(grams(col("b_name"))).as("g"))
      .join(aG.join(keep, Seq("g")), Seq("g"))
      .select(col("b_name"), col("a_name"), col("min_a_key"))
      .distinct()
    val scoredNames = cand
      .withColumn("jw",
        round(jaroWinkler(col("b_name"), col("a_name")), 6))
      .where(col("jw") >= 0.88)
    val w = Window.partitionBy(col("b_key"))
      .orderBy(col("jw").desc, col("min_a_key"))
    b.join(broadcast(scoredNames), Seq("b_name"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("b_key"), col("min_a_key").as("a_key"),
        col("b_name"), col("a_name"), col("jw"))
      .orderBy(col("b_key"))
  }

  /** A/B experiment readout: users deterministically split into two
    * arms, per-event-type conversion (strictly-above-average
    * engagement, an integer cross-product decision that stays
    * non-degenerate at every SF) compared arm-vs-arm with a pooled
    * two-proportion z — the nightly experimentation report. All counts are exact integers;
    * z is derived from them in ONE identical double expression per
    * engine and rounded once, and the significance flag reads the
    * ROUNDED z (cross-engine stable, q158's convention). The only
    * corpus-scale stage is the distinct (user, type) projection; arms
    * and totals are broadcast-sized. */
  def q169AbExperiment(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"))
    val users = ev.select(col("user_id")).distinct()
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val armSizes = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"))
    val nUsers = users.agg(count(lit(1)).as("n_users"))
    val perUser = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cu"))
    val perType = perUser.groupBy(col("event_type"))
      .agg(sum(col("cu")).as("st"))
    // converted = strictly-above-average engagement for the type,
    // decided by the EXACT integer cross-product cu·N > S_t (users
    // with zero events of the type sit below average by definition)
    val conv = perUser
      .join(broadcast(perType), Seq("event_type"))
      .crossJoin(broadcast(nUsers))
      // cu·N over decimal(38,0): a hot user's per-type count times a
      // corpus-scale user population exceeds Long range, and a
      // wrapped-negative product would silently DROP exactly the
      // most-converted users from the experiment
      .where(col("cu").cast("decimal(38,0)") * col("n_users")
        > col("st"))
      .withColumn("arm", pmod(col("user_id"), lit(2)))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("c"))
    val wide = conv.join(broadcast(armSizes), Seq("arm"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, col("c"))).as("c0"),
        sum(when(col("arm") === 0, col("n"))).as("n0"),
        sum(when(col("arm") === 1, col("c"))).as("c1"),
        sum(when(col("arm") === 1, col("n"))).as("n1"))
    wide
      // conversion·arm-size cross-products are |users|²-scale —
      // decimal(38,0) so the lift can't wrap at corpus user counts
      .withColumn("lift_bp", expr(
        "(cast(c1 as decimal(38,0)) * n0 -" +
          " cast(c0 as decimal(38,0)) * n1) * 10000" +
          " div nullif(cast(c0 as decimal(38,0)) * n1, 0)"))
      .withColumn("z", expr(
        // degenerate pools (0% or 100%) have zero variance: z is NULL
        "case when c0 + c1 = 0 or c0 + c1 = n0 + n1 then null else " +
          "round((cast(c1 as double)/n1 - cast(c0 as double)/n0)" +
          " / sqrt((cast(c0+c1 as double)/(n0+n1))" +
          " * (1.0 - cast(c0+c1 as double)/(n0+n1))" +
          " * (1.0/n0 + 1.0/n1)), 4) end"))
      .withColumn("significant",
        coalesce(abs(col("z")) >= 1.96, lit(false)))
      .select(col("event_type"), col("n0"), col("c0"), col("n1"),
        col("c1"), col("lift_bp"), col("z"), col("significant"))
      .orderBy(col("event_type"))
  }

  /** Per-type daily-volume trend: ordinary-least-squares slope of
    * events/day against the day ordinal, with all OLS sums (Σx, Σy,
    * Σxy, Σx²) kept as EXACT integers per type; slope and fit emerge
    * from one double expression over those integers, rounded once
    * (IEEE-deterministic cross-engine — the q158 contract). The
    * trend detector a pipeline-health suite runs next to q158's
    * anomaly days and q164's gap calendar. Day ordinals are
    * per-type-anchored (days since the type's first active day). */
  def q170DailyTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    val anchored = daily
      .withColumn("x", datediff(col("day"),
        min(col("day")).over(Window.partitionBy(col("event_type"))))
        .cast("long"))
    anchored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("slope_1e6", expr(
        "cast(round(1e6 * (cast(n_days * sxy - sx * sy as double)" +
          " / (n_days * sxx - sx * sx))) as bigint)"))
      .withColumn("r2_bp", expr(
        "cast(floor(1e4 * (cast(n_days * sxy - sx * sy as double)" +
          " * (n_days * sxy - sx * sy))" +
          " / (cast(n_days * sxx - sx * sx as double)" +
          " * (n_days * syy - sy * sy))) as bigint)"))
      .select(col("event_type"), col("n_days"), col("sy").as("total"),
        col("slope_1e6"), col("r2_bp"))
      .orderBy(col("event_type"))
  }

  /** Bounded 3-core decomposition of the similarity graph — the
    * community-density filter (dense cores survive, pendant chains
    * peel away) over the SAME mined edge set as q167/q102/q93.
    * [[graft.operators.Graphs.kcoreBounded]]: 6 deterministic peel
    * rounds (each one keyed degree count + two node-id semi joins,
    * lineage-truncated), oracle-replayable round for round; the
    * true-fixpoint variant [[graft.operators.Graphs.kcore]] is
    * spec-verified equal on this graph. */
  def q171KcoreBounded(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.kcoreBounded(
        symmetricEdges(embedGraph(spark, dir)), rounds = 6)
      .select(col("id").as("vec_id"), col("core_deg"))
      .orderBy(col("vec_id"))

  /** Interval union (coverage) per user: each event opens an activity
    * interval of VARIABLE length (60 + event_id mod 3600 seconds), and
    * overlapping intervals merge into islands via the running-max-end
    * break rule — the general interval-union operator (q31's
    * fixed-gap sessionization is the degenerate constant-duration
    * case; variable durations genuinely need the running max, since
    * one long early interval can swallow many later short ones).
    * Island coverage is `max_end − min_start` in exact epoch seconds.
    * One user-partitioned sort serves both windows. */
  def q172IntervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val iv = events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("s"))
      .withColumn("e", col("s") + lit(60L) + pmod(col("event_id"), lit(3600L)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val marked = iv
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max_e").isNull
          || col("s") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = marked.groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
      .withColumn("len", col("i_end") - col("i_start"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("len")).as("covered_sec"),
        max(col("len")).as("longest_sec"))
      .orderBy(col("user_id"))
  }

  /** Funnel time-to-convert: users completing the q157 view → click →
    * purchase chain, summarized as exact NEAREST-RANK latency
    * percentiles (rank = ⌈p·n/100⌉, (latency, user_id) tie-break —
    * q159's no-interpolation convention) in integer seconds. The
    * chain is three user-keyed conditional aggregations reusing one
    * partitioning; the percentile window runs over the
    * converted-USERS frame (at 1e9 users this becomes the standard
    * two-phase distribution count — noted, not needed here). */
  def q173FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.join(s1, Seq("user_id"))
      .where(col("event_type") === "click" && col("ts") >= col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = ev.join(s2, Seq("user_id"))
      .where(col("event_type") === "purchase" && col("ts") >= col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t3"), min(col("t1")).as("t1"))
    val lat = graft.operators.Caches.persistTracked(
      s3.select(col("user_id"),
        (unix_timestamp(col("t3")) - unix_timestamp(col("t1")))
          .as("latency")))
    // exact percentile ranks over the converted-user frame, TWO-PHASE
    // (the frame is one row per funnel-completing user — data-sized
    // at 100 TB, so no single-task global window): global rank from
    // Analytics.globalRunning, total attached as a one-row broadcast.
    val ranked = Analytics.globalRunning(lat,
        Seq(col("latency"), col("user_id")), rankOut = Some("rn"))
      .crossJoin(broadcast(lat.agg(count(lit(1)).as("n"))))
    ranked.agg(
      max(col("n")).as("n_converted"),
      max(when(col("rn") === expr("(n * 25 + 99) div 100"),
        col("latency"))).as("p25_sec"),
      max(when(col("rn") === expr("(n * 50 + 99) div 100"),
        col("latency"))).as("p50_sec"),
      max(when(col("rn") === expr("(n * 75 + 99) div 100"),
        col("latency"))).as("p75_sec"),
      max(when(col("rn") === expr("(n * 90 + 99) div 100"),
        col("latency"))).as("p90_sec"),
      max(col("latency")).as("max_sec"))
  }

  /** Join-cardinality estimation from mergeable AMS sketches — the
    * optimizer-statistics primitive: |A ⋈ B| = Σ cA(k)·cB(k) is
    * estimated UNBIASED by the signed-count inner product (AMS F2
    * sketch: each key hashes to one of 256 buckets AND a ±1 sign;
    * est_j = Σ_b Sa·Sb has expectation exactly the true join size,
    * unlike the all-positive CMS inner product whose collision bias
    * explodes once distinct keys ≫ buckets), median of 5 independent
    * rows. Each side folds to 5×256 integer cells with map-side
    * combine — the estimate costs O(rows·buckets) shuffle regardless
    * of table size, which is the point of the sketch. Hashing is the
    * portable md5-prefix (q106's convention); the nearest-rank median
    * of 5 exact integers never touches a float. */
  def q174JoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    def profile(name: String, a: DataFrame, b: DataFrame): DataFrame = {
      // persistEager (round-12): each per-key count frame feeds BOTH
      // the exact-cardinality join and the AMS sketch cells — without
      // a cache the corpus-scale groupBy ran twice per side, and with
      // a LAZY cache the two consumer subtrees raced it cold and
      // still both recomputed (measured: lazy flat at 2.5 s, eager
      // 1.94 s vs 2.88 s uncached, same window)
      val ca = graft.operators.Caches.persistEager(
        a.groupBy(col("k")).agg(count(lit(1)).as("ca")))
      val cb = graft.operators.Caches.persistEager(
        b.groupBy(col("k")).agg(count(lit(1)).as("cb")))
      val exact = ca.join(cb, Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact_card"))
      def cells(kc: DataFrame, cnt: String, out: String) = kc
        .select(col("k"), col(cnt),
          explode(expr("array(0, 1, 2, 3, 4)")).as("j"))
        .select(col("j"),
          conv(substring(md5(concat_ws("|", col("j"), col("k"))),
            1, 2), 16, 10).cast("int").as("b"),
          (when(conv(substring(md5(concat_ws("|", lit("s"), col("j"),
            col("k"))), 1, 1), 16, 10).cast("int") % 2 === 0, 1L)
            .otherwise(-1L) * col(cnt)).as("sc"))
        .groupBy(col("j"), col("b")).agg(sum(col("sc")).as(out))
      val estRows = cells(ca, "ca", "sa")
        .join(cells(cb, "cb", "sb"), Seq("j", "b"))
        .groupBy(col("j")).agg(sum(col("sa") * col("sb")).as("est"))
      val est = estRows
        .withColumn("rn", row_number().over(
          Window.orderBy(col("est"), col("j"))))
        .where(col("rn") === 3)
        .select(col("est").as("est_card"))
      exact.crossJoin(est)
        .select(lit(name).as("join_name"), col("exact_card"),
          col("est_card"),
          expr("(est_card - exact_card) * 10000 div exact_card")
            .as("err_bp"))
    }
    val tt = t(spark, dir)
    profile("lineitem_orders",
        tt.lineitem.select(col("l_orderkey").as("k")),
        tt.orders.select(col("o_orderkey").as("k")))
      .unionByName(profile("orders_customer",
        tt.orders.select(col("o_custkey").as("k")),
        tt.customer.select(col("c_custkey").as("k"))))
      .orderBy(col("join_name"))
  }

  /** Market-basket association rules at brand grain: baskets =
    * distinct (order, brand) from the fact table (one dim join + one
    * distinct projection — the only corpus-scale stages), directional
    * rules a→b scored by support / confidence / lift with ALL metrics
    * integer fixed-point (lift_1e6 = ⌊1e6·supp_ab·N / (supp_a·supp_b)⌋
    * — exact rational ranking, no float ordering crosses engines).
    * Brand-pair space is |brands|² — the rule rollup never scales with
    * the corpus. Top-20 rules by lift with support ≥ 5. */
  def q175BasketRules(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    val baskets = tt.lineitem
      .join(broadcast(tt.part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
    val nOrders = baskets.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val supp = baskets.groupBy(col("b")).agg(count(lit(1)).as("s"))
    val pairs = baskets.join(
        baskets.select(col("ok"), col("b").as("b2")), Seq("ok"))
      .where(col("b") =!= col("b2"))
      .groupBy(col("b").as("ante"), col("b2").as("cons"))
      .agg(count(lit(1)).as("s_ab"))
      .where(col("s_ab") >= 5)
    val scored = pairs
      .join(broadcast(supp.select(col("b").as("ante"),
        col("s").as("s_a"))), Seq("ante"))
      .join(broadcast(supp.select(col("b").as("cons"),
        col("s").as("s_b"))), Seq("cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("s_ab"), col("s_a"),
        col("s_b"),
        // conf_bp stays long: s_ab ≤ n_orders, ·10000 needs > 9.2e14
        // orders (≈ sf 6e8) to wrap. lift rides decimal(38,0): the
        // numerator is support·orders·1e6 ≈ corpus² and wraps Long
        // from sf≈1e3 on; div on decimals still yields exact long.
        expr("s_ab * 10000 div s_a").as("conf_bp"),
        expr("cast(s_ab as decimal(38,0)) * n_orders * 1000000" +
          " div (cast(s_a as decimal(38,0)) * s_b)")
          .as("lift_1e6"))
    scored
      .withColumn("rank", row_number().over(Window.orderBy(
        col("lift_1e6").desc, col("ante"), col("cons"))))
      .where(col("rank") <= 20)
      .select(col("rank"), col("ante"), col("cons"), col("s_ab"),
        col("conf_bp"), col("lift_1e6"))
      .orderBy(col("rank"))
  }

  /** RFM customer segmentation: recency (days since last order,
    * against the corpus max date — no wall clock, T10), frequency
    * (order count), monetary (integer cents) quintiled with ntile(5)
    * over fully tie-broken orderings (metric, custkey — both engines
    * implement SQL-standard equal-fill buckets, deterministic once
    * the order is total). Output: one row per populated (r,f,m)
    * cell with customer count and exact money stats — at most 125
    * rows regardless of corpus size; the only corpus-scale stage is
    * the per-customer order rollup. */
  def q176RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir).orders
    val maxDate = o.agg(max(col("o_orderdate")).as("d_max"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_d"),
        count(lit(1)).as("freq"),
        centsSum(col("o_totalprice")).as("money_c"))
      .crossJoin(broadcast(maxDate))
      .select(col("o_custkey"),
        datediff(col("d_max"), col("last_d")).as("rec_days"),
        col("freq"), col("money_c"))
    // three corpus-order ntiles (R/F/M) over the per-customer frame —
    // each TWO-PHASE (Analytics.globalRunning): the customer aggregate
    // is data-sized at 100 TB, so a literal global ntile window is the
    // single-task sort the plan audit rejects; shards derive from
    // exact global ranks, bit-identical to the ntile(5) windows.
    val rfmP = graft.operators.Caches.persistTracked(rfm)
    val total = rfmP.agg(count(lit(1)).as("__n"))
    val withRanks = Analytics.globalRunning(
      Analytics.globalRunning(
        Analytics.globalRunning(rfmP,
          Seq(col("rec_days"), col("o_custkey")), rankOut = Some("__rkr")),
        Seq(col("freq").desc, col("o_custkey")), rankOut = Some("__rkf")),
      Seq(col("money_c").desc, col("o_custkey")), rankOut = Some("__rkm"))
    withRanks.crossJoin(broadcast(total))
      .withColumn("r",
        Analytics.ntileFromRank(col("__rkr"), col("__n"), 5))
      .withColumn("f",
        Analytics.ntileFromRank(col("__rkf"), col("__n"), 5))
      .withColumn("m",
        Analytics.ntileFromRank(col("__rkm"), col("__n"), 5))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("money_c")) / 100.0).as("revenue"),
        min(col("rec_days")).as("min_rec"),
        max(col("rec_days")).as("max_rec"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** Pareto / ABC inventory classification: parts ranked by exact
    * integer-cents revenue, classified by the RUNNING cumulative
    * revenue share (A ≤ 80%, B ≤ 95%, C rest — thresholds compared in
    * exact basis points over decimal(38,0): cum·10000 ≤ bp·total with
    * corpus-scale cents totals, so the cross-product can never wrap
    * Long; no float division in the decision). One keyed rollup of
    * the fact table; the ranked
    * running-sum window is part-frame sized (at open cardinality it
    * becomes the two-phase prefix-sum — same note as q173). */
  def q177AbcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    val rev = tt.lineitem
      .groupBy(col("l_partkey"))
      .agg(centsSum(col("l_extendedprice")).as("rev_c"))
    val revP = graft.operators.Caches.persistTracked(rev)
    val total = revP.agg(sum(col("rev_c")).as("total_c"))
    // cumulative revenue in descending-revenue order over the PART
    // frame — two-phase (Analytics.globalRunning): the per-part
    // aggregate is data-sized (20B parts at 100 TB), so the running
    // sum decomposes into range-partitioned intra sums + a pid-frame
    // offset window, bit-identical to the global window it replaces.
    Analytics.globalRunning(revP,
        Seq(col("rev_c").desc, col("l_partkey")),
        runningSums = Seq("rev_c" -> "cum_c"))
      .crossJoin(broadcast(total))
      // decimal(38,0) basis-point cross-multiplication: cum_c/total_c
      // are corpus-scale cents (≈2.3e13·sf) and ·10000 exceeds Long
      // past sf≈40 — under the ANSI default that ABORTS the query,
      // under non-ANSI it wraps negative and silently misclassifies
      // every part — the SimilarityJoinExec split-predicate overflow
      // class. decimal keeps the compare exact at
      // any scale (2.3e22 is 23 digits ≪ 38); `div` (IntegralDivide)
      // on decimal operands still returns an exact LongType, so the
      // oracle schema is unchanged.
      .withColumn("cls",
        when(col("cum_c").cast("decimal(38,0)") * 10000
            <= col("total_c").cast("decimal(38,0)") * 8000, "A")
          .when(col("cum_c").cast("decimal(38,0)") * 10000
            <= col("total_c").cast("decimal(38,0)") * 9500, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("rev_c")) / 100.0).as("revenue"),
        expr("cast(sum(rev_c) as decimal(38,0)) * 10000" +
          " div max(total_c)").as("share_bp"))
      .orderBy(col("cls"))
  }

  /** Behavioral-entropy bot screen (the reference's bot-detection
    * theme, information-theoretic flavor): Shannon entropy of each
    * user's event-type distribution — a user hammering one endpoint
    * scores near 0 nats, organic browsing near ln(5). All counts are
    * exact integers; each per-type term rounds ONCE from one closed
    * expression of two exact integers (term = (c/n)·ln(n/c) at 1e-6
    * fixed point — the q160 ln contract) and the per-user entropy is
    * then an INTEGER sum of rounded terms, so no float summation
    * order exists anywhere. One corpus-scale keyed aggregation; the
    * term frame is |users|×|types|. Bottom-100 by entropy among
    * users with ≥ 20 events. */
  def q178UserEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perType = events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val perUser = perType
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("user_id"))))
      .withColumn("term_1e6", expr(
        "cast(round(1e6 * (c / n) * ln(n / c)) as bigint)"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("term_1e6")).as("h_1e6"))
      .where(col("n_events") >= 20)
    perUser
      .withColumn("rank", row_number().over(
        Window.orderBy(col("h_1e6"), col("user_id"))))
      .where(col("rank") <= 100)
      .select(col("rank"), col("user_id"), col("n_events"),
        col("n_types"), col("h_1e6"))
      .orderBy(col("rank"))
  }

  /** Population-stability-index drift monitor (the training-data
    * twin of q158's rate anomaly): per event type, the `value`
    * distribution of the corpus' first time-half vs its second,
    * histogrammed into the q34 width-50 bins (capped at bin 9) with
    * +1 Laplace smoothing over the full 10-bin domain so empty bins
    * contribute finitely. Each bin's PSI term
    * (p_a−p_b)·ln(p_a/p_b) is ONE rounded expression of four exact
    * integers (1e-6 fixed point); the per-type PSI is the integer
    * sum of rounded terms, and the drift flag compares integers.
    * The half split is the exact integer midpoint of the corpus
    * epoch-second range — no wall clock (T10). Only the binned
    * count aggregation touches the corpus; everything after is
    * |types|×10 cells. */
  def q179PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("es"))
    val mid = ev.agg(
      ((min(col("es")) + max(col("es"))) / lit(2L)).cast("long")
        .as("mid"))
    // persisted: four downstream consumers (per-half counts and
    // totals) would otherwise each rescan the corpus — with the
    // cache, the query reads events exactly twice (midpoint pass +
    // binning pass, the honest minimum for a data-dependent split)
    val binned = graft.operators.Caches.persistTracked(
      ev.crossJoin(broadcast(mid))
        .select(col("event_type"),
          when(col("es") < col("mid"), lit("a")).otherwise(lit("b"))
            .as("half"),
          least(floor(col("value") / 50.0).cast("int"), lit(9))
            .as("bin"))
        .groupBy(col("event_type"), col("half"), col("bin"))
        .agg(count(lit(1)).as("c")))
    val spine = binned.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(expr("sequence(0, 9)")).as("bin"))
    def half(h: String, cn: String, nn: String): DataFrame = binned
      .where(col("half") === h)
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as(nn))
      .join(spine, Seq("event_type"))
      .join(binned.where(col("half") === h)
          .select(col("event_type"), col("bin"), col("c").as(cn)),
        Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col(cn), lit(0L)).as(cn), col(nn))
    val terms = half("a", "ca", "na")
      .join(half("b", "cb", "nb"), Seq("event_type", "bin"))
      .withColumn("term_1e6", expr(
        "cast(round(1e6 * ((ca + 1) / (na + 10) - (cb + 1) / (nb + 10))" +
          " * ln(((ca + 1) * (nb + 10)) / ((cb + 1) * (na + 10)))) " +
          "as bigint)"))
    terms.groupBy(col("event_type"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("term_1e6")).as("psi_1e6"))
      .withColumn("drifted",
        (col("psi_1e6") >= 10000L).cast("int"))
      .orderBy(col("event_type"))
  }

  /** Time-decayed trending score (the reference's trending-hashtags
    * theme made decay-aware): per-user activity where a day's count
    * is worth half after every 7 days of age against the corpus max
    * day — recency-weighted "who is hot NOW", not all-time volume.
    * The decay is a PURE INTEGER right-shift (score += n·1e6 >>
    * (age/7)) so no float power ever exists; ages cap at 62 shifts.
    * One (user, day) rollup is the only corpus-scale stage; the
    * decayed fold is |users|×|days| and commutes (integer adds), so
    * it maintains incrementally under append — a new day only ADDS
    * terms (the sketch-maintenance property). Top-20 users. */
  def q180DecayedTrending(spark: SparkSession, dir: String): DataFrame =
    Analytics.decayedTrending(
      events(spark, dir)
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n")))

  /** Linear multi-touch attribution (q32's last-touch single hop
    * generalized to credit EVERY touch): each purchase splits
    * exactly 10000 credit basis points equally across its
    * view/click touches of the prior 7 days, with the remainder
    * assigned to the MOST RECENT touches by largest-remainder
    * rounding — per-conversion credit sums to exactly 10000 by
    * construction, so the report's total credit is purchases×10000,
    * an auditable integer invariant. The touch join is user-keyed
    * with a range residual (the q32/q100 per-user shape: output
    * bounded by touches-within-window per purchase, never a
    * cartesian); credit ranks are per-purchase windows. */
  def q181LinearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("es"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("es").as("p_es"))
    val touches = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"), col("es").as("t_es"))
    val joined = purchases.join(touches, Seq("user_id"))
      .where(col("t_es") <= col("p_es")
        && col("p_es") - col("t_es") <= 7L * 86400L)
    val w = Window.partitionBy(col("p_id"))
    val credited = joined
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("t_es").desc, col("t_id").desc)))
      .withColumn("credit_bp", expr(
        "10000 div k + if(rn <= 10000 % k, 1, 0)"))
    credited.groupBy(col("touch_type"))
      .agg(sum(col("credit_bp")).as("credit_bp"),
        count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_conversions"))
      .orderBy(col("touch_type"))
  }

  /** Community detection over the mined similarity graph via
    * [[graft.operators.Graphs.labelPropagation]] (4 synchronous
    * rounds, plurality label, smallest-label tie-break — bounded and
    * deterministic, so the DuckDB oracle replays the rounds exactly
    * like q171's peel unroll). Completes the graph suite's community
    * axis next to components (q71/q92: reachability), k-core (q171:
    * density), PageRank (q93: centrality) — LPA splits dense
    * near-dup clusters that mere reachability merges. Edge set =
    * the q167/q171 shared cosine mine; output = top-50 communities
    * by size. */
  def q182LabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.operators.Graphs.labelPropagation(
      symmetricEdges(embedGraph(spark, dir)), rounds = 4)
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_nodes").desc, col("community"))))
      .where(col("rank") <= 50)
      .select(col("rank"), col("community"), col("n_nodes"))
      .orderBy(col("rank"))
  }

  /** Session Markov chain: transition matrix over consecutive
    * in-session event pairs (q163's sessionization, hop 1) and its
    * stationary distribution by 8 rounds of INTEGER fixed-point
    * power iteration (the q93 PageRank arithmetic: probabilities
    * and masses are 1e6-scaled longs, every step floors — replayable
    * in any SQL engine, deterministic under any partitioning; the
    * floored mass leak is bounded by |states| per round and never
    * redistributed, which the oracle reproduces exactly). The only
    * corpus-scale stage is the transition count; the matrix and all
    * iteration frames are |event_types|²-sized and persisted once
    * so the 8 rounds never re-derive the sessionization. */
  def q183MarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both the row-totals and the matrix join consume it,
    // and without the cache each would re-run the corpus-scale
    // sessionization windows
    val trans = graft.operators.Caches.persistTracked(
      sessionized(events(spark, dir))
        .withColumn("nxt", lead(col("event_type"), 1).over(inSession))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("t_ab")))
    val tot = trans.groupBy(col("a")).agg(sum(col("t_ab")).as("t_a"))
    val p = graft.operators.Caches.persistTracked(
      trans.join(tot, Seq("a"))
        .select(col("a"), col("b"),
          // t_ab is an event-transition count; ·1e6 wraps Long past
          // ~9.2e12 events — decimal(38,0) numerator, exact long out
          expr("cast(t_ab as decimal(38,0)) * 1000000 div t_a")
            .as("p_1e6")))
    val states = graft.operators.Caches.persistTracked(
      tot.withColumn("m", count(lit(1)).over(Window.partitionBy()))
        .select(col("a").as("s"), col("t_a"), col("m")))
    var pi: DataFrame = states
      .select(col("s"), expr("1000000 div m").as("pi"))
    var it = 1
    while (it <= 8) {
      val nxt = p
        .join(pi.withColumnRenamed("s", "a").withColumnRenamed("pi", "pa"),
          Seq("a"))
        .groupBy(col("b").as("s"))
        .agg(sum(expr("pa * p_1e6 div 1000000")).as("pi_in"))
      // lazy truncate (round-12): pi is |states|-sized and only ever
      // read by the NEXT round's plan; without truncation each
      // round's broadcast builds re-executed the whole prior-round
      // chain (8 rounds deep by the end). Lazy = no extra job.
      pi = graft.operators.Lineage.truncateLazy(
        states.select(col("s")).join(nxt, Seq("s"), "left")
          .select(col("s"), coalesce(col("pi_in"), lit(0L)).as("pi")))
      it += 1
    }
    states.select(col("s"), col("t_a")).join(pi, Seq("s"))
      .join(p.where(col("a") === col("b"))
          .select(col("a").as("s"), col("p_1e6").as("self_1e6")),
        Seq("s"), "left")
      .select(col("s").as("state"), col("t_a").as("n_out"),
        coalesce(col("self_1e6"), lit(0L)).as("p_self_1e6"),
        col("pi").as("pi_1e6"))
      .orderBy(col("state"))
  }

  /** Pareto skyline of the part catalog (minimize price, maximize
    * size): a part is dominated iff some part is no-worse on both
    * axes and strictly better on one. The classic 2-D sort-scan
    * skyline, with the dominance frontier computed on the
    * PER-PRICE aggregate, not the row stream: a distributed
    * groupBy(price_c) rolls each distinct price up to its max size,
    * the strictly-cheaper running max is a window over that
    * price-distinct frame (bounded by the PRICE DOMAIN — ~2e5
    * distinct cents values here, never corpus cardinality — so the
    * one unpartitioned window is constant-sized at any scale; a
    * window straight over the rows would funnel the whole table
    * through one partition, Spark's WindowExec does not
    * range-distribute an unpartitioned ORDER BY), and survivors
    * come back via a broadcast join on price_c. Dominance never
    * needs a self-join, let alone all-pairs. Equal (price, size)
    * rows dominate neither way and all survive, keeping the output
    * deterministic without arbitrary picks. */
  def q184Skyline(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir).part
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size"))
    val perPrice = p.groupBy(col("price_c"))
      .agg(max(col("p_size")).as("m2"))
    val w1 = Window.orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("m1", max(col("m2")).over(w1))
    p.join(broadcast(frontier), Seq("price_c"))
      .where((col("m1").isNull || col("m1") < col("p_size"))
        && col("m2") === col("p_size"))
      .select(col("p_partkey"), (col("price_c") / 100.0).as("price"),
        col("p_size"))
      .orderBy(col("price"), col("p_partkey"))
  }

  /** Exact Jaccard ≥ 0.6 near-dup pairs with NO df cap via
    * [[graft.operators.Dedup.prefixFilterPairs]] (prefix filtering —
    * each doc indexes only its rarest |d|−⌈t·|d|⌉+1 shingles under
    * the global df order; provably no false negatives). This is the
    * LOSSLESS exact-mining regime next to q22's df-capped index
    * (which trades recall for bounded fanout once the cap engages)
    * and q23's LSH (probabilistic recall): the oracle is the
    * uncapped all-pairs definition itself, so a green row proves
    * the filter drops nothing. */
  def q185PrefixPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterPairs(t(spark, dir).documents, thresholdBp = 6000)
      .orderBy(col("id_a"), col("id_b"))

  /** Benford first-digit audit of order totals (the forensic
    * data-quality screen: fabricated or unit-mangled money columns
    * break Benford's law long before range checks fire). Digits come
    * from the integer-cents STRING head (long→string rendering is
    * engine-stable; no float log10 in the digit path), expected
    * proportions are pinned 1e-6 literals of log10(1+1/d) that sum
    * to exactly 10⁶, and each digit's χ² term is ONE rounded double
    * expression of exact integers (the q158/q170 contract — squares
    * ride in doubles because (n_d·10⁶−n·e₆)² overflows longs at
    * corpus scale). One scan, 9 output rows; a digit spine keeps
    * absent digits as explicit zero rows. */
  def q186BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = spark.sql(
      """SELECT * FROM VALUES (1, 301030L), (2, 176091L), (3, 124939L),
        |(4, 96910L), (5, 79181L), (6, 66947L), (7, 57992L),
        |(8, 51153L), (9, 45757L) AS t(digit, exp_1e6)""".stripMargin)
    val obs = t(spark, dir).orders
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val total = obs.agg(sum(col("n_d")).as("n"))
    digits.join(broadcast(obs), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_d"), lit(0L)).as("n_d"),
        col("exp_1e6"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n_d"),
        // bound: n_d ≤ n = |orders|; n·1e6 (and n·exp_1e6, exp ≤
        // 3.02e5) stays in Long below ~9.2e12 orders ≈ sf 6e6 — three
        // orders of magnitude past the 100 TB design point
        expr("n_d * 1000000 div n").as("obs_1e6"), col("exp_1e6"),
        expr("cast(round(pow(cast(n_d * 1000000 - n * exp_1e6 as double), 2)" +
          " / (cast(n as double) * exp_1e6 * 1000000)) as bigint)")
          .as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** One-pass column profile of the fact table (the Deequ-style
    * audit a pipeline runs before accepting a drop): per pinned
    * numeric column — row count, nulls, exact distincts, min, max —
    * computed in ONE wide aggregation (a single scan regardless of
    * column count; the multi-distinct expand is the known cost and
    * the point: profile passes batch the metrics, never one scan
    * per metric) and unpivoted to long format via stack. Min/max
    * are emitted as doubles (no cross-row float arithmetic — only
    * comparisons, which are exact). */
  def q187ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"))
    }
    val wide = t(spark, dir).lineitem.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
      .mkString(", ")
    wide.selectExpr("n_rows",
      s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_nulls, n_distinct, min_v, max_v)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy(col("column_name"))
  }

  /** Cross-segment audience overlap from PORTABLE HLL registers by
    * inclusion–exclusion: |A∩B| ≈ est(A)+est(B)−est(A∪B), where the
    * union estimate falls out of the register-max merge (q114's
    * monoid) WITHOUT touching raw data — the sketch-composition
    * query a 100 TB segmentation system answers from 256-long
    * register tables per segment while the corpus stays cold. The
    * q107 register chain is mined once; type-pair union registers,
    * estimates, and the exact intersections (verification columns)
    * are |types|²-sized. Fully oracle-checked: the md5 registers
    * replay exactly in DuckDB, so even the estimates hash-match. */
  def q188HllIntersection(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Caches.persistTracked(
      events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct())
    val regs = graft.operators.Caches.persistTracked(
      hllRanks(pairs)
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("r")).as("r")))
    val alpha =
      expr("0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0")
    def est(g: DataFrame, keys: Seq[String]): DataFrame = g
      .groupBy(keys.map(col): _*)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - r)")).as("s_used"),
        count(lit(1)).as("nb"))
      .withColumn("est", round(alpha
        / (col("s_used") + (lit(256L) - col("nb")) * lit(562949953421312L)),
        2))
      .select(keys.map(col) :+ col("est"): _*)
    val perType = est(regs, Seq("event_type"))
    val types = regs.select(col("event_type")).distinct()
    val typePairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .where(col("ta") < col("tb"))
    val unionRegs = typePairs
      .join(regs.withColumnRenamed("event_type", "ta"), Seq("ta"))
      .unionByName(typePairs
        .join(regs.withColumnRenamed("event_type", "tb"), Seq("tb"))
        .select(col("ta"), col("tb"), col("bucket"), col("r")))
      .groupBy(col("ta"), col("tb"), col("bucket"))
      .agg(max(col("r")).as("r"))
    val estUnion = est(unionRegs, Seq("ta", "tb"))
      .withColumnRenamed("est", "est_union")
    val exact = pairs.select(col("event_type").as("ta"), col("user_id"))
      .join(pairs.select(col("event_type").as("tb"), col("user_id")),
        Seq("user_id"))
      .where(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("exact_inter"))
    estUnion
      .join(perType.select(col("event_type").as("ta"),
        col("est").as("est_a")), Seq("ta"))
      .join(perType.select(col("event_type").as("tb"),
        col("est").as("est_b")), Seq("tb"))
      .join(exact, Seq("ta", "tb"))
      .withColumn("est_inter",
        round(col("est_a") + col("est_b") - col("est_union"), 2))
      .withColumn("rel_err", expr(
        "round((est_inter - exact_inter) / nullif(exact_inter, 0), 4)"))
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("exact_inter"),
        col("rel_err"))
      .orderBy(col("ta"), col("tb"))
  }

  /** SAX motif discovery over the daily event-rate series (PAA +
    * symbolic aggregate approximation, Lin et al. 2003 — the
    * time-series representation a monitoring system mines for
    * recurring shapes): per type, daily counts → 3-day PAA frames
    * (integer SUMS — scale-free for rank breakpoints, no division)
    * → tercile symbols by exact nearest-rank cut (r·3 ≤ F / ≤ 2F,
    * integer cross-multiplication) → sliding 3-symbol words → top-3
    * motifs per type. Everything after the daily rollup is
    * frame-table sized; symbols and ranks are engine-portable
    * integers/strings throughout. */
  def q189SaxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy(col("event_type"))
    val frames = daily
      .withColumn("x", datediff(col("day"), min(col("day")).over(tw)))
      .groupBy(col("event_type"), expr("x div 3").as("frame"))
      .agg(sum(col("n")).as("paa"))
    val sym = frames
      .withColumn("rk", row_number().over(
        tw.orderBy(col("paa"), col("frame"))))
      .withColumn("nf", count(lit(1)).over(tw))
      .withColumn("sym",
        when(col("rk") * 3 <= col("nf"), "a")
          .when(col("rk") * 3 <= col("nf") * 2, "b")
          .otherwise("c"))
    val ow = tw.orderBy(col("frame"))
    val words = sym
      .withColumn("s2", lead(col("sym"), 1).over(ow))
      .withColumn("s3", lead(col("sym"), 2).over(ow))
      .where(col("s3").isNotNull)
      .select(col("event_type"),
        concat(col("sym"), col("s2"), col("s3")).as("word"))
    words.groupBy(col("event_type"), col("word"))
      .agg(count(lit(1)).as("n_occurs"))
      .withColumn("rank", row_number().over(
        tw.orderBy(col("n_occurs").desc, col("word"))))
      .where(col("rank") <= 3)
      .select(col("event_type"), col("rank"), col("word"),
        col("n_occurs"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Greedy maximum-coverage corpus selection (the submodular
    * coreset pick a training pipeline runs to choose K shards/docs
    * covering the most vocabulary — the classic (1−1/e) greedy,
    * public algorithm): 5 rounds, each = one anti-join of the token
    * posting list against the covered set, one per-doc gain count,
    * and a distributed top-1 via sort+limit (TakeOrderedAndProject —
    * never a single-partition window). Marginal-gain ties break on
    * doc_id; the covered set is persisted per round and the oracle
    * unrolls the identical 5 rounds. Running covered_total is exact
    * because each winner's gain counts only then-uncovered tokens.
    * Rounds after full coverage emit nothing, identically in both
    * engines. Coverage universe = word-3-gram shingles (token
    * coverage saturates in one pick on a closed vocabulary; the
    * shingle space stays meaningful on every corpus). */
  def q190GreedyCoverage(spark: SparkSession, dir: String): DataFrame = {
    // spread = false (round-11): five rounds of anti-join/semi-join
    // consumer stages each fan the cached posting out; with a wide
    // (spread) cache those stages saturate the pool and the rounds'
    // critical-path single-task stages queue behind them — measured
    // 4.7 -> 6.5 s. The narrow posting keeps the per-round stages
    // one-task and overlapped.
    // tok rides as xxhash64 (round-11): the five per-round anti joins
    // and the growing covered-set distinct all shuffle this frame —
    // 8-byte keys instead of ~30-byte shingle strings, the same
    // accepted 2^-64 collision class as the q22 posting index (gain
    // counts distinct tokens; a collision would merge two, and the
    // oracle hash-compare would surface it)
    val posting = graft.operators.Caches.persistTracked(
      Dedup.shingleSets(t(spark, dir).documents, n = 3,
          spread = false)
        .select(col("doc_id"), explode(col("sh")).as("tok"))
        .select(col("doc_id"), xxhash64(col("tok")).as("tok")))
    var covered: DataFrame = posting.select(col("tok")).where(lit(false))
    var winners: DataFrame = null
    var round = 1
    while (round <= 5) {
      val gains = posting.join(covered, Seq("tok"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      val w = graft.operators.Caches.persistTracked(
        gains.orderBy(col("gain").desc, col("doc_id")).limit(1)
          .select(lit(round).as("round"), col("doc_id"), col("gain")))
      winners = if (winners == null) w else winners.unionByName(w)
      covered = graft.operators.Caches.persistTracked(
        covered.unionByName(
          posting.join(w.select(col("doc_id")), Seq("doc_id"),
            "left_semi").select(col("tok"))).distinct())
      round += 1
    }
    winners
      .withColumn("covered_total", sum(col("gain")).over(
        Window.orderBy(col("round"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("round"))
  }

  /** Apriori frequent-triple mining at brand grain (level 3 of
    * q175's association analysis): candidate triples come from
    * joining frequent PAIRS on the shared middle item and pruning
    * by the all-subsets-frequent property ({a,c} must be frequent
    * too) — the Apriori candidate step that keeps the triple space
    * a function of |F2|², not |brands|³. Support counting is
    * ORDER-KEYED triple enumeration (per-basket fanout C(k,3), ~4
    * rows for TPC-H-sized baskets) semi-joined to the broadcast
    * candidate set BEFORE the shuffle — measured at gen10 the
    * alternative candidate-driven join (baskets ⋈ candidates on one
    * brand) fans out to ~440M rows and is the anti-pattern for
    * small baskets; with 100-item baskets the regimes flip, which
    * is the documented trade. Supports are exact integers; share
    * in basis points. */
  def q191FrequentTriples(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    // persistEager (round-11): five independent consumer legs
    // (nOrders, the f2 mine, cands, the triple support chain) race
    // this frame cold and re-run the lineitem scan + distinct up to
    // 8x concurrently; one blocking pass turns them into cache reads
    // repartition by ok BEFORE the distinct (round-12, guide §2.4
    // "two operations keyed the same way share one exchange"): hash
    // partitioning on ok satisfies the distinct's (ok, b) clustering
    // requirement AND every downstream key — the pair/triple
    // self-joins and the nOrders distinct are all keyed on ok — so
    // the cached frame carries the partitioning every consumer needs
    // and the per-leg exchanges of the basket frame disappear
    // (measured: 6 exchanges of the cached frame → 0). The trade:
    // the build shuffles pre-dedup rows (no map-side partial
    // distinct), bounded by the small per-order duplicate factor.
    val baskets = graft.operators.Caches.persistEager(tt.lineitem
      .join(broadcast(tt.part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .repartition(col("ok"))
      .distinct())
    val nOrders = baskets.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val f2 = baskets
      .join(baskets.select(col("ok"), col("b").as("b2")), Seq("ok"))
      .where(col("b") < col("b2"))
      .groupBy(col("b").as("pa"), col("b2").as("pb"))
      .agg(count(lit(1)).as("s"))
      .where(col("s") >= 5)
      .select(col("pa"), col("pb"))
    val cands = f2
      .join(f2.select(col("pa").as("pb"), col("pb").as("bc")), Seq("pb"))
      .select(col("pa").as("ba"), col("pb").as("bb"), col("bc"))
      .join(f2.select(col("pa").as("ba"), col("pb").as("bc")),
        Seq("ba", "bc"), "left_semi")
    val support = baskets.select(col("ok"), col("b").as("ba"))
      .join(baskets.select(col("ok"), col("b").as("bb")), Seq("ok"))
      .where(col("ba") < col("bb"))
      .join(baskets.select(col("ok"), col("b").as("bc")), Seq("ok"))
      .where(col("bb") < col("bc"))
      .join(broadcast(cands), Seq("ba", "bb", "bc"), "left_semi")
      .groupBy(col("ba"), col("bb"), col("bc"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 5)
    support.crossJoin(broadcast(nOrders))
      .withColumn("support_bp",
        expr("support * 10000 div n_orders"))
      .withColumn("rank", row_number().over(Window.orderBy(
        col("support").desc, col("ba"), col("bb"), col("bc"))))
      .where(col("rank") <= 20)
      .select(col("rank"), col("ba"), col("bb"), col("bc"),
        col("support"), col("support_bp"))
      .orderBy(col("rank"))
  }

  /** Mining-recall self-audit: the engine measures its OWN
    * approximate dedup regimes against the lossless truth — the
    * uncapped exact pair set from [[Dedup.prefixFilterPairs]] —
    * in one query: the df-capped inverted index (cap forced low so
    * it engages at every SF) and banded MinHash-LSH, each scored by
    * pair recall in basis points (both regimes only emit verified
    * jaccard ≥ t pairs, so precision is structurally 10⁴ and
    * RECALL is the informative number; the truth row pins itself at
    * 10000). This is the production acceptance test for choosing a
    * mining regime, runnable on a corpus sample before committing
    * the full 100 TB mine. All counts exact; semi-joins on pair
    * keys. */
  def q192MiningRecall(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    val exact = graft.operators.Caches.persistTracked(
      Dedup.prefixFilterPairs(d, thresholdBp = 2000)
        .select(col("id_a"), col("id_b")))
    val lsh = graft.operators.Caches.persistTracked(
      Dedup.minhashLshPairs(d)
        .select(col("id_a"), col("id_b")))
    val capped = graft.operators.Caches.persistTracked(
      Dedup.jaccardPairs(d, n = 3, threshold = 0.2,
        maxDf = 50L)
        .select(col("id_a"), col("id_b")))
    val nTruth = exact.agg(count(lit(1)).as("n_truth"))
    def audit(name: String, r: DataFrame): DataFrame = r
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(r.join(exact, Seq("id_a", "id_b"),
        "left_semi").agg(count(lit(1)).as("n_hit"))))
      .crossJoin(broadcast(nTruth))
      .select(lit(name).as("regime"), col("n_pairs"), col("n_hit"),
        expr("n_hit * 10000 div n_truth").as("recall_bp"))
    audit("capped_df50", capped)
      .unionByName(audit("exact_prefix", exact))
      .unionByName(audit("lsh_b4r2", lsh))
      .orderBy(col("regime"))
  }

  /** Discrete-time churn hazard curve over customer ORDER
    * lifetimes (the orders table spans ~6 years, so the curve has
    * ~26 quarter buckets; the events stream is one uniform month
    * and would degenerate): customers grouped by lifetime in
    * quarters (last − first order date, integer 90-day buckets);
    * hazard(k) = churners(k) / at-risk(k) in exact basis points,
    * where customers whose last order falls in the corpus' final 90
    * days are CENSORED (still alive at observation end — counted at
    * risk, never as churn; the standard right-censoring treatment,
    * wall-clock-free per T10). at_risk(k) is a descending running
    * sum over the quarter-frame aggregate — everything after the
    * per-customer rollup is |quarters|-sized. */
  def q193ChurnHazard(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir).orders
      .select(col("o_custkey"),
        col("o_orderdate").cast("date").as("day"))
      .groupBy(col("o_custkey"))
      .agg(min(col("day")).as("first_d"), max(col("day")).as("last_d"))
    val mx = per.agg(max(col("last_d")).as("m"))
    val byK = per.crossJoin(broadcast(mx))
      .select(expr("datediff(last_d, first_d) div 90").as("k"),
        (col("last_d") > date_sub(col("m"), 90)).cast("long")
          .as("censored"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_ending"),
        sum(col("censored")).as("n_censored"))
      .withColumn("churned", col("n_ending") - col("n_censored"))
    byK
      .withColumn("at_risk", sum(col("n_ending")).over(
        Window.orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("k"), col("at_risk"), col("churned"),
        col("n_censored"),
        expr("churned * 10000 div at_risk").as("hazard_bp"))
      .orderBy(col("k"))
  }

  /** Daily audience audit — new vs returning users and the
    * cumulative distinct-audience curve, computed WITHOUT any
    * distinct-over-window: a user is "new" on their first-seen day
    * (one per-user min), so cumulative distinct users ≡ running sum
    * of daily new counts — the identity that turns an unbounded
    * distinct into an integer prefix sum. Two corpus-scale keyed
    * aggregations ((user,day) distinct + per-user first-seen);
    * everything after is day-frame sized. */
  def q194DailyAudience(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
    val perDay = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_d"))
    val users = ev.distinct()
      .join(firstSeen, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("day") === col("first_d"), 1L).otherwise(0L))
          .as("n_new"))
    users.join(perDay, Seq("day"))
      .withColumn("n_returning", col("n_users") - col("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(fmtDate(col("day")).as("day"), col("n_events"),
        col("n_users"), col("n_new"), col("n_returning"),
        col("cum_users"))
      .orderBy(col("day"))
  }

  /** Monthly robust price bands: exact nearest-rank P10/P50/P90 of
    * order totals per month over the ~6-year orders table (the
    * percentile-band time series an ops dashboard tracks instead of
    * drift-prone means). Ranks are row_number over integer cents
    * with the index ⌈p·n/100⌉ computed in pure integers — no
    * interpolation, no float ordering; one month-partitioned sort
    * serves all three bands. */
  def q195MonthlyBands(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir).orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
    val ranked = o
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("month")).orderBy(col("c"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("month"))))
    def band(p: Int) =
      (max(when(col("rk") === expr(s"($p * n + 99) div 100"),
        col("c"))) / 100.0)
    ranked.groupBy(col("month"))
      .agg(max(col("n")).as("n_orders"),
        band(10).as("p10"), band(50).as("p50"), band(90).as("p90"))
      .orderBy(col("month"))
  }

  /** K-means cluster-purity audit (the ML-eval closing the q55/q63
    * fit + q152 kNN-confusion loop): vectors are assigned to the
    * q55-fitted centroids (deterministic fixed-point fit, cosine
    * argmax with centroid-id tie-break) and each cluster is scored
    * by label purity — majority-label share in exact basis points.
    * The confusion rollup is |clusters|×|labels|; the only
    * corpus-scale stages are the fit passes and one broadcast
    * assignment scan. */
  def q196ClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val cents = Similarity.fitCentroids(
      emb.select(col("id"), col("vec")), k = 4, iters = 2)
    val assigned = Similarity.nearestCentroids(
      emb.select(col("id"), col("vec")),
      cents.select(col("cent_id").as("id"), col("cent_v").as("vec")),
      "m_id", keep = 1)
    val byCl = assigned.select(col("m_id").as("id"), col("cent_id"))
      .join(emb.select(col("id"), col("label")), Seq("id"))
      .groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    val sizes = byCl.groupBy(col("cent_id"))
      .agg(sum(col("c")).as("n_members"))
    byCl
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id"))
          .orderBy(col("c").desc, col("label"))))
      .where(col("rn") === 1)
      .join(sizes, Seq("cent_id"))
      .select(col("cent_id"), col("n_members"),
        col("label").as("top_label"), col("c").as("top_n"),
        expr("c * 10000 div n_members").as("purity_bp"))
      .orderBy(col("cent_id"))
  }

  /** Day-of-week seasonality index per event type: how much a
    * weekday runs above/below the type's own daily mean, as the
    * EXACT integer cross-ratio idx_bp = (s_dow·d_total·10⁴) div
    * (s_total·d_dow) over observed-day counts — no float mean ever
    * exists, so the index is engine- and partitioning-exact. One
    * daily rollup; the index frame is |types|×7. */
  def q197SeasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", dayofweek(col("day")))
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("s_dow"), count(lit(1)).as("d_dow"))
    val byType = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s_total"), count(lit(1)).as("d_total"))
    byDow.join(broadcast(byType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("s_dow"),
        col("d_dow"),
        // s_dow·d_total·1e4 ≈ per-type event count × day span × 1e4
        // wraps Long near 1e12 events — decimal(38,0) numerator
        expr("cast(s_dow as decimal(38,0)) * d_total * 10000" +
          " div (cast(s_total as decimal(38,0)) * d_dow)")
          .as("idx_bp"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Revenue concentration per market segment as the exact Gini
    * coefficient: customers ranked ascending by integer-cents
    * revenue (custkey tie-break), G = (2·Σi·xᵢ − (n+1)·S)/(n·S)
    * with every sum exact (longs; the ~n·S/2-sized rank-weighted sum
    * rides decimal(38,0)) and ONE rounded double division (the q170
    * contract — the division's numerator is G·n·S-sized and exact
    * either way; both engines convert the same exact integer to the
    * same nearest double). The
    * rank-weighted sum is a segment-partitioned window over the
    * per-customer rollup; pairs naturally with q177's ABC classes
    * (share thresholds) by measuring the whole curve instead. */
  def q198GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = customerSpend(spark, dir).withColumn("i", row_number().over(
      Window.partitionBy(col("segment"))
        .orderBy(col("x"), col("o_custkey"))))
    ranked.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("s"),
        // the rank-weighted sum is ~n·S/2 and overflows a long at
        // corpus scale (non-ANSI Spark would wrap silently while
        // DuckDB sums into HUGEINT); each per-row product i·x still
        // fits a long, so only the ACCUMULATOR rides decimal(38,0) —
        // exact and order-independent like an integer sum (q199's
        // second-moment rule)
        sum((col("i") * col("x")).cast("decimal(38,0)")).as("six"))
      .select(col("segment"), col("n_customers"),
        (col("s") / 100.0).as("revenue"),
        // (n+1)·s is ~n·S — strictly LARGER than six, so whenever
        // the decimal accumulator above is needed this term would
        // wrap too; ride it through decimal(38,0) as well
        expr("cast(round(1e6 * (2 * six" +
          " - (n_customers + 1) * cast(s as decimal(38,0)))" +
          " / (cast(n_customers as double) * s)) as bigint)")
          .as("gini_1e6"))
      .orderBy(col("segment"))
  }

  /** Per-customer spend in integer cents `x` with the customer's
    * market `segment` (q198/q203). */
  private def customerSpend(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    tt.orders
      .groupBy(col("o_custkey"))
      .agg(centsSum(col("o_totalprice")).as("x"))
      .join(tt.customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), Seq("o_custkey"))
  }

  /** Pearson correlation matrix of the fact table's numeric columns
    * (quantity, price cents, discount bp, tax bp — all exact
    * integer features), from ONE scan: a single wide aggregation
    * collects every moment sum as an exact long, and each pairwise
    * r is ONE rounded double expression over those longs with
    * explicit double casts BEFORE the large products (n·sxy
    * overflows longs at corpus scale; identical IEEE expression
    * trees keep the rounded value engine-exact — determinism is
    * the contract, q170's). Six rows out of four columns; profile
    * breadth never multiplies scans (q187's rule). */
  def q199CorrelationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val f = t(spark, dir).lineitem.select(
      col("l_quantity").cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("p"),
      round(col("l_discount") * 10000).cast("long").as("d"),
      round(col("l_tax") * 10000).cast("long").as("t"))
    val cols = Seq("q", "p", "d", "t")
    // second-moment sums ride as exact DECIMAL(38,0): Σp² overflows
    // longs at corpus scale (cents² ≈ 1e14 per row), and decimal
    // sums stay exact and order-independent like integer sums —
    // DuckDB's BIGINT sums are HUGEINT for the same reason. The
    // per-row product still fits a long (≤ ~1e14).
    val sums = count(lit(1)).as("n") +:
      (cols.map(c => sum(col(c)).as(s"s_$c")) ++
        cols.map(c => sum((col(c) * col(c)).cast("decimal(38,0)"))
          .as(s"ss_$c")) ++
        (for (a <- cols; b <- cols if a < b)
          yield sum((col(a) * col(b)).cast("decimal(38,0)"))
            .as(s"sp_${a}${b}")))
    val wide = f.agg(sums.head, sums.tail: _*)
    def rExpr(a: String, b: String) =
      s"cast(round(1e6 * (cast(n as double) * sp_${a}${b}" +
        s" - cast(s_$a as double) * s_$b)" +
        s" / (sqrt(cast(n as double) * ss_$a" +
        s" - cast(s_$a as double) * s_$a)" +
        s" * sqrt(cast(n as double) * ss_$b" +
        s" - cast(s_$b as double) * s_$b))) as bigint)"
    val pairs = for (a <- cols; b <- cols if a < b)
      yield (s"${a}_${b}", rExpr(a, b))
    val withR = wide.select(col("n") +:
      pairs.map { case (nm, e) => expr(e).as(s"r_$nm") }: _*)
    val stackArgs = pairs.map { case (nm, _) => s"'$nm', r_$nm" }
      .mkString(", ")
    withR.selectExpr("n",
      s"stack(${pairs.size}, $stackArgs) AS (pair, r_1e6)")
      .select(col("pair"), col("n"), col("r_1e6"))
      .orderBy(col("pair"))
  }

  /** q200 — the corpus-readiness scorecard: the nightly go/no-go
    * gate a training pipeline runs before accepting a corpus drop,
    * COMPOSING the catalog's primitives into one auditable report —
    * exact-dup rate (q21's fingerprints), near-dup involvement
    * (q23's verified LSH pairs), benchmark 13-gram contamination
    * (q89's machinery), short-doc and language-mix shares, and the
    * exact nearest-rank median tokens per doc (q195's rank index).
    * Every value is an integer (basis points or counts), every
    * threshold is pinned, and the pass flag applies the row's own
    * comparison direction — so the gate decision can never drift
    * across engines or partitionings. Each metric is a 1-row
    * aggregate attached by broadcast; the corpus-scale stages are
    * the scans the underlying operators already cost. */
  def q200CorpusScorecard(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.operators.Caches.persistTracked(
      t(spark, dir).documents
        .select(col("doc_id"), col("text"), col("lang"),
          col("n_chars")))
    val total = d.agg(count(lit(1)).as("n_docs"))
    def row(metric: String, value: Column, op: String,
        threshold: Long)(src: DataFrame): DataFrame =
      src.select(lit(metric).as("metric"),
        value.cast("long").as("value"), lit(op).as("op"),
        lit(threshold).as("threshold"))
    val dupRow = row("exact_dup_bp",
      expr("(n_docs - n_fp) * 10000 div n_docs"), "<=", 2500L)(
      d.select(fingerprint(col("text")).as("fp"))
        .agg(countDistinct(col("fp")).as("n_fp"))
        .crossJoin(broadcast(total)))
    val shortRow = row("short_doc_bp",
      expr("n_short * 10000 div n_docs"), "<=", 2000L)(
      d.where(col("n_chars") < 100)
        .agg(count(lit(1)).as("n_short"))
        .crossJoin(broadcast(total)))
    val enRow = row("lang_en_bp",
      expr("n_en * 10000 div n_docs"), ">=", 2000L)(
      d.where(col("lang") === "en")
        .agg(count(lit(1)).as("n_en"))
        .crossJoin(broadcast(total)))
    val post = Dedup.shingleSets(d, 13)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val benchGrams = post.where(col("doc_id") % 50 === 0)
      .select(col("g")).distinct()
    val contamRow = row("contaminated_bp",
      expr("n_contam * 10000 div n_train"), "<=", 1500L)(
      post.where(col("doc_id") % 50 =!= 0)
        .join(benchGrams, Seq("g"))
        .select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_contam"))
        .crossJoin(broadcast(d.where(col("doc_id") % 50 =!= 0)
          .agg(count(lit(1)).as("n_train")))))
    val pairs = Dedup.minhashLshPairs(d)
    val nearRow = row("near_dup_bp",
      expr("n_inv * 10000 div n_docs"), "<=", 2500L)(
      pairs.select(explode(array(col("id_a"), col("id_b")))
        .as("doc_id")).distinct()
        .agg(count(lit(1)).as("n_inv"))
        .crossJoin(broadcast(total)))
    // exact p50 off the token-count VALUE domain (cumulative counts
    // of distinct per-doc token counts — bounded by max doc length,
    // never |docs|): the value whose cumulative range contains the
    // nearest-rank cut is the same value row_number-at-rank selected.
    val tokRow = row("token_p50", col("p50"), ">=", 10L)({
      val byV = d.select(size(tokens(col("text"))).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      byV.crossJoin(broadcast(total))
        .where(col("cum") >= expr("(50 * n_docs + 99) div 100")
          && col("cum") - col("c") < expr("(50 * n_docs + 99) div 100"))
        .agg(max(col("v")).as("p50"))
    })
    dupRow.unionByName(shortRow).unionByName(enRow)
      .unionByName(contamRow).unionByName(nearRow).unionByName(tokRow)
      .withColumn("passed",
        when(col("op") === "<=", col("value") <= col("threshold"))
          .otherwise(col("value") >= col("threshold")).cast("int"))
      .orderBy(col("metric"))
  }

  /** CUSUM changepoint detection per event type (the classic
    * level-shift detector, complementing q158's spike flag and
    * q170's monotone trend): over the daily count series, the
    * cumulative deviation from the SERIES mean is kept in exact
    * integers by scaling with n — C_k = n·Σ_{i≤k}x_i − k·S — so the
    * argmax |C_k| (the most likely shift point) is an integer
    * decision with a (|C|, day) tie-break; the reported shift
    * magnitude compares the exact integer means of the two sides
    * in one rounded division each. Everything after the daily
    * rollup is |types|×|days|. */
  def q201Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val tw = Window.partitionBy(col("event_type"))
    val ow = tw.orderBy(col("day"))
    val run = ow.rowsBetween(Window.unboundedPreceding, 0)
    val cusum = daily
      .withColumn("k", row_number().over(ow))
      .withColumn("n", count(lit(1)).over(tw))
      .withColumn("s", sum(col("x")).over(tw))
      .withColumn("ck",
        col("n") * sum(col("x")).over(run) - col("k") * col("s"))
      .withColumn("pre_s", sum(col("x")).over(run))
    cusum
      .withColumn("rn", row_number().over(tw.orderBy(
        abs(col("ck")).desc, col("day"))))
      .where(col("rn") === 1 && col("k") < col("n"))
      .select(col("event_type"), fmtDate(col("day")).as("shift_day"),
        col("ck").as("cusum_scaled"),
        round(col("pre_s").cast("double") / col("k"), 4)
          .as("mean_before"),
        round((col("s") - col("pre_s")).cast("double")
          / (col("n") - col("k")), 4).as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** Per-brand discount elasticity: q170's exact-integer OLS
    * machinery applied GROUPED — slope of line-item quantity
    * against discount basis points within each brand (do discounts
    * move volume, and for which brands?). All five OLS sums are
    * exact longs per brand; slope (quantity per discount-bp, 1e6
    * fixed point) and r² (bp) each round once from one double
    * expression. Degenerate brands (zero discount variance) emit
    * NULL slope via nullif — identically in both engines. One
    * fact-scan rollup; the OLS frame is |brands|-sized. */
  def q202DiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val tt = t(spark, dir)
    val f = tt.lineitem
      .join(broadcast(tt.part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .select(col("p_brand"),
        col("l_quantity").cast("long").as("y"),
        round(col("l_discount") * 10000).cast("long").as("x"))
    f.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("p_brand"), col("n"), col("sy").as("total_qty"),
        expr("cast(round(1e6 * (cast(n as double) * sxy" +
          " - cast(sx as double) * sy)" +
          " / nullif(cast(n as double) * sxx" +
          " - cast(sx as double) * sx, 0.0e0)) as bigint)")
          .as("slope_1e6"),
        expr("cast(floor(1e4 * (cast(n as double) * sxy" +
          " - cast(sx as double) * sy)" +
          " * (cast(n as double) * sxy - cast(sx as double) * sy)" +
          " / nullif((cast(n as double) * sxx" +
          " - cast(sx as double) * sx)" +
          " * (cast(n as double) * syy" +
          " - cast(sy as double) * sy), 0.0e0)) as bigint)")
          .as("r2_bp"))
      .orderBy(col("p_brand"))
  }

  /** Lorenz curve deciles per market segment (the whole curve whose
    * area q198 summarizes): customers ranked ascending by
    * integer-cents revenue, decile d = ⌈10·i/n⌉ by integer
    * cross-multiplication, each decile reporting its exact customer
    * count and cumulative revenue share in basis points (running
    * integer sums; the share denominator attaches per segment). */
  def q203LorenzDeciles(spark: SparkSession, dir: String): DataFrame = {
    val sw = Window.partitionBy(col("segment"))
    val ranked = customerSpend(spark, dir)
      .withColumn("i", row_number().over(
        sw.orderBy(col("x"), col("o_custkey"))))
      .withColumn("n", count(lit(1)).over(sw))
      .withColumn("s", sum(col("x")).over(sw))
      .withColumn("decile", expr("(10 * i + n - 1) div n"))
    ranked.groupBy(col("segment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("dx"), max(col("s")).as("s"))
      .withColumn("cum_x", sum(col("dx")).over(
        Window.partitionBy(col("segment")).orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("segment"), col("decile"), col("n_customers"),
        // dx/cum_x are segment-revenue cents (≈4.6e17 at 100 TB);
        // ·10000 wraps Long — decimal(38,0) numerators, exact long out
        expr("cast(dx as decimal(38,0)) * 10000 div s")
          .as("share_bp"),
        expr("cast(cum_x as decimal(38,0)) * 10000 div s")
          .as("cum_share_bp"))
      .orderBy(col("segment"), col("decile"))
  }

  /** Term burstiness (Church–Gale): the variance-to-mean ratio of
    * per-document term counts separates bursty content words
    * (VMR ≫ 1: absent from most docs, repeated where present) from
    * evenly-spread function words (VMR ≈ 1) — the statistic a
    * keyword extractor or stopword inducer ranks by. Zeros are
    * handled in closed form (absent docs add nothing to Σc or Σc²),
    * so VMR·10⁴ = (N·Σc² − (Σc)²)·10⁴ div (N·Σc) is EXACT integer
    * arithmetic end to end (the numerator in decimal(38,0) — long
    * range is not enough for hot terms at corpus scale, and wrapping
    * would be silent). One (term, doc) rollup; the term frame
    * is vocabulary-sized. Top-20 bursty terms with df ≥ 20. */
  def q204TermBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir).documents
    val total = d.agg(count(lit(1)).as("nn"))
    val tc = d.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("sc"),
        // Σc² rides decimal(38,0) (q199's second-moment rule): for
        // high-frequency terms on large corpora the VMR numerator
        // products exceed long range, where non-ANSI Spark wraps
        // silently while the DuckDB oracle promotes to HUGEINT
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
      .where(col("df") >= 20)
      .crossJoin(broadcast(total))
      .select(col("term"), col("df"), col("sc").as("total"),
        // sc·sc through decimal too; `div` (IntegralDivide) on the
        // decimal numerator still yields an exact long
        // the denominator nn·sc is only ~mean(c) below the promoted
        // numerator, so it rides decimal in the same hot-term regime
        expr("(nn * sc2 - cast(sc as decimal(38,0)) * sc) * 10000" +
          " div (nn * cast(sc as decimal(38,0)))").as("vmr_1e4"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("vmr_1e4").desc, col("term"))))
      .where(col("rank") <= 20)
      .select(col("rank"), col("term"), col("df"), col("total"),
        col("vmr_1e4"))
      .orderBy(col("rank"))
  }

  /** In-session dwell-time bands: exact nearest-rank P50/P90 of the
    * seconds between consecutive same-session events, grouped by
    * the type of the event being dwelt ON — the engagement metric
    * behind "which screens hold users". Reuses q31's sessionization
    * windows (one user-ordered sort serves the gap, the session id,
    * and the dwell lead); the rank windows partition by event type
    * over the dwell frame. All integer seconds, q195's rank index —
    * no interpolation. */
  def q205DwellBands(spark: SparkSession, dir: String): DataFrame = {
    val dwell = sessionized(events(spark, dir))
      .withColumn("nxt_es",
        lead(unix_timestamp(col("ts")), 1).over(inSession))
      .where(col("nxt_es").isNotNull)
      .select(col("event_type"),
        (col("nxt_es") - unix_timestamp(col("ts"))).as("v"))
    val tw = Window.partitionBy(col("event_type"))
    dwell
      .withColumn("rk", row_number().over(tw.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(tw))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_dwells"),
        max(when(col("rk") === expr("(50 * n + 99) div 100"),
          col("v"))).as("p50_sec"),
        max(when(col("rk") === expr("(90 * n + 99) div 100"),
          col("v"))).as("p90_sec"))
      .orderBy(col("event_type"))
  }

  /** Naive edit-distance-threshold join — `a JOIN b ON
    * levenshtein(a.term, b.term) <= 2 AND a.term < b.term` written as
    * the plain predicate a SQL user would — through the injected
    * [[graft.plans.LevenshteinJoinRewrite]]: the optimizer rewrites
    * the condition onto [[graft.plans.LevenshteinSegmentJoinExec]]
    * (segment-pigeonhole blocking + banded-DP verify, the PassJoin
    * shape), completing the threshold-join rewrite family — cosine
    * (q130/q131), jaccard/overlap (q135/q136), and now edit distance
    * all refuse to plan as BNLJ/CartesianProduct.
    *
    * The joined relation is the FREQUENT-TERM VOCABULARY (df ≥ 5) —
    * typo/variant mining, the thing an edit-distance self-join is for
    * in a cleaning pipeline: rare misspellings of frequent terms map
    * to their canonical forms. Scale shape: the corpus-sized explode
    * rolls up to a vocabulary-bounded frame BEFORE any pairing (the
    * q142 vocabulary rule), and the join itself is exact at any
    * vocabulary size via the segment index — never all-pairs. */
  def q206LevJoin(spark: SparkSession, dir: String): DataFrame = {
    val vocab = t(spark, dir).documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 5)
    val a = vocab.select(col("term").as("term_a"), col("df").as("df_a"))
    val b = vocab.select(col("term").as("term_b"), col("df").as("df_b"))
    val lev = levenshtein(col("term_a"), col("term_b"))
    a.join(b, lev <= lit(2) && col("term_a") < col("term_b"))
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        lev.cast("long").as("lev"))
      .orderBy(col("term_a"), col("term_b"))
  }

  /** Peak concurrent sessions per day — the capacity-planning number
    * (how many sessions were simultaneously open, and when the peak
    * hit) — as a distributed SWEEP-LINE: sessions (q31's 30-minute
    * gap) become ±1 deltas at start and end+1s, deltas aggregate per
    * second, and the global running concurrency is a TWO-PHASE
    * prefix sum — intra-day running totals in day-partitioned
    * windows, plus per-day offsets carried by one window over the
    * ~30-row day frame (the classic parallel prefix-sum
    * decomposition: the only unpartitioned window runs on the
    * DAY-domain aggregate, never corpus rows — q184's rule), so
    * sessions crossing midnight stay continuous. Per-second
    * aggregation before the prefix also makes peak_at deterministic
    * with no tie rules: concurrency is a function of the second, not
    * of row order. */
  def q207PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val perT = sessionSpans(events(spark, dir))
      .select(explode(array(
        struct(col("s").as("t"), lit(1L).as("delta")),
        struct((col("e") + 1).as("t"), lit(-1L).as("delta")))).as("d"))
      .select(col("d.t").as("t"), col("d.delta").as("delta"))
      .groupBy(col("t")).agg(sum(col("delta")).as("net"))
      .withColumn("day", expr("t div 86400"))
    val intra = perT.withColumn("intra_run",
      sum(col("net")).over(Window.partitionBy(col("day")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = perT.groupBy(col("day")).agg(sum(col("net")).as("dnet"))
      .withColumn("off", coalesce(sum(col("dnet")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("off"))
    intra.join(broadcast(offsets), Seq("day"))
      .withColumn("conc", col("off") + col("intra_run"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("day"))
          .orderBy(col("conc").desc, col("t"))))
      .where(col("rn") === 1)
      .select(fmtDate(timestamp_seconds(col("day") * 86400)).as("day"),
        col("conc").as("peak_concurrency"),
        fmtTs(timestamp_seconds(col("t"))).as("peak_at"))
      .orderBy(col("day"))
  }

  /** Corpus snapshot diff — the training-data version audit: given
    * two corpus versions, classify every document added / removed /
    * changed / unchanged by KEYED full-outer join on doc_id with
    * md5-content compare (never a text compare across the join — the
    * hash is computed scan-side, so only 32-byte digests cross the
    * shuffle; at 100 TB this is one keyed join of narrow rows, the
    * snapshot-diff shape every dataset-versioning layer runs before
    * retraining). The "next" version is derived deterministically in
    * the query (drop doc_id%41=7, rewrite text for doc_id%37=5, add
    * re-keyed copies of doc_id%43=11), so both engines diff the
    * identical pair of versions. */
  def q208SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = t(spark, dir).documents
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val base = t(spark, dir).documents
    val v2 = base.where(pmod(col("doc_id"), lit(41)) =!= 7)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(37)) === 5,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
          .as("text"))
      .unionByName(base.where(pmod(col("doc_id"), lit(43)) === 11)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      .select(col("doc_id"), md5(col("text")).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("status"))
  }

  /** Incident impact — the batch INTERVAL-OVERLAP join, decomposed
    * to an equi-join on time bins so it never plans as a theta-only
    * BNLJ: incidents are 10-minute error bursts (bins whose error
    * count reaches the exact nearest-rank P95 of nonzero bins, ≥ 2 —
    * a scale-robust threshold both engines compute identically), and
    * a session [s, e] overlaps bin [b, b+600) iff b ∈
    * [s div 600, e div 600] — so exploding each session to its
    * covered bins and equi-joining on the bin IS the overlap join,
    * exactly (no residual needed, no dedup: a 10-minute incident
    * meets a session at most once). Expansion is bounded by
    * duration/bin, and both join sides are keyed — the standard
    * decomposition that replaces an O(n·m) interval theta join at
    * corpus scale. Output: per incident, the burst size and the
    * impacted session/user counts. */
  def q209IncidentImpact(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val errBins = ev.where(col("event_type") === "error")
      .select(expr("unix_timestamp(ts) div 600").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_errors"))
    val thr = errBins
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_errors"), col("bin"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .select(max(when(col("rk") === expr("(95 * n + 99) div 100"),
        greatest(col("n_errors"), lit(2L)))).as("t"))
    val incidents = errBins.crossJoin(broadcast(thr))
      .where(col("n_errors") >= col("t"))
      .select(col("bin"), col("n_errors"))
    val sessBins = sessionSpans(ev).select(col("user_id"), col("sid"),
      explode(sequence(expr("s div 600"), expr("e div 600"))).as("bin"))
    sessBins.join(incidents, Seq("bin"))
      .groupBy(col("bin"), col("n_errors"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .select(fmtTs(timestamp_seconds(col("bin") * 600))
          .as("incident_start"),
        col("n_errors"), col("n_sessions"), col("n_users"))
      .orderBy(col("incident_start"))
  }

  /** Token-weighted quality bands per source: the quality level
    * below which half (P50) and 90% (P90) of the source's TOKEN MASS
    * sits — the statistic a token-budgeted curriculum actually cuts
    * on (a doc-weighted median over-weights short docs). Exact
    * weighted nearest-rank rule in integers: docs ordered by
    * (quality bp, doc_id), cumulative token sums, first row with
    * 2·cum ≥ total / 10·cum ≥ 9·total — no interpolation, no float
    * rank. One source-partitioned sort serves both cuts. */
  def q210WeightedQuality(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        round(qualityScore(tokens(col("text"))) * 10000).cast("long")
          .as("q_bp"),
        wordCount(col("text")).cast("long").as("ws"))
    val run = Window.partitionBy(col("source"))
      .orderBy(col("q_bp"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tw = Window.partitionBy(col("source"))
    base
      .withColumn("cum", sum(col("ws")).over(run))
      .withColumn("total", sum(col("ws")).over(tw))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("total")).as("total_tokens"),
        min(when(col("cum") * 2 >= col("total"), col("q_bp")))
          .as("p50_q_bp"),
        min(when(col("cum") * 10 >= col("total") * 9, col("q_bp")))
          .as("p90_q_bp"))
      .orderBy(col("source"))
  }

  /** Priority sampling (Duffield–Lund–Thorup) per source, k = 20,
    * weight = token count, with the Horvitz–Thompson total estimate
    * the method exists for: priority = w/u over a 48-bit md5 uniform
    * (both factors exact in a double, and IEEE division is correctly
    * rounded — so the ORDER is engine-exact with no transcendental in
    * sight, unlike ln-based Efraimidis–Sampling keys), τ = the
    * (k+1)-th priority, estimate = Σ_sample max(w, τ) — per-row
    * rounded to exact micro-units before the sum so no float
    * accumulation order exists. Plan shape: ONE source-keyed sort
    * serves both window specs (rank, and the full-partition
    * tau/total/n frames — the exact total forces a full-group pass
    * here BY DESIGN, since the query also reports the true total the
    * estimate is judged against; a pure sampling job that skips the
    * exact total gets the top-(k+1) WindowGroupLimit shape instead),
    * constant output per source; the estimate column demonstrates
    * the k-sample standing in for the full scan within err_bp. */
  def q211PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val d = t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        wordCount(col("text")).cast("long").as("ws"))
      .withColumn("u",
        conv(substring(md5(concat_ws("|", lit("psample"), col("doc_id"))),
          1, 12), 16, 10).cast("long") + 1)
      .withColumn("pri", col("ws").cast("double") / col("u").cast("double"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pri").desc, col("doc_id"))
    val tw = Window.partitionBy(col("source"))
    d.withColumn("rk", row_number().over(w))
      .withColumn("tau",
        max(when(col("rk") === k + 1, col("pri"))).over(tw))
      .withColumn("total", sum(col("ws")).over(tw))
      .withColumn("n", count(lit(1)).over(tw))
      .where(col("rk") <= k)
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        max(col("total")).as("total_tokens"),
        sum(round(greatest(col("ws").cast("double"),
            coalesce(col("tau"), lit(0.0))) * 1e6).cast("long"))
          .as("est_micro"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("est_micro div 1000000").as("est_total_tokens"),
        expr("cast(round((est_micro div 1000000 - total_tokens) * 1e4" +
          " / total_tokens) as bigint)").as("err_bp"))
      .orderBy(col("source"))
  }

  /** Hybrid retrieval fusion: the q160 BM25 lexical list and a
    * brute-force cosine semantic list (query vector = the embedding
    * whose vec_id equals the query_id — the tables share the doc_id
    * domain) fused by reciprocal-rank fusion, the standard
    * score-free combiner (Cormack et al., SIGIR 2009):
    * rrf = Σ_lists 1/(60 + rank). Exactness: each reciprocal rides
    * the 1e12 integer grid via `div` (1e12 div 61 is the same BIGINT
    * in any engine), so fusion never sums floats. Plan shape: the
    * lexical side is q160's keyed postings aggs with the query
    * workload broadcast; the semantic side broadcasts FIVE query
    * vectors against one corpus pass (the IVF twin q41 is the
    * serving path when the query set grows); fusion is a full-outer
    * join of two k-row lists per query — constant work per query.
    * At 100 TB each side's top-k is per-query-partitioned, so fusion
    * never sees corpus-sized input. */
  def q212HybridFusion(spark: SparkSession, dir: String): DataFrame = {
    val lex = q160Bm25Retrieval(spark, dir)
      .select(col("query_id"), col("doc_id"),
        col("rank").as("lex_rank"))
    val emb = vectors(spark, dir)
    val sem = Similarity.bruteForceTopK(
        emb.where(col("id").between(1, 5)), emb, k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("sem_rank"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000000000 div (60 + lex_rank)"), lit(0L))
          + coalesce(expr("1000000000000 div (60 + sem_rank)"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("lex_rank"), col("sem_rank"), col("rrf_fp"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sequence packing for pretraining batches: per source, documents
    * concatenate in doc_id order and slice into fixed 512-token
    * training sequences (the standard packed-pretraining layout —
    * docs crossing a boundary split across sequences with an
    * attention reset, so nothing is padded or dropped). The whole
    * layout derives from ONE per-source running token offset: a doc
    * splits iff its [offset, offset+n) span crosses a multiple of
    * the capacity, the sequence count is ceil(total/C), and the last
    * sequence's fill is total mod C — so the stats job here shares
    * its only shuffle (the source-keyed sort) with the writer that
    * would emit the packed blocks via the same offsets. Exact
    * integer arithmetic throughout; the one division (avg docs per
    * sequence) happens once per source row. Distinct from q69, which
    * assigns WHOLE docs to ~4000-token shards in hash order and has
    * no notion of boundary splits or per-sequence fill — this is the
    * layout the training loader actually consumes. */
  def q214SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val cap = 512L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir).documents
      .select(col("doc_id"), col("source"),
        wordCount(col("text")).cast("long").as("n"))
      .where(col("n") > 0)
      .withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(when(expr(s"off div $cap") < expr(s"(off + n - 1) div $cap"),
          lit(1L)).otherwise(lit(0L))).as("n_split_docs"))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${cap - 1}) div $cap"))
      .withColumn("avg_docs_per_seq",
        round(col("n_docs") / col("n_seqs"), 2))
      .withColumn("last_fill_bp", expr(
        s"(case when total_tokens % $cap = 0 then $cap" +
          s" else total_tokens % $cap end) * 10000 div $cap"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_seqs"), col("n_split_docs"),
        col("avg_docs_per_seq"), col("last_fill_bp"))
      .orderBy(col("source"))
  }

  /** Declarative data-quality constraint suite over the corpus,
    * GROUPED by source — six constraints (null completeness, key
    * uniqueness, length bounds, a latin-language match ratio, a
    * closed lang vocabulary) compiled by
    * [[graft.operators.Constraints]] into ONE grouped aggregation
    * pass. The pass/fail mix is real: the max-length bound and the
    * latin-ratio threshold each fail for some sources. Every metric
    * is a single division of exact longs or a min/max passthrough —
    * deterministic under any partitioning, so even the doubles
    * hash-match the oracle.
    *
    * Scale shape: one corpus scan, one shuffle on the group key, the
    * stack/finalize on the |sources|×6 aggregated frame. N
    * constraints never cost N passes — that is the operator's point
    * at 100 TB. */
  def q215ConstraintSuite(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators._
    val suite = Seq(
      Completeness("text", 0.99),
      UniqueRatio("doc_id", 1.0),
      MinBound("n_chars", 40.0),
      MaxBound("n_chars", 500.0),
      MatchRatio("lang", "^(en|de|fr|es)$", 0.9),
      InSetRatio("lang", Seq("en", "de", "fr", "es", "zh"), 1.0))
    Constraints.run(t(spark, dir).documents, suite, Seq("source"))
      .orderBy(col("source"), col("constraint_type"), col("column_name"))
  }

  /** k-anonymity / l-diversity audit of the customer table under the
    * quasi-identifier pair (nation, account-balance band): one keyed
    * aggregation builds the equivalence-class table, a second on the
    * tiny class-size domain yields the full risk histogram — classes,
    * rows, k<5 exposure, and how many classes also fail l<3 on the
    * market-segment sensitive attribute. */
  def q216KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir).customer
      .withColumn("bal_band", floor(col("c_acctbal") / lit(1000.0)))
    graft.operators.Privacy.audit(cust,
        Seq("c_nationkey", "bal_band"), "c_mktsegment", k = 5, l = 3)
      .orderBy(col("class_size"))
  }

  /** k-anonymization by suppression, reported from BOTH sides: rows
    * whose (nation, balance-band) class has fewer than 5 members are
    * dropped ([[graft.operators.Privacy.suppressBelowK]] — class
    * aggregation + null-safe semi-join on the same keys,
    * exchange-reusable), and the per-segment report carries total /
    * kept / suppressed counts plus the survivors' integer-cents
    * balance mass — so the privacy cost of the cut is visible even
    * where suppression is total (at tiny SFs every class is small
    * and n_kept is rightly 0). */
  def q217KSuppression(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir).customer
      .withColumn("bal_band", floor(col("c_acctbal") / lit(1000.0)))
    val totals = cust.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_total"))
    val kept = graft.operators.Privacy
      .suppressBelowK(cust, Seq("c_nationkey", "bal_band"), 5)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("kept_raw"),
        countDistinct(col("c_nationkey")).as("nations_raw"),
        centsSum(col("c_acctbal")).as("cents_raw"))
    totals.join(kept, Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment"), col("n_total"),
        coalesce(col("kept_raw"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("kept_raw"), lit(0L)))
          .as("n_suppressed"),
        coalesce(col("nations_raw"), lit(0L)).as("n_nations"),
        coalesce(col("cents_raw"), lit(0L)).as("kept_bal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Row-level expectations + quarantine routing over the corpus —
    * the ENFORCEMENT half of q215's declarative suite (the q78
    * JSON-quarantine pattern for structured quality): every row is
    * tagged with the constraints it violates in one codegen'd
    * projection ([[graft.operators.Constraints.enforce]]), clean rows
    * ship, violating rows quarantine with reasons attached. The
    * report is the routing matrix: per (source, disposition) row
    * counts and token mass, where disposition is '(clean)' or the
    * violated constraint's tag (a row violating two constraints
    * counts under both — explode of a ≤|suite| array). */
  def q218Expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators._
    val suite = Seq(
      MinBound("n_chars", 40.0),
      MaxBound("n_chars", 500.0),
      MatchRatio("lang", "^(en|de|fr|es)$", 0.9),
      Completeness("text", 0.99))
    val tagged = Constraints.enforce(t(spark, dir).documents, suite)
      .withColumn("disposition",
        when(size(col("violations")) === 0, array(lit("(clean)")))
          .otherwise(col("violations")))
    tagged.select(col("source"), col("n_chars"),
        explode(col("disposition")).as("disposition"))
      .groupBy(col("source"), col("disposition"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("source"), col("disposition"))
  }

  /** Suite drift — the suggestion half of the Deequ story closing the
    * loop: the suite is DERIVED from a baseline corpus version's own
    * profile ([[graft.operators.Constraints.suggest]] — observed
    * completeness/uniqueness/bounds as thresholds, the top-3 langs by
    * mass with the baseline's own in-set ratio), then evaluated on
    * the NEXT corpus version per source, so "did quality drift, and
    * where?" is a pass/fail report with zero hand-written thresholds.
    * Baseline = even doc_ids, next = odd — a deterministic split
    * standing in for two snapshot versions.
    *
    * Scale shape: suggestion = one aggregate pass + one
    * |distinct langs| top-k on the baseline (O(cols+k) rows to the
    * driver — a threshold decision, the q134 probe-literal class);
    * evaluation = q215's one-scan grouped suite on the next version. */
  def q219SuiteDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators._
    val (v1, v2) = docHalves(spark, dir)
    val suite = Constraints.suggest(v1,
      completenessCols = Seq("text"),
      uniqueCols = Seq("doc_id"),
      boundCols = Seq("n_chars"),
      setCols = Seq(("lang", 3)))
    Constraints.run(v2, suite, Seq("source"))
      .orderBy(col("source"), col("constraint_type"), col("column_name"))
  }

  /** Monitorable approximate uniqueness — the constraint the
    * streaming quality monitor could not cover until round 9:
    * [[graft.operators.ApproxUniqueRatio]]'s state slice is the
    * portable md5-HLL register array (the q107/q114 sketch), mergeable
    * by register-wise max. The query runs the MONITOR shape in batch:
    * two synthetic micro-batches (doc_id parity) each aggregate their
    * own per-source state, the states merge
    * ([[graft.operators.Constraints.mergeStates]]), and the report
    * finalizes with the q107 fixed-point estimate + the standard
    * LinearCounting small-range branch. The oracle rebuilds the
    * sketch ONE-SHOT over all rows, so the hash match proves
    * merge ≡ rebuild (q114's associativity argument) INSIDE the
    * constraint framework, not just for raw sketch queries. doc_id
    * (unique, est ratio ≈ 1) passes its 0.8 threshold; lang (~5
    * distinct per source) fails its 0.5 one — a real pass/fail mix.
    *
    * Scale shape: each batch state is one scan + a |sources|-row
    * shuffle carrying a 256-long array; the merge and finalization
    * run on |sources|×|batches| tiny rows. */
  def q220ApproxUniqueMonitor(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.operators._
    val docs = t(spark, dir).documents
    val suite = Seq(
      ApproxUniqueRatio("doc_id", 0.8),
      ApproxUniqueRatio("lang", 0.5),
      Completeness("text", 0.9))
    val states = Seq(0, 1).map(p =>
        Constraints.state(docs.where(col("doc_id") % 2 === p), suite,
          Seq("source")))
      .reduce(_ unionByName _)
    Constraints.report(
        Constraints.mergeStates(states, suite, Seq("source")),
        suite, Seq("source"))
      .orderBy(col("source"), col("column_name"))
  }

  /** k-anonymization by GENERALIZATION — suppression's production
    * alternative (q217 drops rows; this coarsens values until k
    * holds): the customer quasi-identifiers walk fixed ladders
    * (nation → region → suppressed; 1000-balance band → 5000-band →
    * suppressed) along [[graft.operators.Privacy.generalizationAudit]]'s
    * round-robin schedule, and the audit reports EVERY step's
    * k-posture — classes, min class size, rows below/at k — plus the
    * step [[graft.operators.Privacy.generalizeToK]] would choose
    * (first satisfying; min class size is monotone along a
    * genuine-coarsening ladder, which OperatorsSpec property-pins).
    * The information-loss-vs-rows-kept trade is the row set itself:
    * later steps keep more rows at coarser (lossier) recodings.
    *
    * Scale shape: one keyed aggregation per schedule step (5 steps
    * here), each re-aggregated to four scalars — the nation side
    * broadcast-joins for its region ladder. */
  def q221GeneralizeToK(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val cust = tb.customer.join(
      broadcast(tb.nation.select(col("n_nationkey"), col("n_regionkey"))),
      col("c_nationkey") === col("n_nationkey"))
    val ladders = Seq(
      "qi_nation" -> Seq(col("c_nationkey"), col("n_regionkey"),
        lit(-1L)),
      "qi_band" -> Seq(floor(col("c_acctbal") / 1000.0),
        floor(col("c_acctbal") / 5000.0), lit(-1L)))
    graft.operators.Privacy.generalizationAudit(cust, ladders, k = 5)
      .orderBy(col("step"))
  }

  /** Distribution-drift constraint in the suggestion loop — the
    * drift class the ratio suite cannot see: a corpus whose lengths
    * REDISTRIBUTE inside the old bounds trips no completeness, set or
    * bound constraint. [[graft.operators.Constraints.suggest]]
    * derives a [[graft.operators.HistogramDrift]] from the baseline
    * half's own equi-depth quantiles (8 bins, exact nearest-rank
    * edges) alongside completeness and the top-5 lang set; the suite
    * is then evaluated on (a) the other half — same distribution, PSI
    * small — and (b) a synthetically drifted copy whose n_chars are
    * integer-squashed (`div 3`: every value stays positive, lang/text
    * untouched, so ONLY the histogram constraint can notice). The
    * PSI metric is the q179 fixed-point convention (psi×1e6 as exact
    * integer terms), so it hash-matches DuckDB's replay of the same
    * edge derivation, binning and smoothing.
    *
    * Scale shape: suggestion adds a |distinct-values| cumulative
    * window (aggregate domain) + an O(bins) collect; evaluation stays
    * the one-scan suite — the bin array rides the same single
    * aggregation pass as every other constraint. */
  def q222DistributionDrift(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.operators._
    val (v1, v2) = docHalves(spark, dir)
    driftReport(v2, Constraints.suggest(v1,
      completenessCols = Seq("text"),
      setCols = Seq(("lang", 5)),
      histCols = Seq(("n_chars", 8))))
  }

  /** The suite-drift versions: baseline (even doc_ids) and next (odd)
    * (q219/q222/q223). */
  private def docHalves(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = t(spark, dir).documents
    (docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1))
  }

  /** `suite` run on the next version `v2` and on its n_chars-squashed
    * copy (`div 3`), one report per `version` (q222/q223). */
  private def driftReport(v2: DataFrame,
      suite: Seq[graft.operators.Constraint]): DataFrame = {
    import graft.operators.Constraints
    val drifted = v2.withColumn("n_chars", expr("n_chars div 3"))
    Constraints.run(v2, suite)
      .withColumn("version", lit("v2"))
      .unionByName(Constraints.run(drifted, suite)
        .withColumn("version", lit("v2_drifted")))
      .select(col("version"), col("constraint_type"), col("column_name"),
        col("metric"), col("threshold"), col("passed"))
      .orderBy(col("version"), col("constraint_type"), col("column_name"))
  }

  /** Monitorable quantile bound — the last member of the
    * distribution-governance trio (q220 uniqueness, q222 shape, q223
    * location): "the MEDIAN document length must not collapse" as a
    * mergeable constraint. [[graft.operators.QuantileBound]] reads
    * the rank-⌈n/2⌉ bin off the same fixed-edge bin-count slice as
    * q222's histogram (edges suggested from the baseline half's own
    * equi-depth quantiles), so its metric is a LITERAL EDGE VALUE —
    * exact-integer bin choice, engine-portable. Evaluated on the
    * sibling half (median ≈ the p50 edge, ≥ the p25-edge floor —
    * passes) and on the integer-squashed copy (median collapses into
    * the bottom bin — fails), next to a completeness constraint that
    * stays silent on both. */
  def q223QuantileBound(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators._
    val (v1, v2) = docHalves(spark, dir)
    val edges = Constraints.suggest(v1, histCols = Seq(("n_chars", 8)))
      .collect { case h: HistogramDrift => h }.head.edges
    driftReport(v2, Seq(
      QuantileBound("n_chars", edges, 5000, edges(1), ">="),
      Completeness("text", 0.9)))
  }

  /** The large-large cosine-threshold join from PURE SQL — the round-9
    * closure of the README roadmap's last similarity-join seam. The
    * naive `a JOIN b ON cosine_sim(..) >= 0.35D` text is what a SQL
    * user writes; with broadcast disabled neither side can gate, and
    * by default the rewrite declines (the cartesian is the user's
    * literal query). Here the session OPTS IN via
    * `spark.graft.similarityJoin.largeLarge=banded`, so the identical
    * SQL plans as SimilarityBandedJoinExec with geometry derived from
    * the join's own threshold — BandGeometry.derive(0.35) = 16 bands ×
    * 4 bits (recall ≥ 0.9 at the threshold). Both confs live on a
    * DERIVED session (`PlanBridge.cloneSession`: the caller's confs and
    * rule table plus these two), so nothing leaks into the caller's
    * session. The LSH is deterministic (integer Rademacher
    * signatures), so the oracle replays banding + gate bit-for-bit at
    * 16×4 — same contract as q131, which pins the explicit-geometry
    * operator-API form of this plan at 8×8. */
  def q224SimJoinSqlLargeLarge(spark: SparkSession, dir: String): DataFrame =
    bandedCosineSql(spark, dir, "emb_q224", "0.35D")

  /** The naive cosine self-join SQL over the embeddings (view `view`,
    * gate `threshold`) on a derived session with broadcast off and the
    * banded large-large rewrite opted in, plus `confs` (q224/q225). */
  private def bandedCosineSql(spark: SparkSession, dir: String, view: String,
      threshold: String, confs: (String, String)*): DataFrame = {
    val s = org.apache.spark.sql.graftbridge.PlanBridge.cloneSession(spark)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(graft.plans.SimilarityJoinRewrite.LargeLargeConf, "banded")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    t(s, dir).embeddings.createOrReplaceTempView(view)
    s.sql(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
         |                   CAST(b.embedding AS ARRAY<DOUBLE>)), 4) AS sim
         |FROM $view a JOIN $view b
         |  ON cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
         |                CAST(b.embedding AS ARRAY<DOUBLE>)) >= $threshold
         | AND a.vec_id < b.vec_id
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** The wide-signature banded join — q224's SQL-surface plan under a
    * session signature-bit budget (`signatureBits=256`). At a mid
    * threshold the classic 64-bit derive is stuck at 4-bit bands (16
    * buckets per band — recall forces coarse buckets), so EVERY band
    * carries ~n²/16 candidate pairs; the 256-bit budget lets
    * `BandGeometry.deriveWide(0.4)` pick 36 bands × 6 bits (216
    * hyperplanes; recall 0.904 ≥ 0.9 at the threshold) — 64 buckets
    * per band and no over-provisioned bands, ~1.8× fewer candidates
    * here and up to ~5× at 0.6 (the BandSoak pin) for a linear
    * signature-cost increase. Threshold 0.4 (vs q224's 0.35) keeps
    * the output non-empty at every rung (59 exact qualifying pairs
    * at sf0.01, of which the banding recovers 53; 66 at sf0.001, 60
    * recovered — both ≥ the 0.9 recall target) while exercising the
    * word-straddling 216-bit path.
    * Same determinism contract as q131/q224: integer Rademacher
    * signatures, so the oracle replays the banding + exact gate
    * bit-for-bit. */
  def q225SimJoinWideBand(spark: SparkSession, dir: String): DataFrame =
    bandedCosineSql(spark, dir, "emb_q225", "0.4D",
      graft.plans.SimilarityJoinStrategy.SignatureBitsConf -> "256")

  // ---------- registry ----------

  /** The catalog. Every entry first runs [[GraftExtensions.ensure]] on
    * its session, so a query plans under the graft rule table whatever
    * built the session and whatever ran in it before. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_revenue_by_segment" -> (q02RevenueBySegment _),
    "q03_supplier_geo" -> (q03SupplierGeo _),
    "q04_top_orders" -> (q04TopOrders _),
    "q05_event_pivot" -> (q05EventPivot _),
    "q06_user_behavior" -> (q06UserBehavior _),
    "q07_event_type_stats" -> (q07EventTypeStats _),
    "q08_hourly" -> (q08Hourly _),
    "q09_weekday" -> (q09Weekday _),
    "q10_heatmap" -> (q10Heatmap _),
    "q11_tumbling" -> (q11Tumbling _),
    "q12_sliding" -> (q12Sliding _),
    "q13_weekend" -> (q13Weekend _),
    "q14_union_funnel" -> (q14UnionFunnel _),
    "q15_top_users_pct" -> (q15TopUsersPct _),
    "q16_event_summary" -> (q16EventSummary _),
    "q17_first_event" -> (q17FirstEvent _),
    "q18_top_tokens" -> (q18TopTokens _),
    "q19_lang_quality" -> (q19LangQuality _),
    "q20_sentiment" -> (q20Sentiment _),
    "q21_dedup_exact" -> (q21DedupExact _),
    "q22_jaccard_pairs" -> (q22JaccardPairs _),
    "q23_minhash_lsh" -> (q23MinhashLsh _),
    "q24_source_profile" -> (q24SourceProfile _),
    "q25_ann_bruteforce" -> (q25AnnBruteForce _),
    "q26_asof_join" -> (q26AsofJoin _),
    "q27_extract_terms" -> (q27ExtractTerms _),
    "q28_approx_distinct" -> (q28ApproxDistinct _),
    "q29_alert_union" -> (q29AlertUnion _),
    "q30_cube" -> (q30Cube _),
    "q31_sessions" -> (q31Sessions _),
    "q32_range_join" -> (q32RangeJoin _),
    "q33_user_gaps" -> (q33UserGaps _),
    "q34_value_histogram" -> (q34ValueHistogram _),
    "q35_props_extract" -> (q35PropsExtract _),
    "q36_frame_profile" -> (q36FrameProfile _),
    "q37_percentiles" -> (q37Percentiles _),
    "q38_semi_anti" -> (q38SemiAnti _),
    "q39_running_revenue" -> (q39RunningRevenue _),
    "q40_simhash" -> (q40Simhash _),
    "q41_ann_ivf" -> (q41AnnIvf _),
    "q42_tfidf_terms" -> (q42TfidfTerms _),
    "q43_rollup" -> (q43Rollup _),
    "q44_ship_delay" -> (q44ShipDelay _),
    "q45_stratified_sample" -> (q45StratifiedSample _),
    "q46_quality_filter" -> (q46QualityFilter _),
    "q47_crossmodal" -> (q47CrossModal _),
    "q48_location_clean" -> (q48LocationClean _),
    "q49_spam_profile" -> (q49SpamProfile _),
    "q50_device_profile" -> (q50DeviceProfile _),
    "q51_mentions" -> (q51Mentions _),
    "q52_chained_metrics" -> (q52ChainedMetrics _),
    "q53_set_ops" -> (q53SetOps _),
    "q54_embed_neardup" -> (q54EmbedNearDup _),
    "q55_kmeans_fit" -> (q55KmeansFit _),
    "q56_winnow_shared" -> (q56WinnowShared _),
    "q57_token_cost" -> (q57TokenCost _),
    "q58_editdist_pairs" -> (q58EditDistancePairs _),
    "q59_split_assign" -> (q59SplitAssign _),
    "q60_contamination" -> (q60Contamination _),
    "q61_bloom_semi" -> (q61BloomSemi _),
    "q62_grouping_sets" -> (q62GroupingSets _),
    "q63_sampled_fit" -> (q63SampledFit _),
    "q64_shard_assign" -> (q64ShardAssign _),
    "q65_unpivot" -> (q65Unpivot _),
    "q66_repetition_quality" -> (q66RepetitionQuality _),
    "q67_redact_profile" -> (q67RedactProfile _),
    "q68_domain_profile" -> (q68DomainProfile _),
    "q69_pack_shards" -> (q69PackShards _),
    "q70_overlap_pairs" -> (q70OverlapPairs _),
    "q71_dedup_clusters" -> (q71DedupClusters _),
    "q72_incremental_ingest" -> (q72IncrementalIngest _),
    "q73_session_replay" -> (q73SessionReplay _),
    "q74_asof_exec" -> (q74AsofExec _),
    "q75_scd2_join" -> (q75Scd2Join _),
    "q76_asof_broadcast" -> (q76AsofBroadcast _),
    "q77_window_family" -> (q77WindowFamily _),
    "q78_json_quarantine" -> (q78JsonQuarantine _),
    "q79_agg_family" -> (q79AggFamily _),
    "q80_forward_fill" -> (q80ForwardFill _),
    "q81_embed_clusters" -> (q81EmbedClusters _),
    "q82_iqr_outliers" -> (q82IqrOutliers _),
    "q83_retention_cohorts" -> (q83RetentionCohorts _),
    "q84_session_funnel" -> (q84SessionFunnel _),
    "q85_survivor_merge" -> (q85SurvivorMerge _),
    "q86_star_join" -> (q86StarJoin _),
    "q87_sql_subqueries" -> (q87SqlSubqueries _),
    "q88_lang_confusion" -> (q88LangConfusion _),
    "q89_exact_contamination" -> (q89ExactContamination _),
    "q90_corpus_health" -> (q90CorpusHealth _),
    "q91_clean_export" -> (q91CleanExport _),
    "q92_star_clusters" -> (q92StarClusters _),
    "q93_pagerank" -> (q93PageRank _),
    "q94_chunk_windows" -> (q94ChunkWindows _),
    "q95_weighted_sample" -> (q95WeightedSample _),
    "q96_topp_select" -> (q96TopPSelect _),
    "q97_quantize_profile" -> (q97QuantizeProfile _),
    "q98_mixture_weights" -> (q98MixtureWeights _),
    "q99_cross_source_dups" -> (q99CrossSourceDups _),
    "q100_cooccur_lift" -> (q100CooccurLift _),
    "q101_equidepth_hist" -> (q101EquiDepthHist _),
    "q102_triangles" -> (q102Triangles _),
    "q103_snapshot_diff" -> (q103SnapshotDiff _),
    "q104_bigram_lm" -> (q104BigramLm _),
    "q105_dynsession_replay" -> (q105DynamicSessionReplay _),
    "q106_cms_heavy_hitters" -> (q106CmsHeavyHitters _),
    "q107_portable_hll" -> (q107PortableHll _),
    "q108_portable_bloom" -> (q108PortableBloom _),
    "q109_pipeline_mine" -> (q109PipelineMine _),
    "q110_pipeline_clusters" -> (q110PipelineClusters _),
    "q111_pipeline_survivors" -> (q111PipelineSurvivors _),
    "q112_pipeline_export" -> (q112PipelineExport _),
    "q113_pipeline_pagerank" -> (q113PipelinePagerank _),
    "q114_hll_merge" -> (q114HllMerge _),
    "q115_quantized_ann" -> (q115QuantizedAnn _),
    "q116_incremental_pairs" -> (q116IncrementalPairs _),
    "q117_cluster_split" -> (q117ClusterSplit _),
    "q118_embed_pipeline" -> (q118EmbedPipeline _),
    "q119_lm_quality" -> (q119LmQualityFilter _),
    "q120_pair_source_matrix" -> (q120PairSourceMatrix _),
    "q121_repeated_spans" -> (q121RepeatedSpans _),
    "q122_bpe_pairs" -> (q122BpePairs _),
    "q123_retention_sweep" -> (q123RetentionSweep _),
    "q124_training_order" -> (q124TrainingOrder _),
    "q125_quota_sample" -> (q125QuotaSample _),
    "q126_histogram_quantiles" -> (q126HistogramQuantiles _),
    "q127_modality_agreement" -> (q127ModalityAgreement _),
    "q128_forget_cascade" -> (q128ForgetCascade _),
    "q129_oov_rate" -> (q129OovRate _),
    "q130_simjoin_exact" -> (q130SimJoinExact _),
    "q131_simjoin_banded" -> (q131SimJoinBanded _),
    "q132_attribution_outer" -> (q132AttributionOuter _),
    "q133_delta_cap_pairs" -> (q133DeltaCapPairs _),
    "q134_ivf_index_probe" -> (q134IvfIndexProbe _),
    "q135_jaccard_join" -> (q135JaccardJoin _),
    "q136_overlap_join" -> (q136OverlapJoin _),
    "q137_semantic_dedup" -> (q137SemanticDedup _),
    "q138_ivf_index_append" -> (q138IvfIndexAppend _),
    "q139_embed_decontaminate" -> (q139EmbedDecontaminate _),
    "q140_zorder_keys" -> (q140ZorderKeys _),
    "q141_shard_provenance" -> (q141ShardProvenance _),
    "q142_bpe_train" -> (q142BpeTrain _),
    "q143_bpe_token_stats" -> (q143BpeTokenStats _),
    "q144_semantic_dedup_increment" -> (q144SemanticDedupIncrement _),
    "q145_semantic_retention_sweep" -> (q145SemanticRetentionSweep _),
    "q146_incremental_exact_dedup" -> (q146IncrementalExactDedup _),
    "q147_semantic_dedup_multiprobe" -> (q147SemanticDedupMultiprobe _),
    "q148_heavy_hitters" -> (q148HeavyHitters _),
    "q149_dup_spans" -> (q149DupSpans _),
    "q150_random_projection" -> (q150RandomProjection _),
    "q151_domain_relevance" -> (q151DomainRelevance _),
    "q152_knn_label_confusion" -> (q152KnnLabelConfusion _),
    "q153_dup_span_removal" -> (q153DupSpanRemoval _),
    "q154_scd2_build" -> (q154Scd2Build _),
    "q155_decon_span_removal" -> (q155DeconSpanRemoval _),
    "q156_cohort_retention" -> (q156CohortRetention _),
    "q157_ordered_funnel" -> (q157OrderedFunnel _),
    "q158_rate_anomaly" -> (q158RateAnomaly _),
    "q159_adaptive_quality_cut" -> (q159AdaptiveQualityCut _),
    "q160_bm25_retrieval" -> (q160Bm25Retrieval _),
    "q161_pq_adc_topk" -> (q161PqAdcTopK _),
    "q162_ivf_pq_serve" -> (q162IvfPqServe _),
    "q163_session_paths" -> (q163SessionPaths _),
    "q164_calendar_gaps" -> (q164CalendarGaps _),
    "q165_merge_apply" -> (q165MergeApply _),
    "q166_phrase_search" -> (q166PhraseSearch _),
    "q167_clustering_coeff" -> (q167ClusteringCoeff _),
    "q168_record_linkage" -> (q168RecordLinkage _),
    "q169_ab_experiment" -> (q169AbExperiment _),
    "q170_daily_trend" -> (q170DailyTrend _),
    "q171_kcore" -> (q171KcoreBounded _),
    "q172_interval_union" -> (q172IntervalUnion _),
    "q173_funnel_latency" -> (q173FunnelLatency _),
    "q174_join_cardinality" -> (q174JoinCardinality _),
    "q175_basket_rules" -> (q175BasketRules _),
    "q176_rfm_segments" -> (q176RfmSegments _),
    "q177_abc_analysis" -> (q177AbcAnalysis _),
    "q178_user_entropy" -> (q178UserEntropy _),
    "q179_psi_drift" -> (q179PsiDrift _),
    "q180_decayed_trending" -> (q180DecayedTrending _),
    "q181_linear_attribution" -> (q181LinearAttribution _),
    "q182_label_propagation" -> (q182LabelPropagation _),
    "q183_markov_stationary" -> (q183MarkovStationary _),
    "q184_skyline" -> (q184Skyline _),
    "q185_prefix_pairs" -> (q185PrefixPairs _),
    "q186_benford_audit" -> (q186BenfordAudit _),
    "q187_column_profile" -> (q187ColumnProfile _),
    "q188_hll_intersection" -> (q188HllIntersection _),
    "q189_sax_motifs" -> (q189SaxMotifs _),
    "q190_greedy_coverage" -> (q190GreedyCoverage _),
    "q191_frequent_triples" -> (q191FrequentTriples _),
    "q192_mining_recall" -> (q192MiningRecall _),
    "q193_churn_hazard" -> (q193ChurnHazard _),
    "q194_daily_audience" -> (q194DailyAudience _),
    "q195_monthly_bands" -> (q195MonthlyBands _),
    "q196_cluster_purity" -> (q196ClusterPurity _),
    "q197_seasonal_index" -> (q197SeasonalIndex _),
    "q198_gini_concentration" -> (q198GiniConcentration _),
    "q199_correlation_matrix" -> (q199CorrelationMatrix _),
    "q200_corpus_scorecard" -> (q200CorpusScorecard _),
    "q201_changepoint" -> (q201Changepoint _),
    "q202_discount_elasticity" -> (q202DiscountElasticity _),
    "q203_lorenz_deciles" -> (q203LorenzDeciles _),
    "q204_term_burstiness" -> (q204TermBurstiness _),
    "q205_dwell_bands" -> (q205DwellBands _),
    "q206_lev_join" -> (q206LevJoin _),
    "q207_peak_concurrency" -> (q207PeakConcurrency _),
    "q208_snapshot_diff" -> (q208SnapshotDiff _),
    "q209_incident_impact" -> (q209IncidentImpact _),
    "q210_weighted_quality" -> (q210WeightedQuality _),
    "q211_priority_sample" -> (q211PrioritySample _),
    "q212_hybrid_fusion" -> (q212HybridFusion _),
    "q214_sequence_pack" -> (q214SequencePack _),
    "q215_constraint_suite" -> (q215ConstraintSuite _),
    "q216_k_anonymity" -> (q216KAnonymity _),
    "q217_k_suppression" -> (q217KSuppression _),
    "q218_expectations" -> (q218Expectations _),
    "q219_suite_drift" -> (q219SuiteDrift _),
    "q220_approx_unique_monitor" -> (q220ApproxUniqueMonitor _),
    "q221_generalize_to_k" -> (q221GeneralizeToK _),
    "q222_distribution_drift" -> (q222DistributionDrift _),
    "q223_quantile_bound" -> (q223QuantileBound _),
    "q224_simjoin_sql_large" -> (q224SimJoinSqlLargeLarge _),
    "q225_simjoin_wide_band" -> (q225SimJoinWideBand _)
  ).transform { (_, query) => (spark: SparkSession, dir: String) =>
    GraftExtensions.ensure(spark)
    query(spark, dir)
  }
}
