package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The reference's Tweet-domain alert detectors (SQ2-SQ4, SQ14),
  * re-expressed over the canonical [[Tweet]] schema. All are stateless
  * filter+project streams (reference T7) emitting the alert columns
  * `baseCols` lists, `timestamp` as a TimestampType (+ user_friends
  * where the reference includes it); they compose with `StreamOps.alertUnion` and
  * `StreamOps.windowedMetrics` into the SQ5 topology.
  *
  * Each detector is defined once, as a [[Detector]]: the rows it fires
  * on and the alert it raises. The public per-detector frames
  * (`imbalanceAlerts`, `viralAlerts`, ...) filter on it; the pipelines
  * evaluate several detectors in ONE pass over a decoded stream
  * (`viralVipAlerts`, the stateless half of `botDetectionMetrics`):
  * one `when(fires, alert)` cell per detector, exploded, null cells
  * dropped. That emits exactly the rows of the `alertUnion` of the
  * per-detector frames while the stream is read and decoded once.
  *
  * Thresholds are the reference constants (job1_bots.py:42-46,
  * job5.py:89-90). Alert reasons mirror the reference's concatenated
  * Spanish strings verbatim — they are part of the output contract.
  */
object TweetAlerts {

  val FriendsThreshold = 2000
  val HighFrequencyThreshold = 3L
  val FollowersLowThreshold = 100
  val NewAccountDays = 30
  val DescriptionMinLength = 5
  val HighReachThreshold = 10000

  private val baseCols = Seq(
    "crypto_type", "alert_type", "alert_priority", "alert_reason",
    "user_name", "user_followers", "user_verified", "text", "timestamp")
  private val botCols =
    baseCols.take(6) ++ Seq("user_friends") ++ baseCols.drop(6)

  /** A stateless detector: the predicate a tweet fires it on, and the
    * alert it raises there. */
  private final case class Detector(fires: Column, alertType: String,
      priority: Column, reason: Column) {
    /** The alert as one struct cell, null where the detector does not
      * fire. */
    def cell: Column = when(fires, struct(lit(alertType).as("alert_type"),
      priority.as("alert_priority"), reason.as("alert_reason")))
  }

  private val imbalance = Detector(
    col("user_friends") >= FriendsThreshold
      && col("user_followers") <= FollowersLowThreshold,
    "FRIENDS_FOLLOWERS_IMBALANCE", lit("MEDIUM"), concat(
      lit("Relación extraña friends/followers para "), col("user_name"),
      lit(" (friends: "), col("user_friends").cast("string"),
      lit(", followers: "), col("user_followers").cast("string"),
      lit(")")))

  private val emptyProfile = Detector(
    col("user_description").isNull
      || length(trim(col("user_description"))) < DescriptionMinLength,
    "EMPTY_PROFILE", lit("LOW"), concat(
      lit("Perfil vacío/corto para "), col("user_name"),
      lit(" (desc length: "),
      length(coalesce(col("user_description"), lit(""))).cast("string"),
      lit(")")))

  private def newAccount(now: Column): Detector = {
    val ageDays = datediff(now, to_date(col("user_created_dt")))
    Detector(
      col("user_created_dt").isNotNull && ageDays < NewAccountDays,
      "NEW_ACCOUNT_SUSPICIOUS", lit("MEDIUM"), concat(
        lit("Cuenta nueva ("), ageDays.cast("string"),
        lit(" días) - "), col("user_name")))
  }

  private val viral = Detector(
    col("is_retweet") === true || col("text").contains("RT @"),
    "VIRAL_TWEET", lit("HIGH"), concat(
      lit("["), upper(col("crypto_type")),
      lit("] Tweet con potencial viral - Usuario: "), col("user_name"),
      lit(" | Seguidores: "), col("user_followers").cast("string")))

  private val vip = Detector(
    col("user_followers") >= HighReachThreshold,
    "HIGH_REACH_USER",
    when(col("user_verified") === true, "CRITICAL")
      .when(col("user_followers") >= 50000, "HIGH")
      .otherwise("MEDIUM"),
    concat(
      lit("["), upper(col("crypto_type")),
      lit("] Usuario VIP activo - "), col("user_name"),
      lit(" ("), col("user_followers").cast("string"),
      lit(" seguidores) - Verificado: "),
      col("user_verified").cast("string")))

  /** One detector's alerts: the rows it fires on, projected to `cols`. */
  private def alerts(tweets: DataFrame, d: Detector,
      cols: Seq[String]): DataFrame =
    tweets
      .where(d.fires)
      .withColumn("alert_type", lit(d.alertType))
      .withColumn("alert_priority", d.priority)
      .withColumn("alert_reason", d.reason)
      .select(cols.map(col): _*)

  /** Several detectors in one pass: one row per (tweet, firing cell) —
    * `cells` are per-detector columns, null where the detector does not
    * fire — with the non-null cell as column `alert`. The filter drops
    * every null cell, so `alert` is declared non-nullable again: the
    * output keeps the nullability of the per-detector frames. */
  private def fired(tweets: DataFrame, cells: Seq[Column]): DataFrame =
    tweets
      .withColumn("alert", explode(array(cells: _*)))
      .where(col("alert").isNotNull)
      .withColumn("alert", ColumnBridge.column(
        KnownNotNull(ColumnBridge.expression(col("alert")))))

  /** SQ2: friends/followers imbalance (job1_bots.py:186-214). */
  def imbalanceAlerts(tweets: DataFrame): DataFrame =
    alerts(tweets, imbalance, botCols)

  /** SQ3: empty/short profile description (job1_bots.py:216-242).
    * Null-description rows pass the filter (isNull branch); the reason
    * length uses coalesce to 0, exactly as the reference. */
  def emptyDescriptionAlerts(tweets: DataFrame): DataFrame =
    alerts(tweets, emptyProfile, botCols)

  /** SQ4: account younger than 30 days (job1_bots.py:244-269). The
    * reference computes age against `current_date()` — non-
    * deterministic across runs (T10); `now` is therefore injected
    * (tests pass a literal date; production passes current_date()). */
  def newAccountAlerts(tweets: DataFrame,
      now: Column = current_date()): DataFrame =
    alerts(tweets, newAccount(now), botCols)

  /** SQ14a: viral tweets — is_retweet OR text contains "RT @"
    * (job5.py:139-168). */
  def viralAlerts(tweets: DataFrame): DataFrame =
    alerts(tweets, viral, baseCols)

  /** SQ14b: VIP / high-reach users with the 3-tier priority ladder —
    * verified beats the 50k-follower tier, order matters
    * (job5.py:171-205). */
  def vipAlerts(tweets: DataFrame): DataFrame =
    alerts(tweets, vip, baseCols)

  /** SQ14 as job5 builds it: the viral and the VIP alerts of one tweet
    * stream, from one pass over it (job5.py:139-205). The same rows and
    * columns as `alertUnion(Seq(viralAlerts(tweets), vipAlerts(tweets)))`,
    * with `tweets` read and decoded once instead of once per detector. */
  def viralVipAlerts(tweets: DataFrame): DataFrame =
    fired(tweets, Seq(viral.cell, vip.cell))
      .select(baseCols.map {
        case c @ ("alert_type" | "alert_priority" | "alert_reason") =>
          col(s"alert.$c").as(c)
        case c => col(c)
      }: _*)

  /** Event-time + parsed account-creation promotion for a decoded
    * Tweet frame (job1_bots.py:139-140). */
  def promoted(tweets: DataFrame): DataFrame =
    tweets
      .withColumn("timestamp", to_timestamp(col("timestamp")))
      .withColumn("user_created_dt", to_timestamp(col("user_created")))

  /** SQ1: high-frequency posting detector — ≥ [[HighFrequencyThreshold]]
    * tweets in a 60 s tumbling count per
    * (user_name, crypto_type) with the reference's alert shape
    * (job1_bots.py:144-184). The reference's `first()` carries are
    * replaced by deterministic `min()` (A6 rule); the output
    * `timestamp` is `window_time` (not the reference's bare
    * window.end) so the alert stream keeps its event-time metadata
    * and can chain into the SQ5 metrics agg (T9). */
  def highFrequencyTweetAlerts(tweets: DataFrame): DataFrame =
    tweets
      .groupBy(window(col("timestamp"), "60 seconds"),
        col("user_name"), col("crypto_type"))
      .agg(
        count(lit(1)).as("tweet_count"),
        min(col("user_followers")).as("user_followers"),
        min(col("user_friends")).as("user_friends"),
        min(col("user_verified")).as("user_verified"),
        min(col("text")).as("text"))
      .where(col("tweet_count") >= HighFrequencyThreshold)
      .withColumn("alert_type", lit("HIGH_FREQUENCY_POSTING"))
      .withColumn("alert_priority", lit("HIGH"))
      .withColumn("alert_reason", concat(
        lit("Usuario posteando mucho: "), col("user_name"), lit(" -> "),
        col("tweet_count").cast("string"), lit(" tweets en 60s")))
      .withColumn("timestamp", window_time(col("window")))
      .select(col("crypto_type"), col("alert_type"), col("alert_priority"),
        col("alert_reason"), col("user_name"), col("user_followers"),
        col("user_friends"), col("user_verified"), col("text"),
        col("timestamp"))

  /** SQ10: per-tweet sentiment classification — the reference's UDF
    * (job3_sentiment.py:154-243) as `TextFunctions.sentimentStruct`
    * (one native counting pass per row, then Column arithmetic), in
    * the reference's alert
    * projection (job3_sentiment.py:245-272). `alert_reason` (a string
    * the UDF composes for display) is omitted; all scoring fields are
    * carried. */
  def sentimentAlerts(tweets: DataFrame): DataFrame =
    tweets
      .withColumn("sent",
        graft.functions.TextFunctions.sentimentStruct(col("text")))
      .select(
        col("crypto_type"),
        col("sent.sentiment_type").as("sentiment_type"),
        col("sent.alert_priority").as("alert_priority"),
        col("user_name"), col("user_followers"), col("user_verified"),
        col("text"), col("timestamp"),
        col("sent.score").as("sentiment_score"),
        col("sent.pos_emoji_count").as("pos_emoji_count"),
        col("sent.neg_emoji_count").as("neg_emoji_count"))

  /** SQ11: 5 m/1 m sentiment metrics incl. avg(sentiment_score)
    * (job3_sentiment.py:316-340). Input must carry the source
    * watermark. */
  def sentimentMetrics(alerts: DataFrame): DataFrame =
    alerts
      .groupBy(window(col("timestamp"), "5 minutes", "1 minute"),
        col("crypto_type"), col("sentiment_type"), col("alert_priority"))
      .agg(
        count(lit(1)).as("total_alerts"),
        approx_count_distinct(col("user_name")).as("unique_users"),
        avg(col("sentiment_score")).as("avg_score"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("crypto_type"), col("sentiment_type"), col("alert_priority"),
        col("total_alerts"), col("unique_users"), col("avg_score"))

  /** The reference's job1 topology END-TO-END (SQ1-SQ5): decode the
    * 15-field envelope → promote event time → ONE source watermark →
    * stateful SQ1 ∪ stateless SQ2-SQ4 via unionByName (U2) → 5 m/1 m
    * sliding windowed metrics (SQ5: count + HLL++ distinct users),
    * append mode — the chained-stateful T9 shape in the Tweet domain
    * (job1_bots.py:310-333, 345-418). `now` is the injected clock for
    * the SQ4 account-age detector (T10).
    *
    * The plan reads and decodes `raw` twice, and no fewer can do: the
    * SQ1 branch must be aggregated (its 60 s window count) BEFORE the
    * union feeds the metrics aggregation, while SQ2-SQ4 are stateless
    * row filters; one scan feeds SQ1, the other evaluates SQ2-SQ4 in a
    * single pass (`fired`), keeping each alert's own `timestamp` and
    * `user_name` — the only columns the metrics read. */
  def botDetectionMetrics(raw: DataFrame,
      now: Column = current_date()): DataFrame = {
    val tweets = promoted(
      StreamOps.decodeJsonEnvelope(raw, Tweet.schema))
    val src = tweets.withWatermark("timestamp", StreamOps.WatermarkDelay)
    val stateless = fired(src,
      Seq(imbalance, emptyProfile, newAccount(now))
        .map(d => when(d.fires, lit(d.alertType))))
      .select(col("alert").as("alert_type"), col("user_name"),
        col("timestamp"))
    val alerts = StreamOps.alertUnion(Seq(
      highFrequencyTweetAlerts(src)
        .select(col("alert_type"), col("user_name"), col("timestamp")),
      stateless))
    alerts
      .groupBy(window(col("timestamp"), "5 minutes", "1 minute"),
        col("alert_type"))
      .agg(
        count(lit(1)).as("total_alerts"),
        approx_count_distinct(col("user_name")).as("unique_users"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("alert_type"), col("total_alerts"), col("unique_users"))
  }
}
