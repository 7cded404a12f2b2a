package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's five streaming job topologies (SURVEY §2.12
  * SQ1-SQ14), re-expressed as compositions of StreamOps + Sinks. A
  * reference user starts the same fan-out (alerts + windowed metrics,
  * parquet + reporting sinks, per-query checkpoints) from one call.
  *
  * `events` is any decoded event stream (Kafka via [[KafkaSource]],
  * files, or MemoryStream in tests) — topologies never know the
  * source. Each `start*` returns the live queries; callers block via
  * `Sinks.awaitAny`.
  */
object StreamingJobs {

  /** job1-analog (bot detection): stateful high-frequency detector ∪
    * stateless detectors → alert sink; chained re-aggregated metrics
    * (T9, [[StreamOps.chainedAlertMetrics]]) → metrics sink.
    *
    * Takes a source FACTORY: every started query instantiates its own
    * source plan — exactly how the reference topology behaves (each
    * query maintains independent Kafka offsets, SURVEY T12), and
    * required for single-consumer test sources like MemoryStream. */
  def startDetection(events: () => DataFrame, outDir: String,
      trigger: String = "60 seconds")
      : Seq[StreamingQuery] = {
    val src = StreamOps.watermarked(events())
    val alerts = StreamOps.alertUnion(Seq(
        StreamOps.highFrequencyAlerts(src),
        StreamOps.highValueAlerts(src),
        StreamOps.errorAlerts(src)))
      .withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val metrics = StreamOps.chainedAlertMetrics(events())
    Seq(
      Sinks.parquetAppend(alerts,
        s"$outDir/alerts", s"$outDir/chk/alerts", trigger).start(),
      Sinks.parquetAppend(metrics,
        s"$outDir/metrics", s"$outDir/chk/metrics", trigger).start())
  }

  /** The TWEET-domain jobs from the raw 15-field envelope, unstarted,
    * by sink name: job1's chained bot-detection metrics (SQ1-SQ5),
    * job5's viral/VIP alert stream (SQ14), and job3's sentiment metrics
    * (SQ10-SQ11).
    *
    * Each pipeline calls `raw()` once, so each query has one source
    * (its own Kafka offsets, T12) and decodes a record once per scan:
    * viral/VIP and sentiment scan it once, bot metrics twice (SQ1 must
    * be aggregated before the union, see
    * `TweetAlerts.botDetectionMetrics`). */
  def tweetPipelines(raw: () => DataFrame): Seq[(String, DataFrame)] = {
    def tweetsOf(df: DataFrame) =
      TweetAlerts.promoted(StreamOps.decodeJsonEnvelope(df, Tweet.schema))
    Seq(
      "bot_metrics" -> TweetAlerts.botDetectionMetrics(raw()),
      "viral_vip" -> TweetAlerts.viralVipAlerts(tweetsOf(raw())),
      "sentiment" -> TweetAlerts.sentimentMetrics(
        TweetAlerts.sentimentAlerts(
          tweetsOf(raw())
            .withWatermark("timestamp", StreamOps.WatermarkDelay))))
  }

  /** Starts [[tweetPipelines]], in that order, each with its own parquet
    * sink `outDir/<name>` and checkpoint `outDir/chk/<name>` (T11).
    *
    * Checkpoints written by the earlier topology cannot be resumed.
    * The offset log keeps one entry per scan, and Spark rejects a log
    * whose entry count differs from the query's: bot metrics went from
    * 4 scans to 2, viral/VIP from 2 sources to 1. The union feeding
    * bot metrics' state also changed shape. Start all three pipelines
    * on new checkpoints. */
  def startTweetPipelines(spark: SparkSession, raw: () => DataFrame,
      outDir: String, trigger: String = "60 seconds")
      : Seq[StreamingQuery] =
    tweetPipelines(raw).map { case (name, df) =>
      Sinks.parquetAppend(df,
        s"$outDir/$name", s"$outDir/chk/$name", trigger).start()
    }

  /** job4-analog (session tracking): session-window metrics. */
  def startSessions(events: DataFrame, outDir: String,
      trigger: String = "60 seconds")
      : Seq[StreamingQuery] = {
    val metrics = StreamOps.sessionMetrics(StreamOps.watermarked(events))
    Seq(Sinks.parquetAppend(metrics,
      s"$outDir/sessions", s"$outDir/chk/sessions", trigger).start())
  }

  /** job5-analog (stream hygiene): stateful dedup pass-through. */
  def startDedup(spark: SparkSession, events: DataFrame,
      outDir: String, trigger: String = "60 seconds")
      : Seq[StreamingQuery] = {
    val deduped = StreamOps.dedupStream(
      StreamOps.watermarked(events), spark)
    Seq(Sinks.parquetAppend(deduped,
      s"$outDir/deduped", s"$outDir/chk/deduped", trigger).start())
  }
}
