package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.TextFunctions
import graft.streaming.{GraftKafkaTestSource, KafkaSource, StreamOps,
  StreamingJobs, Tweet, TweetAlerts}

/** The `tweet_stream` workload: the reference's tweet topology
  * (`StreamingJobs.startTweetPipelines`: bot metrics, viral/VIP alerts
  * and sentiment metrics, each with its own source, parquet sink and
  * checkpoint) over `KafkaSource.stream(..., format = "graft-kafka-test")`
  * on topics `bitcoin-tweets` and `ethereum-tweets`.
  *
  * One query lifetime, two phases:
  *  - catch-up: a seeded backlog is published before start and drained
  *    from `earliest` under `maxOffsetsPerTrigger`; `pass_s` is the time
  *    from start until all three pipelines committed the backlog;
  *  - live: one generator thread publishes open-loop at `LiveRate`
  *    records/s for `seconds`, on a schedule that does not slow when the
  *    engine does. A record's latency runs from its scheduled publish
  *    time to the commit of the viral/VIP micro-batch that consumed it
  *    (that path is stateless: no window or watermark wait), read from
  *    outside through each batch's end offsets.
  *
  * Set-up starts the topology and lets it drain a small first backlog
  * in the same query lifetime, so the timed phases do not pay the cold
  * start (JIT, code generation, first checkpoint writes). */
object TweetStream {
  val Topics: Seq[String] = Seq("bitcoin-tweets", "ethereum-tweets")
  val Backlog = 20000
  val WarmupRecords = 1000
  val MaxPerTrigger = 10000L
  /** Offered live rate, about half the drain rate of a 4-core host. */
  val LiveRate = 1000.0
  val Trigger = "0 seconds"
  val Users = 4000
  /** Event time advances this much per backlog record: the backlog
    * spans 90 s, less than the 2-minute watermark delay, so however
    * admission control splits it across topics and batches, no on-time
    * backlog record falls behind the watermark. */
  val BacklogStepMs = 3L
  /** ... and this much per live record, so that windows close. */
  val LiveStepMs = 100L
  val EventBaseMs: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  final case class Rec(topic: String, offset: Long, json: String,
      eventMs: Long)

  /** Seeded tweet envelopes: skewed user keys (log-uniform rank, so a
    * few users post most), about one retweet in four, event times up to
    * 90 s out of order (inside the 2-minute watermark) and, where asked
    * for, a share of records 15 to 20 minutes late (beyond it). */
  final class Generator(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val urnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    private val followers = Array.fill(Users)(
      math.min(2000000.0, math.exp(5.0 + 2.2 * urnd.nextGaussian())).toInt)
    private val friends = Array.fill(Users)(
      if (urnd.nextDouble() < 0.05) 2000 + urnd.nextInt(3000)
      else urnd.nextInt(1500))
    private val verified = Array.fill(Users)(urnd.nextDouble() < 0.03)
    private val shortDesc = Array.fill(Users)(urnd.nextDouble() < 0.05)
    // accounts dated in the future read as younger than 30 days on any
    // run date, so the new-account detector fires deterministically
    private val created = Array.tabulate(Users)(u =>
      if (urnd.nextDouble() < 0.03) "2099-01-01 00:00:00"
      else f"${2010 + u % 12}-${1 + u % 12}%02d-15 10:00:00")
    private val words = Seq("btc", "eth", "price", "market", "today",
      "chart", "hodl", "block", "chain", "wallet", "trade", "volume") ++
      TextFunctions.DefaultSentiment.posWords.take(6) ++
      TextFunctions.DefaultSentiment.negWords.take(6) ++
      TextFunctions.DefaultSentiment.posEmoji.take(2) ++
      TextFunctions.DefaultSentiment.negEmoji.take(2)
    private val cities = Seq("Lima", "Madrid", "NYC", "Berlin", "Tokyo", "")
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(ZoneOffset.UTC)
    private var base = EventBaseMs
    private val offsets = mutable.Map(Topics.map(_ -> 0L): _*)

    def next(stepMs: Long, lateShare: Double): Rec = {
      val u = math.min(Users - 1,
        (math.pow(Users.toDouble, rnd.nextDouble()) - 1).toInt)
      val btc = rnd.nextDouble() < 0.6
      val retweet = rnd.nextDouble() < 0.25
      val late = rnd.nextDouble() < lateShare
      base += stepMs
      val eventMs =
        if (late) base - 900000L - rnd.nextInt(300000)
        else math.max(EventBaseMs, base - rnd.nextInt(90000))
      val n = 4 + rnd.nextInt(8)
      val body = (1 to n).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
      val text =
        if (retweet) s"RT @user${rnd.nextInt(Users)}: $body" else body
      val desc = if (shortDesc(u)) "ok" else s"crypto fan $u"
      val json = "{" + Seq(
        q("crypto_type") + ":" + q(if (btc) "bitcoin" else "ethereum"),
        q("user_name") + ":" + q(s"user$u"),
        q("user_location") + ":" + q(cities(u % cities.size)),
        q("user_description") + ":" + q(desc),
        q("user_created") + ":" + q(created(u)),
        q("user_followers") + ":" + followers(u),
        q("user_friends") + ":" + friends(u),
        q("user_favourites") + ":" + (u * 7 % 1000),
        q("user_verified") + ":" + verified(u),
        q("date") + ":" + q(fmt.format(Instant.ofEpochMilli(eventMs)).take(10)),
        q("text") + ":" + q(text),
        q("hashtags") + ":" + q(if (btc) "[\"btc\"]" else "[\"eth\"]"),
        q("source") + ":" + q("Twitter Web App"),
        q("is_retweet") + ":" + retweet,
        q("timestamp") + ":" + q(fmt.format(Instant.ofEpochMilli(eventMs)))
      ).mkString(",") + "}"
      val topic = if (btc) Topics.head else Topics(1)
      val offset = offsets(topic)
      offsets(topic) = offset + 1
      Rec(topic, offset, json, eventMs)
    }

    private def q(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }

  private def publish(r: Rec, tsMicros: Long): Unit =
    GraftKafkaTestSource.publish(r.topic, r.json.getBytes("UTF-8"),
      timestampMicros = tsMicros)

  private def start(spark: SparkSession, dir: String): Seq[StreamingQuery] = {
    def raw(): DataFrame = KafkaSource.stream(spark, "localhost:9092",
      Topics, startingOffsets = "earliest",
      maxOffsetsPerTrigger = Some(MaxPerTrigger), format = "graft-kafka-test")
    StreamingJobs.startTweetPipelines(spark, raw _, dir, Trigger)
  }

  private val om = new ObjectMapper()

  /** Per-topic offsets of a progress source offset JSON. */
  private def offsets(json: String): Map[String, Long] =
    if (json == null || json == "null") Map.empty
    else om.readTree(json).fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(p => offsets(p.sources.head.endOffset)
      .values.sum).getOrElse(0L)

  private def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private def awaitCommitted(qs: Seq[StreamingQuery], total: Long,
      timeoutS: Double): Unit = {
    val t0 = System.nanoTime()
    while (qs.exists(q => committed(q) < total)) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      if ((System.nanoTime() - t0) / 1e9 > timeoutS)
        throw new IllegalStateException(
          s"stream did not commit $total records in ${timeoutS}s")
      Thread.sleep(5)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/stream"
    val failures = ArrayBuffer.empty[String]

    // ---- set-up: start the topology and let it drain a small first
    // backlog, so the timed phases run warm, in the same query lifetime
    ctx.trace.region("warmup")
    GraftKafkaTestSource.clear()
    val gen = new Generator(ctx.seed)
    val warm = Vector.fill(WarmupRecords)(gen.next(BacklogStepMs, 0.0))
    val backlog = Vector.fill(Backlog)(gen.next(BacklogStepMs, 0.0))
    val nLive = math.max(1, (LiveRate * ctx.seconds).toInt)
    val live = Vector.fill(nLive)(gen.next(LiveStepMs, 0.01))
    val liveIndex: Map[(String, Long), Int] =
      live.indices.map(k => (live(k).topic, live(k).offset) -> k).toMap
    warm.foreach(publish(_, System.currentTimeMillis() * 1000L))
    val warm0 = Clock.nowMs
    val qs = start(spark, s"$dir/run")
    val dueMs = new Array[Double](nLive)
    val lateMs = new Array[Double](nLive)
    var liveStartMs = 0.0
    var startMs = Double.NaN
    var warmupS = Double.NaN
    val lag = ArrayBuffer.empty[Double]
    @volatile var published = 0
    try {
      ctx.trace.op("warmup")(awaitCommitted(qs, WarmupRecords, 120))
      warmupS = (Clock.nowMs - warm0) / 1000.0
      // ---- catch-up: the seeded backlog lands at once
      ctx.trace.region("timed")
      startMs = Clock.nowMs
      ctx.trace.span("query", "stream") {
        backlog.foreach(publish(_, System.currentTimeMillis() * 1000L))
        awaitCommitted(qs, WarmupRecords + Backlog, 150)
        // ---- live: open-loop generator at a fixed rate
        val periodNs = 1e9 / LiveRate
        val t0Ns = System.nanoTime() + 20000000L
        liveStartMs = Clock.nowMs + 20.0
        val genThread = new Thread(() => {
          var k = 0
          while (k < nLive) {
            val dueNs = t0Ns + (k * periodNs).toLong
            var now = System.nanoTime()
            while (now < dueNs) {
              LockSupport.parkNanos(dueNs - now)
              now = System.nanoTime()
            }
            dueMs(k) = liveStartMs + k * periodNs / 1e6
            publish(live(k), (dueMs(k) * 1000).toLong)
            lateMs(k) = (System.nanoTime() - dueNs) / 1e6
            k += 1
            published = k
          }
        }, "perfbench-generator")
        genThread.start()
        if (ctx.tracer.isDefined) while (genThread.isAlive) {
          lag += WarmupRecords + Backlog + published - qs.map(committed).min
          Thread.sleep(100)
        }
        genThread.join()
        awaitCommitted(qs, WarmupRecords + Backlog + nLive, 150)
      }
    } catch {
      case e: Throwable => failures += s"tweet_stream: ${Stats.cause(e)}"
    } finally {
      Thread.sleep(200) // let the no-data batch close the last windows
      qs.foreach(_.stop())
    }
    ctx.trace.region("probe")

    // ---- end-to-end metrics, read from the progress events
    val prog = qs.map(q => q.recentProgress.toSeq)
    val data = prog.map(_.filter(_.numInputRows > 0))
    val catchupEndMs = data.map(ps => ps.find(p =>
      offsets(p.sources.head.endOffset).values.sum >= WarmupRecords + Backlog)
      .map(commitMs).getOrElse(Double.NaN)).max
    val passS = (catchupEndMs - startMs) / 1000.0
    val latency = Array.fill(nLive)(Double.NaN)
    var liveBatches = 0
    data(1).foreach { p =>
      val s = offsets(p.sources.head.startOffset)
      val e = offsets(p.sources.head.endOffset)
      var any = false
      Topics.foreach { t =>
        (s.getOrElse(t, 0L) until e.getOrElse(t, 0L)).foreach { o =>
          liveIndex.get((t, o)).foreach { k =>
            latency(k) = commitMs(p) - dueMs(k); any = true
          }
        }
      }
      if (any) liveBatches += 1
    }
    val lastLiveCommit = data.map(_.lastOption.map(commitMs)
      .getOrElse(Double.NaN)).max
    val liveRps = nLive / ((lastLiveCommit - liveStartMs) / 1000.0)
    if (failures.isEmpty && latency.exists(_.isNaN))
      failures += s"tweet_stream: ${latency.count(_.isNaN)} live records " +
        "never reached a committed viral/VIP batch"

    // ---- output check against a batch evaluation of the same functions
    val check0 = Clock.nowMs
    if (failures.isEmpty)
      failures ++= check(spark, ctx.cores, dir, warm ++ backlog ++ live,
        Map("bot_metrics" -> prog(0), "sentiment" -> prog(2)))
    val metrics = Map(
      "setup_s" -> (startMs - ctx.jvmStartMs) / 1000.0,
      "pass_s" -> passS,
      "latency_p50_ms" -> Stats.quantile(latency.toSeq, 0.5),
      "latency_p90_ms" -> Stats.quantile(latency.toSeq, 0.9))
    val info = Map(
      "warmup_s" -> warmupS,
      "check_s" -> (Clock.nowMs - check0) / 1000.0,
      "drain_rps" -> Backlog / passS,
      "live_rps" -> liveRps,
      "offered_rps" -> LiveRate,
      "live_batches" -> liveBatches.toDouble,
      "latency_samples" -> nLive.toDouble,
      "gen_late_p99_ms" -> Stats.quantile(lateMs.toSeq, 0.99),
      "failed_ratio" -> (if (failures.nonEmpty) 1.0 else 0.0))
    val layers = ctx.tracer.map { t =>
      t.layerMetrics(1, ctx.cores) ++ streamLayers(t) ++ Map(
        "source.lag_records" -> (if (lag.isEmpty) 0.0 else lag.sum / lag.size),
        "source.live_rps" -> liveRps,
        "source.drain_rps" -> Backlog / passS,
        "gen.late_ms" -> Stats.quantile(lateMs.toSeq, 0.99),
        "trace.pass_s" -> passS)
    }.getOrElse(Map.empty)
    Outcome(metrics, layers, info, 1, failures.toSeq, Nil)
  }

  /** Batch-phase and state metrics of the timed region's progress events. */
  private def streamLayers(t: Tracer): Map[String, Double] = {
    val ps = t.progressOf("timed")
    val data = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    def med(k: String) = if (data.isEmpty) 0.0 else Stats.median(data.map(d(_, k)))
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val ops = ps.flatMap(_.stateOperators)
    val nb = math.max(1, ps.size).toDouble
    Map(
      "stream.batches" -> data.size.toDouble,
      "stream.batch_ms_p50" -> (if (data.isEmpty) 0.0
        else Stats.quantile(data.map(d(_, "triggerExecution")), 0.5)),
      "stream.batch_ms_p90" -> (if (data.isEmpty) 0.0
        else Stats.quantile(data.map(d(_, "triggerExecution")), 0.9)),
      "stream.add_batch_ms" -> med("addBatch"),
      "stream.query_planning_ms" -> med("queryPlanning"),
      "stream.wal_commit_ms" -> med("walCommit"),
      "stream.commit_offsets_ms" -> med("commitOffsets"),
      "stream.latest_offset_ms" -> med("latestOffset"),
      "stream.rows_per_batch" -> (if (data.isEmpty) 0.0
        else Stats.median(data.map(_.numInputRows.toDouble))),
      "state.rows_total" -> last.flatMap(_.stateOperators)
        .map(_.numRowsTotal.toDouble).sum,
      "state.memory_bytes" -> last.flatMap(_.stateOperators)
        .map(_.memoryUsedBytes.toDouble).sum,
      "state.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum / nb,
      "state.updates_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum / nb)
  }

  /** Each sink against a batch evaluation of the same `TweetAlerts` and
    * `StreamOps` functions over the same records. Viral/VIP is
    * stateless and must match row for row. The windowed sinks are
    * compared on the windows their query's final watermark closed,
    * less every window holding a record that the watermark had passed
    * in the micro-batch that read it: the engine drops such a record
    * from some or all of its windows, depending on batch boundaries.
    * With the generator's event times those are the late records
    * (and any on-time record the cap split across topics held back). */
  def check(spark: SparkSession, parts: Int, dir: String, recs: Seq[Rec],
      progress: Map[String, Seq[StreamingQueryProgress]]): Seq[String] = {
    import spark.implicits._
    // an RDD, not a local relation: the optimizer would fold a local
    // relation's projections into one driver thread
    val raw = spark.sparkContext.parallelize(recs.map(_.json), parts)
      .toDF("value")
    val tweets = TweetAlerts.promoted(
      StreamOps.decodeJsonEnvelope(raw, Tweet.schema)).cache()
    val expected = Map(
      "bot_metrics" -> TweetAlerts.botDetectionMetrics(raw),
      "viral_vip" -> StreamOps.alertUnion(Seq(
        TweetAlerts.viralAlerts(tweets), TweetAlerts.vipAlerts(tweets))),
      "sentiment" -> TweetAlerts.sentimentMetrics(
        TweetAlerts.sentimentAlerts(tweets
          .withWatermark("timestamp", StreamOps.WatermarkDelay))))
    val out = ArrayBuffer.empty[String]
    val exp = expected("viral_vip")
    val got = spark.read.parquet(s"$dir/run/viral_vip")
      .select(exp.columns.map(col): _*)
    def counts(df: DataFrame) =
      df.collect().groupMapReduce(identity)(_ => 1)(_ + _)
    val (want, have) = (counts(exp), counts(got))
    val missing = want.map { case (r, n) => n - have.getOrElse(r, 0) }
      .filter(_ > 0).sum
    val extra = have.map { case (r, n) => n - want.getOrElse(r, 0) }
      .filter(_ > 0).sum
    if (missing + extra > 0)
      out += s"viral_vip: $missing expected rows missing, $extra unexpected"
    val byOffset = recs.map(r => (r.topic, r.offset) -> r).toMap
    def wmOf(p: StreamingQueryProgress): Long =
      Option(p.eventTime.get("watermark"))
        .map(Instant.parse(_).toEpochMilli).getOrElse(0L)
    Seq("bot_metrics", "sentiment").foreach { sink =>
      val ps = progress(sink).sortBy(_.batchId)
      val finalWm = ps.lastOption.map(wmOf).getOrElse(0L)
      // event seconds (as the envelope carries them) of passed records
      val passed = ps.flatMap { p =>
        val s = offsets(p.sources.head.startOffset)
        val e = offsets(p.sources.head.endOffset)
        Topics.flatMap(t => (s.getOrElse(t, 0L) until e.getOrElse(t, 0L))
          .map(o => byOffset((t, o)).eventMs / 1000 * 1000)
          .filter(_ <= wmOf(p)))
      }.distinct.sorted.toArray
      def holdsPassed(startMs: Long, endMs: Long): Boolean = {
        val i = java.util.Arrays.binarySearch(passed, startMs)
        val j = if (i >= 0) i else -i - 1
        j < passed.length && passed(j) < endMs
      }
      def rows(df: DataFrame): Map[Seq[Any], Seq[Any]] = {
        val c = df.columns.toSeq
        val approx = c.filter(_ == "avg_score")
        df.collect().toSeq.filter { r =>
          val st = r.getAs[java.sql.Timestamp]("window_start").getTime
          val en = r.getAs[java.sql.Timestamp]("window_end").getTime
          en <= finalWm && !holdsPassed(st, en)
        }.map(r => c.filterNot(approx.contains).map(r.getAs[Any]) ->
          approx.map(r.getAs[Any])).toMap
      }
      val ex = expected(sink)
      val want = rows(ex)
      val have = rows(spark.read.parquet(s"$dir/run/$sink")
        .select(ex.columns.map(col): _*))
      // avg_score sums floats in batch order: equal to 1e-9 relative
      val bad = (want.keySet ++ have.keySet).filter { k =>
        (want.get(k), have.get(k)) match {
          case (Some(a), Some(b)) => a.zip(b).exists {
            case (x: Double, y: Double) =>
              math.abs(x - y) > 1e-9 * math.max(1.0, math.abs(x))
            case (x, y) => x != y
          }
          case _ => true
        }
      }
      if (want.isEmpty) out += s"$sink: no closed window to compare"
      if (bad.nonEmpty)
        out += s"$sink: ${bad.size} of ${want.size} closed windows differ, " +
          s"e.g. ${bad.head.mkString(",")}: want ${want.get(bad.head)}, " +
          s"have ${have.get(bad.head)}"
    }
    tweets.unpersist(blocking = true)
    out.toSeq
  }
}
