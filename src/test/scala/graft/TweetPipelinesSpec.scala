package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, RegExpReplace}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{GraftKafkaTestSource, KafkaSource, Sinks, StreamOps,
  StreamingJobs, Tweet, TweetAlerts}

/** The tweet pipelines read, decode and score each record once: bot
  * metrics evaluates SQ2-SQ4 in one pass next to the SQ1 branch,
  * viral/VIP builds both alert kinds from one source, and sentiment
  * scores with one native expression. This spec pins that the fused
  * passes emit exactly what the per-detector unions did, and the plan
  * shapes and input-row counts that make the saving. */
class TweetPipelinesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val now = to_date(lit("2024-01-01"))

  private def mk(name: String, friends: Int, followers: Int, desc: String,
      created: String, verified: Boolean, retweet: Boolean, text: String,
      ts: String = "2024-01-01 10:00:00"): Tweet =
    Tweet("bitcoin", name, "loc", desc, created, Some(followers),
      Some(friends), Some(1), Some(verified), "2021-01-01", text, "[]",
      "src", Some(retweet), ts)

  /** StreamingSpec's detector fixture and its job1 burst. */
  private val fixture: Seq[Tweet] = Seq(
    mk("bot1", 5000, 50, "desc long enough", "2023-12-20 00:00:00",
      verified = false, retweet = false, "hello"),
    mk("norm", 100, 5000, "a proper description", "2020-01-01 00:00:00",
      verified = false, retweet = false, "hello"),
    mk("emptyd", 10, 10, "", "2020-01-01 00:00:00",
      verified = false, retweet = false, "hi"),
    mk("nulld", 10, 10, null, "2020-01-01 00:00:00",
      verified = false, retweet = false, "hi"),
    mk("viral", 10, 10, "proper description", "2020-01-01 00:00:00",
      verified = false, retweet = true, "boom"),
    mk("rt", 10, 10, "proper description", "2020-01-01 00:00:00",
      verified = false, retweet = false, "RT @x yes"),
    mk("vip1", 10, 60000, "proper description", "2020-01-01 00:00:00",
      verified = false, retweet = false, "hi"),
    mk("vip2", 10, 20000, "proper description", "2020-01-01 00:00:00",
      verified = true, retweet = false, "hi"),
    mk("vip3", 10, 20000, "proper description", "2020-01-01 00:00:00",
      verified = false, retweet = false, "hi")) ++
    Seq("10:00:05", "10:00:15", "10:00:25").map(t =>
      mk("burst", 100, 5000, "a proper description", "2020-01-01 00:00:00",
        verified = false, retweet = false, "hello", s"2024-01-01 $t")) ++
    Seq(mk("newbie", 100, 5000, "a proper description",
      "2023-12-25 00:00:00", verified = false, retweet = false, "hello",
      "2024-01-01 10:00:40"))

  /** Seeded tweets that fire every detector, several at once, with
    * nulls in every field a detector reads. */
  private def seeded(n: Int, seed: Long): Seq[Tweet] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def opt[A](a: => A): Option[A] = if (rnd.nextInt(12) == 0) None else Some(a)
    Seq.fill(n) {
      Tweet(
        pick("bitcoin", "ethereum", null),
        pick((0 until 25).map(i => s"user$i") :+ null: _*),
        "loc",
        pick(null, "", "ok", "  abc  ", "a proper description"),
        pick(null, "2023-12-20 00:00:00", "2020-01-01 00:00:00",
          "2024-01-15 00:00:00"),
        opt(pick(0, 50, 100, 101, 9999, 10000, 49999, 50000,
          rnd.nextInt(200000))),
        opt(pick(0, 1999, 2000, rnd.nextInt(6000))),
        Some(1), opt(rnd.nextBoolean()), "2024-01-01",
        pick("hello", "RT @a fast", "xRT @y", "rt @z", null, "🚀 big"),
        "[]", "src", opt(rnd.nextInt(4) == 0),
        if (rnd.nextInt(40) == 0) null
        else f"2024-01-01 10:${rnd.nextInt(20)}%02d:${rnd.nextInt(60)}%02d")
    }
  }

  /** Tweets as the raw Kafka-value envelopes the pipelines decode, plus
    * one undecodable record. */
  private def envelopes(ts: Seq[Tweet]): DataFrame =
    (ts.toDS().toJSON.collect().toSeq :+ "not json").toDF("value")

  private lazy val raw = envelopes(fixture ++ seeded(400, 17))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)

  test("fused bot metrics equal the four-branch union of the public detectors (batch)") {
    // the earlier botDetectionMetrics, rebuilt from the public detectors
    def fourBranch(raw: DataFrame, now: Column): DataFrame = {
      val src = TweetAlerts.promoted(
          StreamOps.decodeJsonEnvelope(raw, Tweet.schema))
        .withWatermark("timestamp", StreamOps.WatermarkDelay)
      StreamOps.alertUnion(Seq(
          TweetAlerts.highFrequencyTweetAlerts(src),
          TweetAlerts.imbalanceAlerts(src),
          TweetAlerts.emptyDescriptionAlerts(src),
          TweetAlerts.newAccountAlerts(src, now)))
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
    val fused = TweetAlerts.botDetectionMetrics(raw, now)
    val old = fourBranch(raw, now)
    assert(fused.schema === old.schema)
    val want = multiset(old)
    assert(multiset(fused) === want)
    // the fixture exercises every detector
    assert(want.keySet.map(_(2)) === Set("HIGH_FREQUENCY_POSTING",
      "FRIENDS_FOLLOWERS_IMBALANCE", "EMPTY_PROFILE",
      "NEW_ACCOUNT_SUSPICIOUS"))
  }

  test("viralVipAlerts equals alertUnion(viralAlerts, vipAlerts) as a multiset") {
    val tweets = TweetAlerts.promoted(
      StreamOps.decodeJsonEnvelope(raw, Tweet.schema))
    val fused = TweetAlerts.viralVipAlerts(tweets)
    val union = StreamOps.alertUnion(Seq(
      TweetAlerts.viralAlerts(tweets), TweetAlerts.vipAlerts(tweets)))
    assert(fused.schema === union.schema)
    val want = multiset(union)
    assert(multiset(fused) === want)
    assert(want.keySet.map(_(1)) === Set("VIRAL_TWEET", "HIGH_REACH_USER"))
  }

  private def exprCount[A](df: DataFrame)(
      pf: PartialFunction[Expression, A]): Int =
    df.queryExecution.analyzed.map(_.expressions.map(_.collect(pf).size).sum).sum

  test("plan shape: one source per pipeline, one decode per scan, no regexp in sentiment") {
    val topic = "tweet-pipelines-shape"
    def rawStream(): DataFrame = KafkaSource.stream(spark, "test:9092",
      Seq(topic), startingOffsets = "earliest",
      format = "graft-kafka-test")
    val pipes = StreamingJobs.tweetPipelines(rawStream _).toMap
    assert(pipes.keySet === Set("bot_metrics", "viral_vip", "sentiment"))
    val decodes = Map("bot_metrics" -> 2, "viral_vip" -> 1, "sentiment" -> 1)
    pipes.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      val scans = plan.collect { case r: StreamingRelationV2 => r }
      assert(scans.distinct.size === 1, s"$name sources")
      assert(scans.size === decodes(name), s"$name scans")
      assert(exprCount(df) { case j: JsonToStructs => j } === decodes(name),
        s"$name decodes")
    }
    assert(exprCount(pipes("sentiment")) { case r: RegExpReplace => r } === 0)

    // every scan reads each record once: bot metrics 2x, the others 1x
    GraftKafkaTestSource.clear()
    val records = envelopes(fixture ++ seeded(60, 5)).as[String].collect()
    records.foreach(r => GraftKafkaTestSource.publish(topic, r.getBytes("UTF-8")))
    val dir = GraftTestSpark.tmpDir("graft-tweet-shape")
    val qs = StreamingJobs.startTweetPipelines(spark, rawStream _, dir,
      "0 seconds")
    val inputRows = try {
      qs.foreach(_.processAllAvailable())
      qs.map(_.recentProgress.map(_.numInputRows).sum)
    } finally qs.foreach(_.stop())
    val n = records.length.toLong
    assert(inputRows === Seq(2 * n, n, n))
    assert(qs.forall(_.lastProgress.sources.length == 1))
  }

  test("Sinks.awaitAny waits on the given queries only, and rethrows a failure") {
    implicit val ctx = spark.sqlContext
    def start(in: MemoryStream[Int], name: String) =
      in.toDS().map(x => if (x < 0) sys.error(s"bad $x") else x)
        .writeStream.format("memory").queryName(name).start()
    // a query of the same session that ended earlier
    start(MemoryStream[Int], "await_unrelated").stop()
    val (a, b) = (MemoryStream[Int], MemoryStream[Int])
    val qa = start(a, "await_a")
    val qb = start(b, "await_b")
    try {
      val waiting = Future(Sinks.awaitAny(Seq(qa, qb)))
      Thread.sleep(1500)
      assert(!waiting.isCompleted, "returned before any given query ended")
      qb.stop()
      Await.result(waiting, 30.seconds)
      assert(qa.isActive)

      val c = MemoryStream[Int]
      val qc = start(c, "await_c")
      val failing = Future(Sinks.awaitAny(Seq(qa, qc)))
      c.addData(-1)
      val e = intercept[StreamingQueryException](
        Await.result(failing, 60.seconds))
      assert(e.getMessage.contains("bad -1"))
    } finally Seq(qa, qb).foreach(_.stop())
  }
}
