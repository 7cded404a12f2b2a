package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, repeat, sum}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.BatchJobs
import graft.sources.Writers
import graft.streaming.{StreamOps, StreamingJobs}

/** Job-topology wiring: the reference-shaped fan-outs run end to end
  * (multi-query streaming fan-out K7/T12; batch dual-write K5/K6). */
class JobsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def json(id: Long, ts: String, user: Long, typ: String,
      v: Double): String =
    s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$typ","value":$v}"""

  test("streaming detection job fans out alerts + chained metrics") {
    implicit val ctx = spark.sqlContext
    val dir = GraftTestSpark.tmpDir("graftjob")
    // one source instance per started query (MemoryStream is
    // single-consumer; production Kafka behaves the same way — each
    // query tracks its own offsets)
    val inputs = scala.collection.mutable.ArrayBuffer[MemoryStream[String]]()
    def events(): org.apache.spark.sql.DataFrame = {
      val in = MemoryStream[String]
      inputs += in
      StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(in.toDF()))
    }
    def addData(rows: Seq[String]): Unit = inputs.foreach(_.addData(rows))
    val queries = StreamingJobs.startDetection(spark, events _, dir,
      trigger = "1 seconds")
    try {
      addData(Seq(
        json(1, "2024-01-01 10:00:05", 1, "error", 1.0),
        json(2, "2024-01-01 10:00:40", 3, "purchase", 400.0)))
      queries.foreach(_.processAllAvailable())
      addData(Seq(json(9, "2024-01-01 10:30:00", 9, "view", 1.0)))
      queries.foreach(_.processAllAvailable())
      addData(Seq(json(10, "2024-01-01 11:00:00", 9, "view", 1.0)))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val alerts = spark.read.parquet(s"$dir/alerts")
    assert(alerts.count() === 2)
    val metrics = spark.read.parquet(s"$dir/metrics")
    assert(metrics.count() === 10) // 2 alerts x 5 sliding windows each
    assert(new java.io.File(s"$dir/chk/alerts/offsets").exists)
    assert(new java.io.File(s"$dir/chk/metrics/offsets").exists)
  }

  private def tweet(name: String, ts: String, friends: Int,
      followers: Int, retweet: Boolean, text: String): String =
    s"""{"crypto_type":"bitcoin","user_name":"$name","user_location":"x",
       |"user_description":"a proper description","user_created":"2020-01-01 00:00:00",
       |"user_followers":$followers,"user_friends":$friends,
       |"user_favourites":1,"user_verified":false,"date":"2021-01-01",
       |"text":"$text","hashtags":"[]","source":"src","is_retweet":$retweet,
       |"timestamp":"$ts"}""".stripMargin.replace("\n", "")

  test("tweet pipelines fan out: bot metrics (SQ1-SQ5), viral/VIP, sentiment metrics") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingJobs
    val dir = GraftTestSpark.tmpDir("graftjob3")
    val inputs = scala.collection.mutable.ArrayBuffer[MemoryStream[String]]()
    def raw(): org.apache.spark.sql.DataFrame = {
      val in = MemoryStream[String]
      inputs += in
      in.toDF()
    }
    def addData(rows: Seq[String]): Unit = inputs.foreach(_.addData(rows))
    val qs = StreamingJobs.startTweetPipelines(spark, raw _, dir, "1 seconds")
    try {
      addData(Seq(
        tweet("burst", "2024-01-01 10:00:05", 100, 5000, retweet = false, "fast"),
        tweet("burst", "2024-01-01 10:00:15", 100, 5000, retweet = false, "fast"),
        tweet("burst", "2024-01-01 10:00:25", 100, 5000, retweet = false, "fast"),
        tweet("viraluser", "2024-01-01 10:00:30", 100, 200, retweet = true, "boom"),
        tweet("vipuser", "2024-01-01 10:00:35", 100, 60000, retweet = false, "slow")))
      qs.foreach(_.processAllAvailable())
      addData(Seq(tweet("norm", "2024-01-01 10:30:00", 100, 5000,
        retweet = false, "meh")))
      qs.foreach(_.processAllAvailable())
      addData(Seq(tweet("norm2", "2024-01-01 11:00:00", 100, 5000,
        retweet = false, "meh")))
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    val bot = spark.read.parquet(s"$dir/bot_metrics")
    assert(bot.where($"alert_type" === "HIGH_FREQUENCY_POSTING")
      .agg(sum($"total_alerts")).head().getLong(0) === 5L) // 5 sliding windows
    val vv = spark.read.parquet(s"$dir/viral_vip")
    val byType = vv.groupBy($"alert_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("VIRAL_TWEET" -> 1L, "HIGH_REACH_USER" -> 1L))
    val sent = spark.read.parquet(s"$dir/sentiment")
    // 'fast' scores positive, 'slow' negative — both reach the metrics
    val types = sent.select($"sentiment_type").as[String].collect().toSet
    assert(types.contains("positive") && types.contains("negative"))
    assert(new java.io.File(s"$dir/chk/bot_metrics/offsets").exists)
  }

  test("sessions and dedup job topologies run over a memory source") {
    implicit val ctx = spark.sqlContext
    val dir = GraftTestSpark.tmpDir("graftjob2")
    // one MemoryStream per query — the test source is single-consumer
    val inputA = MemoryStream[String]
    val inputB = MemoryStream[String]
    def ev(in: MemoryStream[String]) = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(in.toDF()))
    val qs =
      StreamingJobs.startSessions(spark, ev(inputA), s"$dir/s", "1 seconds") ++
      StreamingJobs.startDedup(spark, ev(inputB), s"$dir/d", "1 seconds")
    def addData(rows: Seq[String]): Unit = {
      inputA.addData(rows); inputB.addData(rows)
    }
    try {
      addData(Seq(
        json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        json(1, "2024-01-01 10:00:00", 1, "view", 1.0), // stream dup
        json(2, "2024-01-01 10:05:00", 1, "view", 1.0)))
      qs.foreach(_.processAllAvailable())
      // multiple real closer batches: emission rides data batches, not
      // the (timing-dependent) no-data micro-batch of the 1s trigger
      Seq("2024-01-01 12:00:00", "2024-01-01 13:00:00",
        "2024-01-01 14:00:00").zipWithIndex.foreach { case (ts, i) =>
        addData(Seq(json(9L + i, ts, 9, "view", 1.0)))
        qs.foreach(_.processAllAvailable())
      }
      // addData batches can coalesce per query, leaving the final
      // emission to an asynchronous no-data micro-batch — poll for it
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          (scala.util.Try(spark.read.parquet(s"$dir/s/sessions")
            .where($"user_id" === 1).count()).getOrElse(0L) < 1)) {
        Thread.sleep(200)
      }
    } finally qs.foreach(_.stop())
    val sessions = spark.read.parquet(s"$dir/s/sessions")
    assert(sessions.where($"user_id" === 1).count() === 1) // one session, 3 events
    val deduped = spark.read.parquet(s"$dir/d/deduped")
    assert(deduped.count() === 5) // 6 events in, 1 dup dropped
  }

  test("file streaming source + AvailableNow backfills a windowed pipeline") {
    val dir = GraftTestSpark.tmpDir("graftfile")
    // land a parquet batch as the file-source input
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), 1L, "error", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:20"), 2L, "error", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 3L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/in")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
        .parquet(s"$dir/in")
      val metrics = StreamOps.windowedMetrics(
        StreamOps.errorAlerts(StreamOps.watermarked(stream)),
        "60 seconds", "60 seconds")
      val q = metrics.writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce() // ingests the backfill; watermark persisted in checkpoint
    // a later file arrives; the restarted query recovers the watermark
    // from the checkpoint and finalizes the 10:00 window
    Seq((9L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 9L, "error", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    runOnce()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 1)
    assert(out.head().getAs[Long]("n_alerts") === 2L)
  }

  test("S8 replay end-to-end latency: per-trigger metrics from the progress log") {
    import graft.streaming.Replay
    import org.apache.spark.sql.functions.{col, to_json, struct}
    // producer role: a 60-row JSON fixture replayed at 120 rows/s into
    // the decode -> alert-filter pipeline (the reference's job5 alert
    // path runs at a 10 s trigger; here 1 s for test wall-clock)
    val fixture = (1L to 60L).map(i =>
      (i, s"2024-01-01 10:00:${(i % 60).formatted("%02d")}",
        i % 7, if (i % 3 == 0) "error" else "view", i * 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // "json" not "value": the rate source's tick column is also named
    // value and would make the replay join ambiguous
    val jsonFixture = fixture
      .select(col("event_id"),
        to_json(struct(fixture.columns.map(col): _*)).as("json"))
    val raw = Replay.rateLimited(spark, jsonFixture, rowsPerSecond = 30)
      .select(col("json").as("value"))
    val alerts = StreamOps.errorAlerts(StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(raw)))
    val q = alerts.writeStream.format("memory").queryName("latency_t")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 seconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("latency_t").count() < 20
          && System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q.stop()
    assert(spark.table("latency_t").count() === 20) // every 3rd of 60
    // per-trigger latency numbers come straight off the progress log
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no data-bearing micro-batches recorded")
    val durs = batches.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue()))
    assert(durs.nonEmpty && durs.forall(_ >= 0))
    val sorted = durs.sorted
    info(s"micro-batches=${batches.length} " +
      s"triggerExecution p50=${sorted(sorted.length / 2)}ms " +
      s"max=${sorted.last}ms " +
      f"rows/s=${batches.map(_.processedRowsPerSecond).max}%.0f")
  }

  test("K7 live topology through the DSv2 kafka-contract source: every " +
      "job topology concurrently (8 queries / 8 sinks incl. the index " +
      "fan-out, per-query checkpoints), graceful stop mid-stream, " +
      "restart over data that landed while down, exactly-once across " +
      "every sink") {
    import graft.streaming.{GraftKafkaTestSource, KafkaSource}
    GraftKafkaTestSource.clear()
    val dir = GraftTestSpark.tmpDir("graftk7")
    def pub(topic: String, s: String): Unit =
      GraftKafkaTestSource.publish(topic, s.getBytes("UTF-8"))
    // the production builder chain verbatim (only the format string
    // differs from a real cluster), with small maxOffsetsPerTrigger so
    // the topology genuinely runs under admission control
    def evSrc(): org.apache.spark.sql.DataFrame =
      StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(
        KafkaSource.stream(spark, "test:9092", Seq("k7ev"),
          startingOffsets = "earliest", maxOffsetsPerTrigger = Some(3L),
          format = "graft-kafka-test")))
    def twSrc(): org.apache.spark.sql.DataFrame =
      KafkaSource.stream(spark, "test:9092", Seq("k7tw"),
        startingOffsets = "earliest", maxOffsetsPerTrigger = Some(2L),
        format = "graft-kafka-test")
    // the reference topology's remaining sink class: alerts ALSO index
    // into the document store (K3/K4, executor-side FileIndexSink) —
    // at-least-once under retries, so its assertion dedups by content
    import graft.streaming.Sinks
    new Sinks.FileIndexSink(s"$dir/idx").ensureIndex("alerts",
      Map("ts" -> "date", "user_id" -> "long", "alert_type" -> "keyword"))
    def startIndexFanout(): org.apache.spark.sql.streaming.StreamingQuery = {
      val src = StreamOps.watermarked(evSrc())
      StreamOps.alertUnion(Seq(
          StreamOps.highFrequencyAlerts(src),
          StreamOps.highValueAlerts(src),
          StreamOps.errorAlerts(src)))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/chk/idx")
        .foreachBatch(Sinks.indexSinkPartitions(
          () => new Sinks.FileIndexSink(s"$dir/idx"), "alerts"))
        .start()
    }
    def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
      StreamingJobs.startDetection(spark, evSrc _, s"$dir/det", "1 seconds") ++
        StreamingJobs.startTweetPipelines(spark, twSrc _, s"$dir/tw", "1 seconds") ++
        StreamingJobs.startSessions(spark, evSrc(), s"$dir/s", "1 seconds") ++
        StreamingJobs.startDedup(spark, evSrc(), s"$dir/d", "1 seconds") :+
        startIndexFanout()

    // phase A lands BEFORE any query exists: earliest must backfill it
    pub("k7ev", json(1, "2024-01-01 10:00:05", 7, "view", 1.0))
    pub("k7ev", json(2, "2024-01-01 10:00:15", 7, "view", 1.0))
    pub("k7ev", json(3, "2024-01-01 10:00:25", 7, "view", 1.0)) // HF u7
    pub("k7ev", json(4, "2024-01-01 10:00:10", 1, "error", 1.0))
    pub("k7ev", json(5, "2024-01-01 10:00:40", 3, "purchase", 400.0))
    pub("k7tw", tweet("burst", "2024-01-01 10:00:05", 100, 5000, retweet = false, "fast"))
    pub("k7tw", tweet("burst", "2024-01-01 10:00:15", 100, 5000, retweet = false, "fast"))
    pub("k7tw", tweet("burst", "2024-01-01 10:00:25", 100, 5000, retweet = false, "fast"))
    pub("k7tw", tweet("viraluser", "2024-01-01 10:00:30", 100, 200, retweet = true, "boom"))
    pub("k7tw", tweet("vipuser", "2024-01-01 10:00:35", 100, 60000, retweet = false, "slow"))

    val qs1 = startAll()
    assert(qs1.size === 8)
    try {
      qs1.foreach(_.processAllAvailable())
      // phase B mid-stream: one more error, plus a duplicated
      // event_id (published twice) the dedup topology must drop
      pub("k7ev", json(6, "2024-01-01 10:30:00", 2, "error", 2.0))
      pub("k7ev", json(10, "2024-01-01 10:31:00", 2, "view", 1.0))
      pub("k7ev", json(10, "2024-01-01 10:31:00", 2, "view", 1.0))
      pub("k7tw", tweet("norm", "2024-01-01 10:30:00", 100, 5000,
        retweet = false, "meh"))
      qs1.foreach(_.processAllAvailable())
    } finally qs1.foreach(_.stop()) // graceful stop (T13)

    // phase C lands while EVERY query is down; the restart must resume
    // from committed offsets (not the earliest policy) and process
    // exactly this delta
    pub("k7ev", json(7, "2024-01-01 11:00:00", 4, "purchase", 500.0))
    pub("k7ev", json(8, "2024-01-01 11:05:00", 5, "error", 1.0))
    pub("k7ev", json(9, "2024-01-01 12:30:00", 9, "view", 1.0))
    pub("k7tw", tweet("norm2", "2024-01-01 11:00:00", 100, 5000,
      retweet = false, "meh"))
    pub("k7tw", tweet("late", "2024-01-01 12:30:00", 100, 5000,
      retweet = false, "meh"))

    val qs2 = startAll()
    try {
      qs2.foreach(_.processAllAvailable())
      // watermark closer so every stateful emission flushes
      pub("k7ev", json(11, "2024-01-01 13:00:00", 9, "view", 1.0))
      qs2.foreach(_.processAllAvailable())
      // append-mode emissions can ride asynchronous no-data batches
      def idxDistinct(): Int = {
        val d = new java.io.File(s"$dir/idx/alerts")
        if (!d.exists) 0
        else d.listFiles().filter(_.getName.endsWith(".jsonl"))
          .flatMap(f =>
            scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
          .distinct.length
      }
      def ready(): Boolean = scala.util.Try {
        spark.read.parquet(s"$dir/det/alerts").count() == 6L &&
          spark.read.parquet(s"$dir/s/sessions").count() == 6L &&
          idxDistinct() == 6 &&
          spark.read.parquet(s"$dir/tw/bot_metrics")
            .where($"alert_type" === "HIGH_FREQUENCY_POSTING")
            .agg(sum($"total_alerts")).head().getLong(0) == 5L
      }.getOrElse(false)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && !ready()) Thread.sleep(200)
    } finally qs2.foreach(_.stop())

    // exactly-once, sink by sink: exact expected rows, zero replays
    val alerts = spark.read.parquet(s"$dir/det/alerts")
    // HF(u7) + error(u1) + high-value(u3) + error(u2) + high-value(u4)
    // + error(u5); nothing doubled across the restart
    assert(alerts.count() === 6)
    assert(alerts.dropDuplicates().count() === 6)
    val metrics = spark.read.parquet(s"$dir/det/metrics")
    assert(metrics.count() ===
      metrics.dropDuplicates("window_start", "alert_type").count())
    val deduped = spark.read.parquet(s"$dir/d/deduped")
    assert(deduped.count() === 11) // 12 published, 1 duplicate id dropped
    assert(deduped.select("event_id").distinct().count() === 11)
    val sessions = spark.read.parquet(s"$dir/s/sessions")
    assert(sessions.count() === 6) // u9's session stays open
    assert(sessions.where($"user_id" === 7).head().getAs[Long]("n_events") === 3L)
    val vv = spark.read.parquet(s"$dir/tw/viral_vip")
    val byType = vv.groupBy($"alert_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("VIRAL_TWEET" -> 1L, "HIGH_REACH_USER" -> 1L))
    val bot = spark.read.parquet(s"$dir/tw/bot_metrics")
    assert(bot.where($"alert_type" === "HIGH_FREQUENCY_POSTING")
      .agg(sum($"total_alerts")).head().getLong(0) === 5L)
    val sent = spark.read.parquet(s"$dir/tw/sentiment")
    val types = sent.select($"sentiment_type").as[String].collect().toSet
    assert(types.contains("positive") && types.contains("negative"))
    // index fan-out: at-least-once JSONL docs — distinct content must
    // be exactly the 6 alerts; the K4 mapping bootstrap file exists
    val idxDir = new java.io.File(s"$dir/idx/alerts")
    assert(new java.io.File(idxDir, "_mapping.json").exists)
    val idxLines = idxDir.listFiles()
      .filter(_.getName.endsWith(".jsonl"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      .toSeq
    assert(idxLines.nonEmpty)
    assert(idxLines.distinct.size === 6,
      s"indexed alert docs: ${idxLines.distinct.size}")
    // per-query checkpoints (T11): one offsets log per sink
    for (p <- Seq("det/chk/alerts", "det/chk/metrics", "tw/chk/bot_metrics",
        "tw/chk/viral_vip", "tw/chk/sentiment", "s/chk/sessions",
        "d/chk/deduped", "chk/idx")) {
      assert(new java.io.File(s"$dir/$p/offsets").exists, p)
    }
  }

  /** Parquet artifact rows in written order: part files by name (they
    * are numbered in partition order), rows by index within a file. */
  private def parquetRows(path: String): Seq[Row] =
    spark.read.parquet(path)
      .select(col("*"), col("_metadata.file_name").as("__file"),
        col("_metadata.row_index").as("__row"))
      .orderBy("__file", "__row").drop("__file", "__row")
      .collect().toSeq

  /** The single CSV file of a CSV artifact directory. */
  private def csvFile(path: String): java.io.File = {
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, path)
    parts.head
  }

  private def csvRows(path: String, schema: StructType): Seq[Row] = {
    csvFile(path) // exactly one part file
    spark.read.schema(schema).option("header", "true")
      .option("multiLine", "true").csv(path).collect().toSeq
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("batch job bundle writes csv + parquet report tree") {
    val dir = GraftTestSpark.tmpDir("graftbatch")
    val data = s"${GraftTestSpark.testData}/sf0.001"
    for (job <- Seq("profiles", "terms")) {
      BatchJobs.run(spark, data, dir, job)
      BatchJobs.jobs(job).foreach { q =>
        val pqPath = s"$dir/$job/parquet/$q"
        val pq = parquetRows(pqPath)
        assert(pq.nonEmpty, q)
        val csvPath = s"$dir/$job/csv/$q"
        assert(csvRows(csvPath, spark.read.parquet(pqPath).schema) === pq, q)
        // the same bytes as a CSV written straight from the query
        val direct = s"$dir/direct/$q"
        Queries.all(q)(spark, data).coalesce(1).write
          .option("header", "true").csv(direct)
        assert(text(csvFile(csvPath)) === text(csvFile(direct)), q)
      }
    }
    val csv = spark.read.option("header", "true")
      .csv(s"$dir/terms/csv/q18_top_tokens")
    assert(csv.count() === 20)
  }

  test("building every batch job query writes no session conf") {
    val s = spark.newSession()
    // a value no query would write back: UTC is the JVM-wide default
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val before = s.conf.getAll
    BatchJobs.jobs.values.flatten.foreach(q =>
      assert(Queries.all(q)(s, s"${GraftTestSpark.testData}/sf0.001")
        .schema.nonEmpty, q))
    assert(s.conf.getAll === before)
  }

  private def poolThreads(job: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.getName.startsWith(s"batch-$job-") && t.isAlive)

  test("batch job: a failing query is named with its cause, the others are written in full, no pool thread outlives run") {
    val data = GraftTestSpark.tmpDir("graftnodocs")
    // every table of `profiles` but documents: q24 fails, q05/q06 run
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${GraftTestSpark.testData}/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$data/events.parquet"))
    val dir = GraftTestSpark.tmpDir("graftfail")
    val e = intercept[RuntimeException](
      BatchJobs.run(spark, data, s"$dir/run", "profiles"))
    assert(poolThreads("profiles").isEmpty)
    assert(e.getMessage.startsWith(
      "batch job profiles: 1 of 3 queries failed: q24_source_profile: "), e.getMessage)
    assert(e.getMessage.contains(s"$data/documents.parquet"), e.getMessage)
    assert(e.getCause !== null)
    assert(e.getSuppressed.isEmpty)
    for (q <- Seq("q05_event_pivot", "q06_user_behavior")) {
      Writers.parquetWithCsv(Queries.all(q)(spark, data),
        s"$dir/serial/parquet/$q", s"$dir/serial/csv/$q")
      val (pq, serialPq) = (s"$dir/run/profiles/parquet/$q", s"$dir/serial/parquet/$q")
      assert(parquetRows(pq).nonEmpty, q)
      assert(parquetRows(pq) === parquetRows(serialPq), q)
      def parts(p: String) =
        new java.io.File(p).list().count(_.startsWith("part-"))
      assert(parts(pq) === parts(serialPq), q)
      assert(new java.io.File(s"$pq/_SUCCESS").exists, q)
      assert(text(csvFile(s"$dir/run/profiles/csv/$q")) ===
        text(csvFile(s"$dir/serial/csv/$q")), q)
    }
    assert(!new java.io.File(s"$dir/run/profiles/parquet/q24_source_profile").exists)
  }

  test("batch job writes carry the caller's job group and local properties") {
    val sc = spark.sparkContext
    val (group, key) = ("graft-batch-group", "graft.batch.marker")
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        props.add(e.properties): Unit
    }
    val dir = GraftTestSpark.tmpDir("graftprops")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "profiles report")
      sc.setLocalProperty(key, "batch")
      BatchJobs.run(spark, s"${GraftTestSpark.testData}/sf0.001", dir, "profiles")
      org.apache.spark.sql.graftbridge.PlanBridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val seen = props.toArray(Array.empty[java.util.Properties]).toSeq
    // at least a parquet and a CSV write per query
    assert(seen.size >= 2 * BatchJobs.jobs("profiles").size)
    seen.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === group)
      assert(p.getProperty(key) === "batch")
    }
  }

  test("csv artifact replays a multi-file parquet artifact in written order") {
    val dir = GraftTestSpark.tmpDir("graftmulti")
    // four range slices with growing rows: a size-ordered file read
    // (how Spark packs scan partitions) would put the last slice first
    val df = spark.range(0, 400, 1, 4).select(col("id"),
      repeat(lit("x"), (col("id") / 100).cast("int") * 40 + 1).as("pad"))
    Writers.parquetWithCsv(df, s"$dir/pq", s"$dir/csv")
    assert(new java.io.File(s"$dir/pq").list()
      .count(_.startsWith("part-")) === 4)
    val rows = csvRows(s"$dir/csv", df.schema)
    assert(rows.map(_.getLong(0)) === (0L until 400L))
    assert(rows === parquetRows(s"$dir/pq"))
  }

  test("csv artifact of an empty result is its header alone") {
    val dir = GraftTestSpark.tmpDir("graftempty")
    val df = spark.range(0).select(col("id"), lit("a").as("s"))
    Writers.parquetWithCsv(df, s"$dir/pq", s"$dir/csv")
    assert(parquetRows(s"$dir/pq").isEmpty)
    assert(csvRows(s"$dir/csv", df.schema).isEmpty)
    assert(text(csvFile(s"$dir/csv")).trim === "id,s")
  }

  test("every catalog query referenced by a batch job exists") {
    val missing = BatchJobs.jobs.values.flatten.toSet -- Queries.all.keySet
    assert(missing.isEmpty, s"unknown queries: $missing")
  }
}
