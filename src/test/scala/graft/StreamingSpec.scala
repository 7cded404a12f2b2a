package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Streaming-semantics tests (SURVEY §5.2): watermark drop, append-mode
  * delayed emission, tumbling-threshold boundary, heterogeneous alert
  * union, and the chained-stateful topology (T9 — the hardest semantic
  * in the port, SURVEY §7.5 #1).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def json(id: Long, ts: String, user: Long, typ: String,
      value: Double): String =
    s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$typ","value":$value}"""

  /** Run a streaming transform over memory-stream batches, return the
    * memory-sink table. Each element of `batches` is one micro-batch. */
  private def runStream(name: String, batches: Seq[Seq[String]])(
      pipeline: DataFrame => DataFrame): DataFrame = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = pipeline(events).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("envelope decode: declared schema, bad JSON becomes all-null row") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val decoded = StreamOps.decodeJsonEnvelope(input.toDF())
    val q = decoded.writeStream.format("memory").queryName("dec")
      .outputMode("append").start()
    input.addData(Seq(
      json(1, "2024-01-01 10:00:00", 7, "purchase", 42.5),
      "not json at all"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dec").collect()
    assert(rows.length === 2)
    val good = rows.find(!_.isNullAt(0)).get
    assert(good.getLong(0) === 1L && good.getString(3) === "purchase")
    assert(rows.exists(r => (0 until 5).forall(r.isNullAt)))
  }

  test("stream-static as-of enrichment: broadcast variant joins a static dim per batch") {
    // the broadcast as-of is the only streamable variant: the right
    // side collapses to a static keyed array dim, so the streaming
    // left needs no shuffle, no watermark, no state
    implicit val ctx = spark.sqlContext
    import java.sql.Timestamp
    val dim = Seq(
      (100L, 7L, Timestamp.valueOf("2024-01-01 09:00:00")),
      (101L, 7L, Timestamp.valueOf("2024-01-01 10:00:10")))
      .toDF("event_id", "user_id", "ts")
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
      .select($"event_id", $"user_id", $"ts")
    val q = graft.operators.Analytics.asofJoinBroadcast(
        events, dim, Seq("event_id"))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 7, "purchase", 1.0), // before 101
        json(2, "2024-01-01 10:01:00", 7, "purchase", 1.0), // after 101
        json(3, "2024-01-01 10:00:00", 9, "purchase", 1.0))) // no dim row
      q.processAllAvailable()
      val got = spark.table("asof_stream").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(got === Map(1L -> 100L, 2L -> 101L, 3L -> -1L))
    } finally q.stop()
  }

  test("SCD-dim as-of: dim rows added between triggers are visible (re-broadcast per batch)") {
    // asofEnrichScd re-resolves the dim per micro-batch; a row added
    // to the dim AFTER the stream starts must enrich the NEXT batch —
    // the static-plan variant above would never see it
    implicit val ctx = spark.sqlContext
    import java.sql.Timestamp
    @volatile var dim = Seq(
      (100L, 7L, Timestamp.valueOf("2024-01-01 09:00:00")))
      .toDF("event_id", "user_id", "ts")
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
      .select($"event_id", $"user_id", $"ts")
    val seen = scala.collection.mutable.Map[Long, Long]()
    val q = StreamOps.asofEnrichScd(events, () => dim,
        Seq("event_id")) { (out, _) =>
      out.collect().foreach { r =>
        seen.synchronized {
          seen(r.getLong(0)) = if (r.isNullAt(3)) -1L else r.getLong(3)
        }
      }
    }.start()
    try {
      input.addData(Seq(json(1, "2024-01-01 10:01:00", 7, "purchase", 1.0)))
      q.processAllAvailable()
      // the dim gains a fresher version BETWEEN triggers
      dim = Seq(
        (100L, 7L, Timestamp.valueOf("2024-01-01 09:00:00")),
        (101L, 7L, Timestamp.valueOf("2024-01-01 10:00:10")))
        .toDF("event_id", "user_id", "ts")
      input.addData(Seq(json(2, "2024-01-01 10:01:00", 7, "purchase", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    // same event time, same user: batch 1 carried dim v1's 09:00 row,
    // batch 2 carried the 10:00:10 row that did not exist at start
    assert(seen.toMap === Map(1L -> 100L, 2L -> 101L))
  }

  test("Kafka-shaped envelope: BINARY value column decodes through the S1 chain") {
    // the connector isn't in this image, but its output contract is a
    // fixed schema (key/value binary, topic, partition, offset); this
    // feeds that exact shape through decodeJsonEnvelope + withEventTime,
    // so the only untested piece of KafkaSource.events is the .load()
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long)]
    val kafkaShaped = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset")
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(kafkaShaped))
    val q = events.writeStream.format("memory").queryName("kafka_shape")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (Array[Byte](1), json(7, "2024-01-01 10:00:00", 3, "purchase", 9.5)
          .getBytes("UTF-8"), "bitcoin-tweets", 0, 42L)))
      q.processAllAvailable()
      val r = spark.table("kafka_shape").head()
      assert(r.getLong(0) === 7L)
      assert(r.getAs[java.sql.Timestamp]("ts").toString
        .startsWith("2024-01-01 10:00:00"))
      assert(r.getAs[String]("event_type") === "purchase")
    } finally q.stop()
  }

  test("update mode: windows re-emit per batch; last emission equals append's final") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val counts = StreamOps.watermarked(events)
      .groupBy(window($"ts", "60 seconds"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".cast("string").as("ws"), $"n")
    val q = counts.writeStream.format("memory").queryName("upd")
      .outputMode("update").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:05", 1, "view", 1.0),
        json(2, "2024-01-01 10:00:10", 2, "view", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(
        json(3, "2024-01-01 10:00:20", 3, "view", 1.0),
        json(4, "2024-01-01 10:30:00", 4, "view", 1.0))) // advances wm
      q.processAllAvailable()
      val emissions = spark.table("upd")
        .where($"ws".startsWith("2024-01-01 10:00"))
        .select($"n").as[Long].collect().sorted
      // batch 1 emitted the partial count 2, batch 2 the update to 3 —
      // update mode re-emits changed windows instead of waiting for
      // the watermark (append) or re-emitting everything (complete)
      assert(emissions === Array(2L, 3L))
    } finally q.stop()
  }

  test("observe: per-batch metrics surface in streaming progress") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = StreamOps.observed(events).writeStream
      .format("memory").queryName("obs").outputMode("append").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 7, "purchase", 40.0),
        json(2, "2024-01-01 10:00:30", 8, "view", 2.5)))
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_metrics"))).last
      assert(m.getAs[Long]("n_rows") === 2L)
      assert(m.getAs[Double]("value_total") === 42.5)
      assert(m.getAs[java.sql.Timestamp]("max_event_time").toString
        .startsWith("2024-01-01 10:00:30"))
    } finally q.stop()
  }

  test("append mode: windows emit only after watermark passes window end") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:10", 1, "error", 1.0),
      json(2, "2024-01-01 10:00:20", 2, "error", 1.0))
    // advance event time so watermark (max - 2min) passes 10:01:00
    val w2 = Seq(json(3, "2024-01-01 10:10:00", 3, "error", 1.0))
    val out = runStream("append_t", Seq(w1, w2)) { ev =>
      StreamOps.windowedMetrics(
        StreamOps.errorAlerts(StreamOps.watermarked(ev)),
        "60 seconds", "60 seconds")
    }
    val rows = out.collect()
    // only the 10:00 window is finalized; the 10:10 window is still open
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("n_alerts") === 2L)
  }

  test("watermark: late data beyond the 2-minute bound is dropped") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:10", 1, "error", 1.0),
      json(2, "2024-01-01 10:00:20", 2, "error", 1.0))
    val w2 = Seq(json(3, "2024-01-01 10:10:00", 3, "error", 1.0))
    // late arrival for the already-finalized 10:00 window
    val w3 = Seq(json(4, "2024-01-01 10:00:30", 4, "error", 1.0))
    val out = runStream("late_t", Seq(w1, w2, w3)) { ev =>
      StreamOps.windowedMetrics(
        StreamOps.errorAlerts(StreamOps.watermarked(ev)),
        "60 seconds", "60 seconds")
    }
    val finalized = out.where($"window_start" === "2024-01-01 10:00:00")
      .collect()
    assert(finalized.length === 1)
    assert(finalized.head.getAs[Long]("n_alerts") === 2L) // late row dropped
  }

  test("out-of-order data within the watermark is accepted into its window") {
    val w1 = Seq(json(1, "2024-01-01 10:00:40", 1, "error", 1.0))
    // out of order (earlier than batch 1) but within the 2-min bound
    val w2 = Seq(
      json(2, "2024-01-01 10:00:10", 2, "error", 1.0),
      json(3, "2024-01-01 10:01:30", 3, "error", 1.0))
    val w3 = Seq(json(9, "2024-01-01 10:10:00", 9, "error", 1.0))
    val w4 = Seq(json(10, "2024-01-01 10:11:00", 9, "error", 1.0))
    val out = runStream("ooo_t", Seq(w1, w2, w3, w4)) { ev =>
      StreamOps.windowedMetrics(
        StreamOps.errorAlerts(StreamOps.watermarked(ev)),
        "60 seconds", "60 seconds")
    }
    val w1000 = out.where($"window_start" === "2024-01-01 10:00:00").collect()
    assert(w1000.length === 1)
    assert(w1000.head.getAs[Long]("n_alerts") === 2L) // ids 1 and 2
  }

  test("high-frequency detector: >=3 events per user per 60s window") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:05", 1, "view", 1.0),
      json(2, "2024-01-01 10:00:15", 1, "view", 1.0),
      json(3, "2024-01-01 10:00:55", 1, "view", 1.0),
      json(4, "2024-01-01 10:00:05", 2, "view", 1.0),
      json(5, "2024-01-01 10:00:15", 2, "view", 1.0))
    val w2 = Seq(json(9, "2024-01-01 10:10:00", 9, "view", 1.0))
    val out = runStream("hf_t", Seq(w1, w2))(ev =>
      StreamOps.highFrequencyAlerts(StreamOps.watermarked(ev)))
    val rows = out.collect()
    assert(rows.length === 1) // user 1 only; user 2 is below threshold
    assert(rows.head.getAs[Long]("user_id") === 1L)
    assert(rows.head.getAs[Long]("event_count") === 3L)
  }

  test("chained stateful topology (T9): windowed agg -> union -> windowed agg") {
    val w1 = Seq(
      // user 1: high-frequency burst (stateful detector fires)
      json(1, "2024-01-01 10:00:05", 1, "view", 1.0),
      json(2, "2024-01-01 10:00:15", 1, "view", 1.0),
      json(3, "2024-01-01 10:00:25", 1, "view", 1.0),
      // stateless alerts
      json(4, "2024-01-01 10:00:30", 2, "error", 1.0),
      json(5, "2024-01-01 10:00:40", 3, "purchase", 400.0))
    // push event time far enough for BOTH stateful stages' watermarks
    val w2 = Seq(json(9, "2024-01-01 10:30:00", 9, "view", 1.0))
    val w3 = Seq(json(10, "2024-01-01 11:00:00", 9, "view", 1.0))
    val out = runStream("chain_t", Seq(w1, w2, w3))(
      StreamOps.chainedAlertMetrics(_))
    val byType = out.groupBy($"alert_type")
      .agg(sum($"n_alerts").as("n")).as[(String, Long)].collect().toMap
    // 5-min/1-min sliding windows: each alert lands in 5 windows
    assert(byType("error") === 5L)
    assert(byType("high_value") === 5L)
    assert(byType("high_frequency") === 5L)
  }

  test("RocksDB state store: chained stateful topology, identical results to default provider") {
    import graft.streaming.StateStores
    import scala.jdk.CollectionConverters._
    val w1 = Seq(
      json(1, "2024-01-01 10:00:05", 1, "view", 1.0),
      json(2, "2024-01-01 10:00:15", 1, "view", 1.0),
      json(3, "2024-01-01 10:00:25", 1, "view", 1.0),
      json(4, "2024-01-01 10:00:30", 2, "error", 1.0),
      json(5, "2024-01-01 10:00:40", 3, "purchase", 400.0))
    val w2 = Seq(json(9, "2024-01-01 10:30:00", 9, "view", 1.0))
    val w3 = Seq(json(10, "2024-01-01 11:00:00", 9, "view", 1.0))
    val baseline = runStream("rocks_base_t", Seq(w1, w2, w3))(
      StreamOps.chainedAlertMetrics(_))
      .collect().map(_.toSeq).toSet
    // RocksDB on a derived session: the shared session keeps its provider
    val rs = org.apache.spark.sql.graftbridge.PlanBridge.cloneSession(spark)
    StateStores.useRocksDb(rs)
    implicit val ctx = rs.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = StreamOps.chainedAlertMetrics(events).writeStream
      .format("memory").queryName("rocks_t").outputMode("append").start()
    try {
      Seq(w1, w2, w3).foreach { b => input.addData(b); q.processAllAvailable() }
      // proof the query really ran on RocksDB stores, not the default
      val metrics = q.lastProgress.stateOperators
      assert(metrics.nonEmpty)
      assert(metrics.forall(_.customMetrics.keySet.asScala
        .exists(_.startsWith("rocksdb"))),
        "state operators expose no rocksdb metrics — wrong provider?")
    } finally q.stop()
    val rocks = rs.table("rocks_t").collect().map(_.toSeq).toSet
    assert(rocks === baseline)
    assert(rocks.nonEmpty)
  }

  test("session windows: 30-min gap splits sessions, append after watermark") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      json(2, "2024-01-01 10:10:00", 1, "view", 1.0),   // same session
      json(3, "2024-01-01 11:30:00", 1, "view", 1.0))   // new session
    val w2 = Seq(json(9, "2024-01-01 14:00:00", 9, "view", 1.0))
    val out = runStream("sess_t", Seq(w1, w2))(ev =>
      StreamOps.sessionMetrics(StreamOps.watermarked(ev)))
    val u1 = out.where($"user_id" === 1).orderBy($"session_start").collect()
    assert(u1.length === 2)
    assert(u1(0).getAs[Long]("n_events") === 2L)
    assert(u1(1).getAs[Long]("n_events") === 1L)
  }

  test("session windows with DYNAMIC gap: purchases hold sessions open longer than views") {
    // user 1: two views 20 min apart — the 10-min view gap splits them.
    // user 2: a purchase then a view 20 min apart — the purchase's
    // 30-min hold bridges the gap into ONE merged session.
    val w1 = Seq(
      json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      json(2, "2024-01-01 10:20:00", 1, "view", 1.0),
      json(3, "2024-01-01 10:00:00", 2, "purchase", 50.0),
      json(4, "2024-01-01 10:20:00", 2, "view", 1.0))
    val w2 = Seq(json(9, "2024-01-01 14:00:00", 9, "view", 1.0))
    val out = runStream("sess_dyn_t", Seq(w1, w2))(ev =>
      StreamOps.sessionRollupDynamicGap(StreamOps.watermarked(ev)))
    val u1 = out.where($"user_id" === 1).collect()
    val u2 = out.where($"user_id" === 2).collect()
    assert(u1.length === 2, s"views should split: ${u1.toSeq}")
    assert(u2.length === 1, s"purchase hold should merge: ${u2.toSeq}")
    assert(u2.head.getAs[Long]("n_events") === 2L)
    assert(u2.head.getAs[Double]("total_value") === 51.0)
  }

  test("flatMapGroupsWithState dedup drops repeated event_ids per user") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = StreamOps.dedupStream(StreamOps.watermarked(events.toDF()), spark)
      .writeStream
      .format("memory").queryName("dedup_t").outputMode("append").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        json(1, "2024-01-01 10:00:01", 1, "view", 1.0), // dup in batch
        json(2, "2024-01-01 10:00:02", 1, "click", 2.0)))
      q.processAllAvailable()
      input.addData(Seq(
        json(1, "2024-01-01 10:01:00", 1, "view", 1.0), // dup across batches
        json(3, "2024-01-01 10:01:01", 1, "view", 3.0),
        json(2, "2024-01-01 10:01:02", 2, "view", 9.0))) // other user's id 2
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_t")
      .select($"event_id", $"user_id").as[(Long, Long)].collect().sorted
    // ids dedup PER USER: user 1 keeps {1,2,3}; user 2's id 2 is separate
    assert(rows.toSeq === Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("K1: checkpointed parquet append sink writes finalized windows") {
    implicit val ctx = spark.sqlContext
    val dir = GraftTestSpark.tmpDir("graftk1")
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val metrics = StreamOps.windowedMetrics(
      StreamOps.errorAlerts(StreamOps.watermarked(events)),
      "60 seconds", "60 seconds")
    val q = graft.streaming.Sinks.parquetAppend(
        metrics, s"$dir/out", s"$dir/chk", "1 seconds").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:10", 1, "error", 1.0),
        json(2, "2024-01-01 10:00:20", 2, "error", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(json(3, "2024-01-01 10:10:00", 3, "error", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 1) // the finalized 10:00 window
    assert(back.head().getAs[Long]("n_alerts") === 2L)
    assert(new java.io.File(s"$dir/chk/offsets").exists) // T11 layout
  }

  test("K3 scale path: executor-side index sink ships docs inside tasks (no driver collect)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Sinks
    ExecutorSinkProbe.reset()
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = StreamOps.errorAlerts(events).drop("ts").writeStream
      .foreachBatch(
        Sinks.indexSinkPartitions(() => new ExecutorProbeSink, "alerts"))
      .start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 5, "error", 1.0),
        json(2, "2024-01-01 10:00:01", 6, "error", 1.0),
        json(3, "2024-01-01 10:00:02", 7, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val docs = ExecutorSinkProbe.docs.asScala.toSeq
    assert(docs.map(_._2("user_id").asInstanceOf[Long]).sorted === Seq(5L, 6L))
    assert(docs.forall(_._1 === "alerts"))
    // every indexDocs call ran inside a Spark task (TaskContext present)
    // — the proof there was no driver-side collect
    val parts = ExecutorSinkProbe.partitions.asScala.toSeq
    assert(parts.nonEmpty && parts.forall(_ >= 0))
  }

  test("K3 durable backend: FileIndexSink lands partition JSON-lines " +
      "files + a single mapping bootstrap") {
    // the concrete no-network IndexSink: executor tasks append to
    // uniquely-named files (partitionId + attempt), the K4 mapping is
    // create-if-absent — proves the trait contract against a real
    // durable backend, not just the in-memory probe
    implicit val ctx = spark.sqlContext
    import graft.streaming.Sinks
    val root = GraftTestSpark.tmpDir("graft-filesink")
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    new Sinks.FileIndexSink(root)
      .ensureIndex("alerts", Map("user_id" -> "long"))
    val q = StreamOps.errorAlerts(events).drop("ts").writeStream
      .foreachBatch(Sinks.indexSinkPartitions(
        () => new Sinks.FileIndexSink(root), "alerts"))
      .start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 5, "error", 1.0),
        json(2, "2024-01-01 10:00:01", 6, "error", 1.0),
        json(3, "2024-01-01 10:00:02", 7, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val idx = new java.io.File(root, "alerts")
    val mapping = scala.io.Source.fromFile(
      new java.io.File(idx, "_mapping.json")).mkString
    assert(mapping === """{"user_id":"long"}""")
    val docFiles = idx.listFiles().filter(_.getName.startsWith("docs-"))
    assert(docFiles.nonEmpty)
    // every file came from a task, never the driver fallback
    assert(docFiles.forall(_.getName.matches("docs-p\\d+-a\\d+\\.jsonl")))
    val lines = docFiles.flatMap(f =>
      scala.io.Source.fromFile(f).getLines()).toSeq
    assert(lines.length === 2) // the two error alerts
    assert(lines.forall(_.contains(""""alert_type":"error"""")))
    assert(lines.map(l =>
      "\"user_id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      .sorted === Seq(5L, 6L))
  }

  test("Tweet schema module: 15-field envelope decodes and types (SURVEY §1.2)") {
    import graft.streaming.Tweet
    val raw = Seq(
      """{"crypto_type":"bitcoin","user_name":"alice","user_location":"Lima",
        |"user_description":"d","user_created":"2020-01-01","user_followers":42,
        |"user_friends":7,"user_favourites":3,"user_verified":true,
        |"date":"2021-02-03","text":"to the moon","hashtags":"['BTC']",
        |"source":"Twitter Web App","is_retweet":false,
        |"timestamp":"2024-01-01 10:00:00"}""".stripMargin.replace("\n", ""))
      .toDF("value")
    val decoded = StreamOps.decodeJsonEnvelope(raw, Tweet.schema)
    // field list matches the reference StructType 1:1 (job1_bots.py:108-125)
    assert(decoded.columns.toSeq === Seq(
      "crypto_type", "user_name", "user_location", "user_description",
      "user_created", "user_followers", "user_friends", "user_favourites",
      "user_verified", "date", "text", "hashtags", "source", "is_retweet",
      "timestamp"))
    val t = decoded.as[Tweet].head()
    assert(t.crypto_type === "bitcoin" && t.user_followers === Some(42)
      && t.user_verified === Some(true) && t.is_retweet === Some(false)
      && t.text === "to the moon")
    assert(Tweet.csvColumns.length === 13) // headerless producer CSV order
  }

  test("Tweet alert detectors: SQ2-SQ4 + viral/VIP semantics, injected clock") {
    import graft.streaming.{Tweet, TweetAlerts}
    def mk(name: String, friends: Int, followers: Int, desc: String,
        created: String, verified: Boolean, retweet: Boolean,
        text: String): Tweet =
      Tweet("bitcoin", name, "loc", desc, created, Some(followers),
        Some(friends), Some(1), Some(verified), "2021-01-01", text, "[]",
        "src", Some(retweet), "2024-01-01 10:00:00")
    val tweets = TweetAlerts.promoted(Seq(
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
        verified = false, retweet = false, "hi")).toDF())

    val imb = TweetAlerts.imbalanceAlerts(tweets).collect()
    assert(imb.map(_.getAs[String]("user_name")).toSeq === Seq("bot1"))
    assert(imb.head.getAs[String]("alert_reason") ===
      "Relación extraña friends/followers para bot1 (friends: 5000, followers: 50)")

    // null description passes via the isNull branch, reason length 0
    val empt = TweetAlerts.emptyDescriptionAlerts(tweets)
      .collect().map(_.getAs[String]("user_name")).toSet
    assert(empt === Set("emptyd", "nulld"))

    // injected clock (T10): deterministic account age
    val newAcc = TweetAlerts.newAccountAlerts(tweets,
      to_date(lit("2024-01-01"))).collect()
    assert(newAcc.map(_.getAs[String]("user_name")).toSeq === Seq("bot1"))
    assert(newAcc.head.getAs[String]("alert_reason") ===
      "Cuenta nueva (12 días) - bot1")

    val viral = TweetAlerts.viralAlerts(tweets)
      .collect().map(_.getAs[String]("user_name")).toSet
    assert(viral === Set("viral", "rt")) // is_retweet OR "RT @" substring

    // VIP ladder: verified beats the 50k tier, order matters
    val vip = TweetAlerts.vipAlerts(tweets).collect()
      .map(r => r.getAs[String]("user_name") ->
        r.getAs[String]("alert_priority")).toMap
    assert(vip === Map("vip1" -> "HIGH", "vip2" -> "CRITICAL",
      "vip3" -> "MEDIUM"))
  }

  test("S8 replay source: bounded fixture streams out in order at the configured rate") {
    import graft.streaming.Replay
    val fixture = Seq(
      (3L, "c"), (1L, "a"), (2L, "b"), (5L, "e"), (4L, "d"))
      .toDF("event_id", "payload")
    val stream = Replay.rateLimited(spark, fixture, rowsPerSecond = 1000)
    val q = stream.writeStream.format("memory").queryName("replay_t")
      .outputMode("append").start()
    try {
      // rate is wall-clock: poll until all 5 ticks have fired
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("replay_t").count() < 5
          && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
    } finally q.stop()
    val out = spark.table("replay_t").orderBy($"event_id").collect()
    assert(out.length === 5)
    assert(out.map(_.getString(1)).toSeq === Seq("a", "b", "c", "d", "e"))
  }

  private def tj(name: String, ts: String, friends: Int, followers: Int,
      desc: String, created: String): String =
    s"""{"crypto_type":"bitcoin","user_name":"$name","user_location":"x",
       |"user_description":"$desc","user_created":"$created",
       |"user_followers":$followers,"user_friends":$friends,
       |"user_favourites":1,"user_verified":false,"date":"2021-01-01",
       |"text":"hello","hashtags":"[]","source":"src","is_retweet":false,
       |"timestamp":"$ts"}""".stripMargin.replace("\n", "")

  test("job1 topology end-to-end: SQ1-SQ5 chained stateful in the Tweet domain") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.TweetAlerts
    val input = MemoryStream[String]
    val out = TweetAlerts.botDetectionMetrics(input.toDF(),
      to_date(lit("2024-01-01")))
    val q = out.writeStream.format("memory").queryName("bot_t")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        // burst: 3 tweets inside one 60 s window → SQ1 fires
        tj("burst", "2024-01-01 10:00:05", 100, 5000,
          "a proper description", "2020-01-01 00:00:00"),
        tj("burst", "2024-01-01 10:00:15", 100, 5000,
          "a proper description", "2020-01-01 00:00:00"),
        tj("burst", "2024-01-01 10:00:25", 100, 5000,
          "a proper description", "2020-01-01 00:00:00"),
        tj("bot1", "2024-01-01 10:00:30", 5000, 50,
          "a proper description", "2020-01-01 00:00:00"),
        tj("emptyd", "2024-01-01 10:00:35", 100, 5000,
          "", "2020-01-01 00:00:00"),
        tj("newbie", "2024-01-01 10:00:40", 100, 5000,
          "a proper description", "2023-12-25 00:00:00")))
      q.processAllAvailable()
      // alert-free clock tweets advance BOTH stateful stages' watermarks
      input.addData(Seq(tj("norm", "2024-01-01 10:30:00", 100, 5000,
        "a proper description", "2020-01-01 00:00:00")))
      q.processAllAvailable()
      input.addData(Seq(tj("norm2", "2024-01-01 11:00:00", 100, 5000,
        "a proper description", "2020-01-01 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val byType = spark.table("bot_t").groupBy($"alert_type")
      .agg(sum($"total_alerts").as("n")).as[(String, Long)]
      .collect().toMap
    // one alert each, landing in 5 sliding (5m/1m) windows
    assert(byType === Map(
      "HIGH_FREQUENCY_POSTING" -> 5L,
      "FRIENDS_FOLLOWERS_IMBALANCE" -> 5L,
      "EMPTY_PROFILE" -> 5L,
      "NEW_ACCOUNT_SUSPICIOUS" -> 5L))
  }

  test("differential: finalized streaming windows equal the batch formulation") {
    val rows = Seq(
      json(1, "2024-01-01 10:00:10", 1, "error", 1.0),
      json(2, "2024-01-01 10:00:20", 2, "error", 1.0),
      json(3, "2024-01-01 10:02:05", 1, "error", 1.0),
      json(4, "2024-01-01 10:03:30", 3, "error", 1.0))
    // two closer batches: the watermark computed from batch N only
    // gates emission in batch N+1. NOTE they must be 'error' rows:
    // Catalyst pushes the errorAlerts type-filter BELOW the watermark
    // node (the predicate doesn't touch ts), so rows of other types
    // never reach the watermark operator and don't advance it.
    val closer = Seq(json(9, "2024-01-01 10:30:00", 9, "error", 1.0),
      json(10, "2024-01-01 10:31:00", 9, "error", 1.0))
    val streamed = runStream("diff_t",
      Seq(rows, closer.take(1), closer.drop(1))) { ev =>
      StreamOps.windowedMetrics(
        StreamOps.errorAlerts(StreamOps.watermarked(ev)),
        "60 seconds", "60 seconds")
    }
    // batch formulation: same transforms, no watermark, same rows
    val batchRaw = (rows ++ closer).toDF("value")
    val batch = StreamOps.windowedMetrics(
      StreamOps.errorAlerts(
        StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(batchRaw))),
      "60 seconds", "60 seconds")
    // every finalized streaming window must match batch exactly
    val sRows = streamed
      .select($"window_start", $"alert_type", $"n_alerts")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val bRows = batch
      .select($"window_start", $"alert_type", $"n_alerts")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(sRows.nonEmpty && sRows.subsetOf(bRows))
    // all windows closed by the watermark were emitted (everything
    // before 10:28 here): stream == batch on the error windows
    assert(sRows === bRows.filter(_._1.getTime <
      java.sql.Timestamp.valueOf("2024-01-01 10:28:00").getTime))
  }

  test("JSON envelope round-trips through to_json (producer role, S8)") {
    val ev = Seq((7L, "2024-01-01 10:00:00", 42L, "purchase", 9.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val wire = ev.select(to_json(struct(
      $"event_id", $"ts", $"user_id", $"event_type", $"value")).as("value"))
    val back = StreamOps.decodeJsonEnvelope(wire).head()
    assert(back.getLong(0) === 7L)
    assert(back.getString(3) === "purchase")
    assert(back.getDouble(4) === 9.5)
  }

  test("stream-stream interval join: views attribute to later purchases") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      json(2, "2024-01-01 10:20:00", 1, "view", 1.0),
      json(3, "2024-01-01 10:30:00", 1, "purchase", 99.0),
      json(4, "2024-01-01 08:00:00", 2, "view", 1.0),     // too old
      json(5, "2024-01-01 10:30:00", 2, "purchase", 50.0))
    val w2 = Seq(json(9, "2024-01-01 12:00:00", 9, "view", 1.0))
    val out = runStream("ssjoin_t", Seq(w1, w2))(
      StreamOps.purchaseAttribution(_))
    val got = out.select($"purchase_id", $"view_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L), (3L, 2L))) // user 2's view too old
  }

  test("stream-stream OUTER interval join: unattributed purchase emits null view after watermark") {
    val w1 = Seq(
      json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      json(3, "2024-01-01 10:30:00", 1, "purchase", 99.0),
      json(5, "2024-01-01 10:30:00", 2, "purchase", 50.0)) // no view at all
    // advance BOTH sides' watermarks far past p_ts + the 1h interval
    // bound so user 2's join state evicts and the outer null row
    // materializes. Both event types are needed: the type filters are
    // pushed below each side's EventTimeWatermark (the documented
    // pushdown-vs-watermark finding), so a views-only batch would
    // leave the purchase-side watermark — and the global min — stuck.
    // Eviction output also lags the watermark advance by one
    // micro-batch, hence the third batch.
    val w2 = Seq(json(9, "2024-01-01 14:00:00", 9, "view", 1.0),
      json(19, "2024-01-01 14:00:00", 9, "purchase", 1.0))
    val w3 = Seq(json(10, "2024-01-01 15:00:00", 9, "view", 1.0),
      json(20, "2024-01-01 15:00:00", 9, "purchase", 1.0))
    val out = runStream("ssjoin_outer_t", Seq(w1, w2, w3))(
      StreamOps.purchaseAttributionOuter(_))
    val got = out.select($"purchase_id", $"view_id")
      .where($"purchase_id" <= 5).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1)))
    // purchase 3 attributes to view 1 immediately; purchase 5 emits
    // EXACTLY once, unattributed, only after the watermark passed
    // (the watermark-advancing filler purchases are out of scope)
    assert(got.toSet === Set(3L -> 1L, 5L -> -1L))
    assert(got.length === 2, s"duplicate outer emissions: ${got.toSeq}")
  }

  // T11 inputs: (name suffix, checkpoint file manager of the first run,
  // of the restart). Each runs on a new session with the manager set, so
  // a restart resumes files written by the other manager. The unsuffixed
  // input runs Spark's own manager on both runs, whatever managers the
  // shared session's earlier queries were given.
  private val checkpointFiles = classOf[graft.streaming.CheckpointFiles].getName
  private val fileContextManager = classOf[org.apache.spark.sql.execution
    .streaming.checkpointing.FileContextBasedCheckpointFileManager].getName
  Seq(
    ("", fileContextManager, fileContextManager),
    (": CheckpointFiles -> CheckpointFiles", checkpointFiles, checkpointFiles),
    (": FileContext manager -> CheckpointFiles",
      fileContextManager, checkpointFiles),
    (": CheckpointFiles -> FileContext manager",
      checkpointFiles, fileContextManager)
  ).foreach { case (suffix, firstManager, restartManager) =>
    test("T11 checkpoint recovery: restart resumes from offsets, " +
        s"exactly-once output$suffix") {
      // stop a checkpointed query, add data, restart the SAME pipeline
      // against the SAME checkpoint: the second run must process only
      // the new file — no re-emission of batch-1 rows, none lost. A
      // stateful query (dedup by event type) over the same files must
      // keep its state across its own restart.
      val session = spark.newSession()
      val srcDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-src"))
      def writeFile(name: String, lines: Seq[String]): Unit =
        java.nio.file.Files.write(srcDir.resolve(name),
          String.join("\n", lines: _*).getBytes("UTF-8"))
      // runs the pipeline until it has read every file, returns the rows read
      def run(outDir: String, chkDir: String, manager: String,
          dedupTypes: Boolean = false): Long = {
        session.conf.set(graft.streaming.CheckpointFiles.ConfKey, manager)
        val events = StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(
          session.readStream.text(srcDir.toString)))
        val q = (if (dedupTypes) events.dropDuplicates("event_type") else events)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", chkDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).sum
      }
      def output(outDir: String) =
        session.read.parquet(outDir).orderBy("event_id").collect().toSeq
      val outDir = GraftTestSpark.tmpDir("graft-out")
      val chkDir = GraftTestSpark.tmpDir("graft-chk")
      val typesOut = GraftTestSpark.tmpDir("graft-out")
      val typesChk = GraftTestSpark.tmpDir("graft-chk")
      writeFile("f1.json", Seq(
        json(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        json(2, "2024-01-01 10:01:00", 1, "view", 1.0)))
      // first incarnation processes f1, then terminates
      run(outDir, chkDir, firstManager)
      run(typesOut, typesChk, firstManager, dedupTypes = true)
      writeFile("f2.json", Seq(
        json(3, "2024-01-01 10:02:00", 2, "purchase", 9.0),
        json(4, "2024-01-01 10:03:00", 2, "view", 1.0)))
      // restart from the same checkpoint: it reads f2's two rows only
      val restartRows = run(outDir, chkDir, restartManager)
      assert(restartRows === 2L, s"restart read $restartRows rows, not f2's 2")
      run(typesOut, typesChk, restartManager, dedupTypes = true)
      val ids = session.read.parquet(outDir)
        .select($"event_id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 4L),
        s"restart broke exactly-once: $ids")
      val uninterrupted = GraftTestSpark.tmpDir("graft-out")
      run(uninterrupted, GraftTestSpark.tmpDir("graft-chk"), restartManager)
      assert(output(outDir) === output(uninterrupted))
      // f2's "view" repeats a type seen before the restart: it is
      // dropped only if the dedup state survived the restart
      val types = session.read.parquet(typesOut)
        .select($"event_type").as[String].collect().sorted.toSeq
      assert(types === Seq("purchase", "view"),
        s"dedup state lost on restart: $types")
    }
  }

  test("K2 console report runs engine-side aggregation per batch") {
    val batch = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("alert_type", "v")
    // direct invocation of the foreachBatch callback body
    graft.streaming.Sinks.consoleReport("alert_type")(batch, 7L)
  }

  test("alert union aligns heterogeneous schemas with nulls (U2)") {
    val a = Seq((1L, "x")).toDF("user_id", "reason")
    val b = Seq((2L, 9.5)).toDF("user_id", "value")
    val u = StreamOps.alertUnion(Seq(a, b)).orderBy($"user_id").collect()
    assert(u.length === 2)
    assert(u(0).getString(1) === "x" && u(0).isNullAt(2))
    assert(u(1).isNullAt(1) && u(1).getDouble(2) === 9.5)
  }

  test("streaming pair-table maintenance: foreachBatch + " +
      "incrementalJaccardPairs over doc micro-batches equals a full mine") {
    // the nightly-ingest topology end to end: documents arrive as a
    // stream, each micro-batch folds into the maintained pair table via
    // the q116 algebra (corpus = all docs seen so far, incoming = the
    // batch); after the backlog drains, the maintained table must be
    // EXACTLY the from-scratch mine over all docs
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    val srcDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-ppl-src"))
      .toString
    val chkDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-ppl-chk"))
      .toString
    // stage the corpus as 3 files = 3 micro-batches under the cap
    (0 until 3).foreach { i =>
      docs.where(pmod($"doc_id", lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val seen = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame](null)
    val maintained = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame](null)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // corpus = docs seen BEFORE this batch (collected eagerly —
        // foreachBatch frames are only valid within the callback)
        val b = batch.persist()
        b.count(): Unit
        val corpus = Option(seen.get())
        val pairs = corpus match {
          case None => graft.operators.Dedup.jaccardPairs(
            b, 3, 0.2)
          case Some(c) => graft.operators.Dedup.incrementalJaccardPairs(
            c, b, 3, 0.2)
        }
        // materialize the updated table before state advances
        val out = pairs.collect()
        maintained.set(spark.createDataFrame(
          java.util.Arrays.asList(out: _*), pairs.schema))
        seen.set(corpus.map(_.unionByName(b)).getOrElse(b)
          .persist())
        graft.operators.Caches.releaseAll()
        ()
      }
      .start()
    q.awaitTermination()
    val got = maintained.get().orderBy($"id_a", $"id_b")
      .select($"id_a", $"id_b", $"shared", $"jaccard").collect().toSeq
    val full = graft.operators.Dedup.jaccardPairs(
        docs, 3, 0.2)
      .orderBy($"id_a", $"id_b").collect().toSeq
    graft.operators.Caches.releaseAll()
    assert(got.nonEmpty)
    assert(got === full,
      s"maintained table diverged: ${got.length} vs ${full.length} pairs")
  }

  test("streaming SCD2 build: closed versions across micro-batches " +
      "equal the batch build's non-current rows (q154 twin)") {
    // the CDC-ingest twin of q154: per-user state carries the open
    // version; a type change closes it (append emission). Feed the
    // real sf0.001 event log in 3 event-time-ordered micro-batches —
    // versions whose run STRADDLES a batch boundary prove the state
    // carry. Open versions stay in state (they are q154's is_current
    // rows, unemittable under append semantics until closed).
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .collect().sortBy(r => (r._2.getTime, r._3))
    val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val out = graft.streaming.StreamOps.scd2Stream(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      spark)
    val chk = GraftTestSpark.tmpDir("graft-scd2-chk")
    val run = out.writeStream.format("memory").queryName("scd2_twin")
      .outputMode("append").option("checkpointLocation", chk)
      .start()
    var prev = 0
    cuts.foreach { c =>
      input.addData(ev.slice(prev, c).toSeq)
      prev = c
      run.processAllAvailable() // one micro-batch per slice
    }
    run.stop()
    val emitted = spark.table("scd2_twin").collect().toSeq
    val got = emitted.map { r =>
      (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime,
        r.getLong(5))
    }.sortBy(t => (t._1, t._2))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val batch = Queries.q154Scd2Build(spark, "/root/testdata/sf0.001")
      .where(!$"is_current").collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4), r.getLong(5))
      }.sortBy(t => (t._1, t._2)).toSeq
    val gotFmt = got.map(t => (t._1, t._2, t._3,
      fmt.format(new java.util.Date(t._4)),
      fmt.format(new java.util.Date(t._5)), t._6))
    assert(gotFmt.nonEmpty)
    assert(gotFmt === batch,
      s"streaming closed versions (${gotFmt.length}) diverged from " +
        s"batch non-current rows (${batch.length})")
  }

  test("streaming funnel: completions across micro-batches equal the " +
      "batch min-based funnel's final-step survivors (q157 twin)") {
    implicit val ctx = spark.sqlContext
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .collect().sortBy(r => (r._2.getTime, r._3))
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val out = graft.streaming.StreamOps.funnelStream(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      steps, spark)
    val chk = GraftTestSpark.tmpDir("graft-funnel-chk")
    val run = out.writeStream.format("memory").queryName("funnel_twin")
      .outputMode("append").option("checkpointLocation", chk)
      .start()
    val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
    var prev = 0
    cuts.foreach { c =>
      input.addData(ev.slice(prev, c).toSeq)
      prev = c
      run.processAllAvailable()
    }
    run.stop()
    val streamed = spark.table("funnel_twin")
      .select($"user_id").as[Long].collect().toSet
    // batch expectation: the min-based chained funnel's survivors
    val df = Queries.events(spark, "/root/testdata/sf0.001")
    val s1 = df.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t"))
    val s2 = df.join(s1, Seq("user_id"))
      .where($"event_type" === "click" && $"ts" >= $"t")
      .groupBy($"user_id").agg(min($"ts").as("t"))
    val s3 = df.join(s2, Seq("user_id"))
      .where($"event_type" === "purchase" && $"ts" >= $"t")
      .groupBy($"user_id").agg(min($"ts").as("t"))
    val expected = s3.select($"user_id").as[Long].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expected,
      s"streaming completions ${streamed.size} != batch ${expected.size}")
    // each entity completes exactly once (append-mode invariant)
    assert(spark.table("funnel_twin").count() === streamed.size)
  }

  test("streaming CMS maintenance: cell-add over micro-batches equals " +
      "the batch sketch, and the q148 screen built from it stays exact") {
    // the heavy-hitter ingest story: CMS cells are a cell-ADD monoid,
    // so maintaining the q148 screen's sketch under a document stream
    // is folding each micro-batch's 1024 cells into the running map —
    // no state store, no corpus rescan. After the backlog drains the
    // maintained sketch must equal the one-shot build, and — the
    // contract that matters — the exact-heavy-hitter result computed
    // THROUGH the maintained sketch must equal the naive groupBy
    // (the screen keeps its no-false-negative guarantee because
    // cell-adds only ever grow estimates).
    import graft.operators.HeavyHitters
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val srcDir = GraftTestSpark.tmpDir("graft-cms-src")
    val chkDir = GraftTestSpark.tmpDir("graft-cms-chk")
    (0 until 3).foreach { i =>
      docs.where(pmod($"doc_id", lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val cells = scala.collection.concurrent.TrieMap[Int, Long]()
    val q = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val occ = batch.select(
          explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
        HeavyHitters.buildSketch(occ).foreach { case (k, v) =>
          cells.updateWith(k) {
            case Some(c) => Some(c + v)
            case None => Some(v)
          }: Unit
        }
        ()
      }
      .start()
    q.awaitTermination()
    val occAll = docs.select(
      explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val batchSketch = HeavyHitters.buildSketch(occAll)
    assert(cells.nonEmpty)
    assert(cells.toMap === batchSketch,
      s"maintained sketch diverged: ${cells.size} vs ${batchSketch.size}")
    // end-to-end: screen from the MAINTAINED sketch == naive query
    val viaMaintained = HeavyHitters
      .screenedExact(occAll, cells.toMap, denom = 200L)
      .orderBy($"n".desc, $"tok").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = cells.toMap.collect {
      case (k, v) if k < HeavyHitters.Width => v }.sum
    val t = math.max(2L, total / 200L)
    val naive = occAll.groupBy($"tok").agg(count(lit(1)).as("n"))
      .where($"n" >= t).orderBy($"n".desc, $"tok").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaMaintained === naive)
  }

  test("streaming sketch maintenance: histogram cell-add over " +
      "micro-batches equals the batch build (q126 shape)") {
    // the mergeable-sketch streaming story: because the q126 histogram
    // merge is cell addition (a commutative monoid), maintaining it
    // under a stream is just folding each micro-batch's bin counts
    // into the running sketch — no rescan, no state store. After the
    // backlog drains, the maintained cells must EQUAL the one-shot
    // batch build, the same merge ≡ rebuild contract q126's oracle
    // checks cross-engine.
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"event_type", $"value")
    val srcDir = GraftTestSpark.tmpDir("graft-hist-src")
    val chkDir = GraftTestSpark.tmpDir("graft-hist-chk")
    (0 until 3).foreach { i =>
      ev.where(pmod($"event_id", lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val sketch = scala.collection.concurrent.TrieMap[(String, Int), Long]()
    val bin = least(lit(49), floor($"value" / 10).cast("int"))
    val q = spark.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // engine-side partial aggregation; only sketch cells cross to
        // the driver (O(types × bins), corpus-size-independent)
        batch.select($"event_type", bin.as("bin"))
          .groupBy($"event_type", $"bin").count()
          .collect().foreach { r =>
            val k = (r.getString(0), r.getInt(1))
            sketch.updateWith(k) {
              case Some(c) => Some(c + r.getLong(2))
              case None => Some(r.getLong(2))
            }: Unit
          }
        ()
      }
      .start()
    q.awaitTermination()
    val batchBuild = ev.select($"event_type", bin.as("bin"))
      .groupBy($"event_type", $"bin").count()
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(sketch.nonEmpty)
    assert(sketch.toMap === batchBuild,
      s"maintained sketch diverged: ${sketch.size} vs ${batchBuild.size} cells")
  }

  test("backpressure: maxFilesPerTrigger bounds every micro-batch " +
      "under a backlog (progress-log proof)") {
    // the file-source analog of Kafka's maxOffsetsPerTrigger (SURVEY §4
    // source tuning): a 6-file backlog with a 2-files-per-trigger cap
    // must drain as >=3 bounded batches, never one giant catch-up batch
    val srcDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-bp-src"))
      .toString
    val chkDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-bp-chk"))
      .toString
    val rowsPerFile = 100
    (0 until 6).foreach { i =>
      spark.range(i * rowsPerFile, (i + 1) * rowsPerFile)
        .select($"id", ($"id" % 7).as("v"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val stream = spark.readStream
      .schema("id LONG, v LONG")
      .option("maxFilesPerTrigger", "2")
      .parquet(srcDir)
    val q = stream.groupBy($"v").count()
      .writeStream.format("memory").queryName("bp_t")
      .outputMode("complete")
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"backlog drained in ${batches.length} batches — cap not applied")
    batches.foreach { p =>
      assert(p.numInputRows <= 2L * rowsPerFile,
        s"batch ${p.batchId} read ${p.numInputRows} rows > cap")
    }
    assert(batches.map(_.numInputRows).sum === 6L * rowsPerFile)
  }

  test("state-store growth bound: dedup state expires on event-time " +
      "timeout, numRowsTotal plateaus instead of accumulating") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val events = StreamOps.withEventTime(
      StreamOps.decodeJsonEnvelope(input.toDF()))
    val q = StreamOps.dedupStream(StreamOps.watermarked(events.toDF()), spark)
      .writeStream
      .format("memory").queryName("dedup_bound_t").outputMode("append")
      .start()
    def stateRows: Long =
      q.lastProgress.stateOperators.headOption.map(_.numRowsTotal)
        .getOrElse(-1L)
    try {
      // phase 1: 50 users at 10:00 — 50 state entries
      input.addData((1 to 50).map(u =>
        json(u, "2024-01-01 10:00:00", u, "view", 1.0)))
      q.processAllAvailable()
      val afterP1 = stateRows
      // phase 2: 50 NEW users two hours later; the batch advances the
      // watermark past phase 1's 1h-after-last-event timeouts
      input.addData((51 to 100).map(u =>
        json(u, "2024-01-01 12:00:00", u, "view", 1.0)))
      q.processAllAvailable()
      // nudge batch: timeouts fire in the batch AFTER the watermark
      // advanced; one more event lets the expiry sweep run
      input.addData(Seq(json(1000, "2024-01-01 12:00:05", 1000, "view", 1.0)))
      q.processAllAvailable()
      val afterExpiry = stateRows
      assert(afterP1 === 50L, s"phase-1 state = $afterP1")
      // phase-1 users expired: only phase-2 users (+ the nudge user)
      // remain — the plateau. Without EventTimeTimeout this would be
      // 101 and grow without bound over a long replay.
      assert(afterExpiry <= 51L,
        s"state after expiry = $afterExpiry — phase-1 state leaked")
      assert(afterExpiry >= 50L, s"phase-2 state missing: $afterExpiry")
    } finally q.stop()
  }

  test("streaming observed metrics: the per-batch quality ledger lands in the progress log") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val decoded = StreamOps.decodeJsonEnvelope(input.toDF())
      .observe("quality",
        count(lit(1)).as("n_rows"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("n_bad"))
    val q = decoded.writeStream.format("memory").queryName("obsq")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        json(1, "2024-01-01 10:00:00", 7, "purchase", 42.5),
        "not json at all"))
      q.processAllAvailable()
      // the engine-side ledger: decoded 2 rows, 1 dead letter — read
      // from the progress log, no collect, no second scan
      val ledgers = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("quality")))
      assert(ledgers.exists(r =>
        r.getAs[Long]("n_rows") === 2L && r.getAs[Long]("n_bad") === 1L),
        s"no quality ledger with the expected counts in ${ledgers.mkString(";")}")
    } finally q.stop()
  }

  test("streaming vector ingest: per-batch index appends equal a from-scratch build") {
    implicit val ctx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vec"))
    val centroids = emb.where($"id" % 100 === 0)
    val base = emb.where(pmod($"id", lit(10)) =!= 3)
    val incoming = emb.where(pmod($"id", lit(10)) === 3)
      .as[(Long, Seq[Double])].collect().toSeq
    val idxDir = GraftTestSpark.tmpDir("graft-vec-ingest")
    val ckpt = GraftTestSpark.tmpDir("graft-vec-ingest-chk")
    graft.operators.VectorIndex.write(base, centroids, idxDir)

    // two micro-batches of new embeddings land through the sink
    val input = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.Sinks.vectorIngest(
      input.toDF().toDF("id", "vec"), idxDir, ckpt).start()
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val fullDir = GraftTestSpark.tmpDir("graft-vec-full")
    graft.operators.VectorIndex.write(emb, centroids, fullDir)
    def assignments(p: String) =
      graft.operators.VectorIndex.read(spark, p).assignments
        .select($"neighbor_id", $"cent_id").as[(Long, Long)].collect().toSet
    assert(assignments(idxDir) === assignments(fullDir),
      "streamed appends must converge to the from-scratch index")
  }

  test("online index compaction composes with streaming ingest: probes " +
      "are unaffected mid-compaction and appends are never lost") {
    implicit val ctx = spark.sqlContext
    import graft.operators.VectorIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vec"))
    val centroids = emb.where($"id" % 100 === 0)
    val base = emb.where(pmod($"id", lit(10)) =!= 3)
    val incoming = emb.where(pmod($"id", lit(10)) === 3)
      .as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val queries = emb.where($"id" < 8)
    val idxDir = GraftTestSpark.tmpDir("graft-vec-compact")
    val ckpt = GraftTestSpark.tmpDir("graft-vec-compact-chk")
    VectorIndex.write(base, centroids, idxDir)

    def probeSet(p: String): Set[(Long, Int, Long)] =
      VectorIndex.probe(VectorIndex.read(spark, p), queries,
          k = 5, nprobe = 2)
        .select($"query_id", $"rank", $"neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
    def expectedFor(rows: Seq[(Long, Seq[Double])]): Set[(Long, Int, Long)] = {
      val d = GraftTestSpark.tmpDir("graft-vec-compact-exp")
      VectorIndex.write(base.union(rows.toDF("id", "vec")), centroids, d)
      probeSet(d)
    }
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(s"$idxDir/assignments"))
    }

    val input = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.Sinks.vectorIngest(
      input.toDF().toDF("id", "vec"), idxDir, ckpt).start()
    try {
      input.addData(b1); q.processAllAvailable()
      val exp1 = expectedFor(b1)
      assert(probeSet(idxDir) === exp1)

      // phase 1: compacted copies land, snapshot files still present —
      // every snapshot row is now visible TWICE; the probe's
      // (query_id, neighbor_id) dedup must absorb that
      val snapshot = VectorIndex.compactWrite(spark, idxDir)
      assert(snapshot.size >= 2, "fixture must actually consolidate files")
      assert(probeSet(idxDir) === exp1,
        "mid-compaction duplicates must not change probe results")

      // a micro-batch lands BETWEEN the phases: its files are not in
      // the snapshot, so the commit must not touch them
      input.addData(b2); q.processAllAvailable()
      val peak = parquetFiles().length

      snapshot.commit(spark)
      assert(probeSet(idxDir) === expectedFor(b1 ++ b2),
        "post-commit index must serve base + both streamed batches")
      val after = parquetFiles().map(_.getAbsolutePath)
      assert(after.length === peak - snapshot.size,
        "commit must delete exactly the snapshot files")
      assert(!after.exists(snapshot.replaced.map(
        _.stripPrefix("file:")).contains(_)),
        "no snapshot file may survive the commit")
    } finally q.stop()
  }

  test("SearchIngest: maintained postings serve BM25 identically to the batch build") {
    implicit val ctx = spark.sqlContext
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect()
    val idxDir = GraftTestSpark.tmpDir("graft-bm25-idx")
    val chk = GraftTestSpark.tmpDir("graft-bm25-chk")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.SearchIngest.ingest(
        input.toDF().toDF("doc_id", "text"), idxDir)
      .option("checkpointLocation", chk).start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val qs = Seq((1L, "hash join"), (2L, "window agg sort"),
      (3L, "spark stream batch")).toDF("query_id", "qtext")
    def topk(post: org.apache.spark.sql.DataFrame,
        lens: org.apache.spark.sql.DataFrame) =
      graft.operators.Relevance.bm25TopK(post, lens, qs)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val served = topk(
      graft.streaming.SearchIngest.postings(spark, idxDir),
      graft.streaming.SearchIngest.docLens(spark, idxDir))
    val (bp, bl) = graft.operators.Relevance.bm25Postings(
      docs)
    assert(served.nonEmpty && served === topk(bp, bl))
    // retry idempotence: re-applying an already-written batch id must
    // not double-append (the batch=<id> overwrite contract)
    val before = graft.streaming.SearchIngest.postings(spark, idxDir).count()
    graft.streaming.SearchIngest.applyBatch(
      docs.limit(40), idxDir, 0L)
    graft.streaming.SearchIngest.applyBatch(
      docs.limit(40), idxDir, 0L)
    val after = graft.streaming.SearchIngest.postings(spark, idxDir).count()
    assert(after <= before,
      s"retry must overwrite its own batch dir, not append: $before -> $after")
  }

  test("TrendIngest: additive day-partials serve the decayed top-k identically to batch (q180 twin)") {
    implicit val ctx = spark.sqlContext
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
    val rows = ev.as[(Long, java.sql.Date)].collect()
    val idxDir = GraftTestSpark.tmpDir("graft-trend-idx")
    val chk = GraftTestSpark.tmpDir("graft-trend-chk")
    val input = MemoryStream[(Long, java.sql.Date)]
    val q = graft.streaming.TrendIngest.ingest(
        input.toDF().toDF("user_id", "day"), idxDir)
      .option("checkpointLocation", chk).start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val served = rowsOf(
      graft.streaming.TrendIngest.serveTopK(spark, idxDir))
    // truth = the catalog query itself over the same events
    val batch = rowsOf(
      Queries.q180DecayedTrending(spark, "/root/testdata/sf0.001"))
    assert(served.nonEmpty && served === batch,
      s"served-through-partials diverged: $served vs $batch")
    // retry idempotence: re-applying an already-written batch id must
    // not double-append (the batch=<id> overwrite contract)
    val slice = ev.limit(100)
    graft.streaming.TrendIngest.applyBatch(slice, idxDir, 0L)
    graft.streaming.TrendIngest.applyBatch(slice, idxDir, 0L)
    val after = rowsOf(
      graft.streaming.TrendIngest.serveTopK(spark, idxDir))
    // scores may change (batch 0 replaced), but no double count: the
    // partials for batch 0 must equal ONE application of the slice
    val partials0 = spark.read
      .parquet(s"$idxDir/daily/batch=0").agg(sum($"n")).head().getLong(0)
    assert(partials0 === 100L,
      s"retry must overwrite its own batch dir, not append: $partials0")
    assert(after.nonEmpty)
  }

  // ---- CdcStream: versioned copy-on-write MERGE maintenance ----

  private def cdcRow(id: Long, seq: Long, op: String, text: String,
      lang: String, source: String, n: Long) =
    (id, seq, op, text, lang, source, n)

  private def cdcFixture() = {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val base = docs.where(pmod($"doc_id", lit(9)) =!= 8)
    val rows = docs.select($"doc_id", $"text", $"lang", $"source",
        $"n_chars")
      .as[(Long, String, String, String, Long)].collect()
    // batch 1 (seq 1): deletes of %9==3, updates of %9==1, inserts of
    // %9==8; batch 2 (seq 2): resurrect %9==3, delete %9==1
    val b1 = rows.collect {
      case (id, _, _, _, _) if id % 9 == 3 =>
        cdcRow(id, 1L, "D", null, null, null, 0L)
      case (id, tx, lg, src, _) if id % 9 == 1 =>
        cdcRow(id, 1L, "U", tx + " rev2", lg, src, tx.length + 5L)
      case (id, tx, lg, src, n) if id % 9 == 8 =>
        cdcRow(id, 1L, "I", tx, lg, src, n)
    }.toSeq
    val b2 = rows.collect {
      case (id, tx, lg, src, _) if id % 9 == 3 =>
        cdcRow(id, 2L, "U", tx + " v3", lg, src, tx.length + 3L)
      case (id, _, _, _, _) if id % 9 == 1 =>
        cdcRow(id, 2L, "D", null, null, null, 0L)
    }.toSeq
    (base, b1, b2)
  }

  private def runCdcMaintain(base: DataFrame,
      batches: Seq[Seq[(Long, Long, String, String, String, String, Long)]])
      : DataFrame = {
    implicit val ctx = spark.sqlContext
    val tableDir = GraftTestSpark.tmpDir("graft-cdc-table")
    val chk = GraftTestSpark.tmpDir("graft-cdc-chk")
    graft.streaming.CdcStream.init(base, tableDir)
    val input =
      MemoryStream[(Long, Long, String, String, String, String, Long)]
    val q = graft.streaming.CdcStream.maintain(
        input.toDF().toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"),
        tableDir)
      .option("checkpointLocation", chk)
      .start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    graft.streaming.CdcStream.readSnapshot(spark, tableDir)
  }

  private def asSet(df: DataFrame) = df
    .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    .as[(Long, String, String, String, Long)].collect().toSet

  test("CdcStream: micro-batch maintenance converges to the batch merge (q165 twin)") {
    val (base, b1, b2) = cdcFixture()
    val logDf = (b1 ++ b2).toDF("doc_id", "seq", "op", "text", "lang",
      "source", "n_chars")
    val expected = asSet(graft.operators.Cdc.applyChangeset(
      base, logDf, "doc_id"))
    val got = asSet(runCdcMaintain(base, Seq(b1, b2)))
    assert(got.nonEmpty && got === expected)
  }

  test("CdcStream: out-of-order batch delivery converges identically (seq-aware tombstones)") {
    val (base, b1, b2) = cdcFixture()
    val logDf = (b1 ++ b2).toDF("doc_id", "seq", "op", "text", "lang",
      "source", "n_chars")
    val expected = asSet(graft.operators.Cdc.applyChangeset(
      base, logDf, "doc_id"))
    // seq-2 batch arrives FIRST: a naive last-applied-wins maintainer
    // would let the late seq-1 batch clobber newer images and
    // resurrect deleted keys; the versioned state must not
    val got = asSet(runCdcMaintain(base, Seq(b2, b1)))
    assert(got === expected)
  }

  test("CdcStream time travel: readSnapshotAt reproduces each past " +
      "version; above-pointer and vacuumed versions throw") {
    implicit val ctx = spark.sqlContext
    val (base, b1, b2) = cdcFixture()
    val tableDir = GraftTestSpark.tmpDir("graft-cdc-tt")
    val chk = GraftTestSpark.tmpDir("graft-cdc-ttchk")
    graft.streaming.CdcStream.init(base, tableDir)
    val input =
      MemoryStream[(Long, Long, String, String, String, String, Long)]
    val q = graft.streaming.CdcStream.maintain(
        input.toDF().toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"),
        tableDir)
      .option("checkpointLocation", chk)
      .start()
    Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    // v-1 = the initialized base, v0 = base+b1, v1 = base+b1+b2 (live)
    assert(asSet(graft.streaming.CdcStream.readSnapshotAt(
      spark, tableDir, -1L)) === asSet(base))
    val afterB1 = asSet(graft.operators.Cdc.applyChangeset(base,
      b1.toDF("doc_id", "seq", "op", "text", "lang", "source",
        "n_chars"), "doc_id"))
    assert(asSet(graft.streaming.CdcStream.readSnapshotAt(
      spark, tableDir, 0L)) === afterB1)
    assert(asSet(graft.streaming.CdcStream.readSnapshotAt(
      spark, tableDir, 1L)) ===
      asSet(graft.streaming.CdcStream.readSnapshot(spark, tableDir)))
    intercept[IllegalArgumentException] {
      graft.streaming.CdcStream.readSnapshotAt(spark, tableDir, 2L)
    }
    // retention passes the horizon: old versions throw, the live
    // snapshot is untouched
    assert(graft.streaming.CdcStream.vacuum(spark, tableDir) == 2)
    intercept[IllegalArgumentException] {
      graft.streaming.CdcStream.readSnapshotAt(spark, tableDir, 0L)
    }
    assert(asSet(graft.streaming.CdcStream.readSnapshotAt(
      spark, tableDir, 1L)).nonEmpty)
  }

  test("CdcStream two-phase compaction of the current version: snapshot " +
      "unchanged mid-window, a maintenance batch applies OVER the " +
      "doubled version between the phases, commit deletes exactly the " +
      "snapshot") {
    implicit val ctx = spark.sqlContext
    val (base0, b1, b2) = cdcFixture()
    // wide init so the current version genuinely has files to merge
    val base = base0.repartition(4)
    val baseSet = asSet(base)
    val tableDir = GraftTestSpark.tmpDir("graft-cdc-compact")
    val chk = GraftTestSpark.tmpDir("graft-cdc-compact-chk")
    graft.streaming.CdcStream.init(base, tableDir)
    val input =
      MemoryStream[(Long, Long, String, String, String, String, Long)]
    val q = graft.streaming.CdcStream.maintain(
        input.toDF().toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"),
        tableDir)
      .option("checkpointLocation", chk)
      .start()
    try {
      def snapNow() = asSet(
        graft.streaming.CdcStream.readSnapshot(spark, tableDir))
      assert(snapNow() === baseSet)
      val v = graft.streaming.CdcStream.latestVersion(tableDir).get
      // phase 1: compacted copy lands next to the snapshot files —
      // every row of the current version is now visible TWICE
      val snapshot = graft.operators.Compaction.compactWrite(
        spark, s"$tableDir/v$v", None)
      assert(snapshot.size >= 2, "fixture must actually consolidate files")
      assert(snapNow() === baseSet,
        "readSnapshot must absorb the double-visibility window")
      // a maintenance batch applies BETWEEN the phases: maintain reads
      // the doubled version as its previous state and must converge
      input.addData(b1); q.processAllAvailable()
      val expected1 = asSet(graft.operators.Cdc.applyChangeset(
        base, b1.toDF("doc_id", "seq", "op", "text", "lang", "source",
          "n_chars"), "doc_id"))
      assert(snapNow() === expected1,
        "a merge over the mid-compaction doubled version must be exact")
      // phase 2: the old version's snapshot files drop; current
      // version (v after b1) is untouched
      graft.operators.Compaction.compactCommit(spark, snapshot)
      input.addData(b2); q.processAllAvailable()
      val expectedAll = asSet(graft.operators.Cdc.applyChangeset(
        base, (b1 ++ b2).toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"), "doc_id"))
      assert(snapNow() === expectedAll)
      // the committed version dir now holds ONLY compacted files
      val left = new java.io.File(s"$tableDir/v$v").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
      assert(left.nonEmpty && left.forall(_.startsWith("compact-")),
        s"v$v after commit: $left")
    } finally q.stop()
  }

  test("CdcStream vacuum: retention keeps the newest N version dirs, " +
      "the live snapshot is untouched, and maintenance continues") {
    implicit val ctx = spark.sqlContext
    val (base, b1, b2) = cdcFixture()
    val tableDir = GraftTestSpark.tmpDir("graft-cdc-vacuum")
    val chk = GraftTestSpark.tmpDir("graft-cdc-vacuum-chk")
    graft.streaming.CdcStream.init(base, tableDir)
    val input =
      MemoryStream[(Long, Long, String, String, String, String, Long)]
    val q = graft.streaming.CdcStream.maintain(
        input.toDF().toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"),
        tableDir)
      .option("checkpointLocation", chk)
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      def versionDirs(): Seq[String] = new java.io.File(tableDir)
        .listFiles().filter(f => f.isDirectory && f.getName.startsWith("v"))
        .map(_.getName).toSeq.sorted
      assert(versionDirs().size === 2) // v-1 (init) + the b1 version
      val removed = graft.streaming.CdcStream.vacuum(spark, tableDir)
      assert(removed === 1)
      assert(versionDirs().size === 1, "only the current version remains")
      val expected1 = asSet(graft.operators.Cdc.applyChangeset(
        base, b1.toDF("doc_id", "seq", "op", "text", "lang", "source",
          "n_chars"), "doc_id"))
      assert(asSet(graft.streaming.CdcStream.readSnapshot(spark, tableDir))
        === expected1, "vacuum must not touch the live snapshot")
      // maintenance continues over the vacuumed table
      input.addData(b2); q.processAllAvailable()
      val expectedAll = asSet(graft.operators.Cdc.applyChangeset(
        base, (b1 ++ b2).toDF("doc_id", "seq", "op", "text", "lang",
          "source", "n_chars"), "doc_id"))
      assert(asSet(graft.streaming.CdcStream.readSnapshot(spark, tableDir))
        === expectedAll)
    } finally q.stop()
  }

  test("PairTableStream: durable bucketed maintenance equals the full " +
      "mine; per-bucket two-phase compaction is safe with a micro-batch " +
      "landing between the phases") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.PairTableStream
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val (part1, rest) = rows.partition(_._1 % 3 == 0)
    val (part2, part3) = rest.partition(_._1 % 3 == 1)
    val tableDir = GraftTestSpark.tmpDir("graft-ptbl")
    val chk = GraftTestSpark.tmpDir("graft-ptbl-chk")
    def fullMine(sub: Seq[(Long, String)]): Set[(Long, Long, Long, Double)] =
      GraftTestSpark.withCaches {
        graft.operators.Dedup.jaccardPairs(sub.toDF("doc_id", "text"),
            graft.operators.PairTable.ShingleN,
            graft.operators.PairTable.Threshold)
          .select($"id_a", $"id_b", $"shared", $"jaccard")
          .as[(Long, Long, Long, Double)].collect().toSet
      }
    def got(): Set[(Long, Long, Long, Double)] =
      PairTableStream.read(spark, tableDir)
        .as[(Long, Long, Long, Double)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = PairTableStream.maintain(
        input.toDF().toDF("doc_id", "text"), tableDir)
      .option("checkpointLocation", chk)
      .start()
    try {
      input.addData(part1); q.processAllAvailable()
      input.addData(part2); q.processAllAvailable()
      val exp12 = fullMine(part1 ++ part2)
      assert(exp12.nonEmpty, "fixture must mine pairs")
      assert(got() === exp12,
        "maintained table must equal the from-scratch mine")
      val v = graft.streaming.CdcStream.latestVersion(tableDir).get
      // phase 1, per-bucket units: doubled pairs inside the window
      val snapshot = graft.operators.Compaction.compactWrite(
        spark, s"$tableDir/v$v", Some("bucket="))
      assert(snapshot.size >= 2, "fixture must actually consolidate files")
      assert(got() === exp12,
        "the (id_a, id_b) dedup must absorb the double-visibility window")
      // a micro-batch lands between the phases -> NEW version; the
      // commit of the old version's snapshot must not disturb it
      input.addData(part3); q.processAllAvailable()
      val expAll = fullMine(rows)
      assert(got() === expAll,
        "post-batch table must equal the full mine over all docs")
      graft.operators.Compaction.compactCommit(spark, snapshot)
      assert(got() === expAll, "commit must be invisible to readers")
      // serving-path lookup: the bucket predicate must PRUNE the scan
      // (PartitionFilters) and return exactly the key's pairs
      val someKey = expAll.head._1
      val keyed = PairTableStream.readForKey(spark, tableDir, someKey)
      val plan = keyed.queryExecution.executedPlan.toString
      val partFilters = "PartitionFilters: \\[[^\\]]*\\]".r
        .findAllIn(plan).toSeq
      assert(partFilters.exists(_.contains("bucket")),
        s"bucket predicate must reach PartitionFilters: $partFilters")
      assert(keyed.as[(Long, Long, Long, Double)].collect().toSet ===
        expAll.filter(_._1 == someKey))
    } finally q.stop()
  }

  test("S1 builder chain end-to-end: graft-kafka-test DSv2 source honors " +
      "subscribe / startingOffsets / maxOffsetsPerTrigger") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{GraftKafkaTestSource, KafkaSource}
    GraftKafkaTestSource.clear()
    def pub(topic: String, id: Long, user: Long, v: Double): Unit =
      GraftKafkaTestSource.publish(topic,
        json(id, "2024-01-01 10:00:00", user, "purchase", v)
          .getBytes("UTF-8"))
    pub("bitcoin-tweets", 1, 7, 200.0)
    pub("bitcoin-tweets", 2, 7, 10.0)
    pub("bitcoin-tweets", 3, 8, 500.0)
    pub("ethereum-tweets", 4, 9, 175.0)
    pub("ethereum-tweets", 5, 9, 20.0)
    // KafkaSource.stream's REAL builder path — format/subscribe/
    // startingOffsets/maxOffsetsPerTrigger .load() — then the S2/S3
    // decode chain and a stateless alert: the full S1 topology with
    // only the format string differing from a real cluster
    val raw = KafkaSource.stream(spark, "test:9092",
      Seq("bitcoin-tweets", "ethereum-tweets"),
      startingOffsets = "earliest", maxOffsetsPerTrigger = Some(2L),
      format = "graft-kafka-test")
    val alerts = StreamOps.highValueAlerts(
      StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(raw)), 150.0)
    val q = alerts.writeStream.format("memory").queryName("s1_chain")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s1_chain").collect()
      .map(r => r.getDouble(4)).toSet
    assert(got === Set(200.0, 500.0, 175.0))
    // admission control honored: 5 records at maxOffsetsPerTrigger=2
    // means >= 3 micro-batches, none above 2 input rows
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.forall(_.numInputRows <= 2),
      s"batch sizes: ${batches.map(_.numInputRows).toSeq}")
    assert(batches.map(_.numInputRows).sum === 5)
    assert(batches.length >= 3)
  }

  test("S1 watermarked windowed agg through the DSv2 source: append " +
      "finality holds across admission-controlled micro-batches and topics") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{GraftKafkaTestSource, KafkaSource}
    GraftKafkaTestSource.clear()
    def pub(topic: String, id: Long, ts: String): Unit =
      GraftKafkaTestSource.publish(topic,
        json(id, ts, 7, "purchase", 1.0).getBytes("UTF-8"))
    // window W1 [10:00,10:01): 2 events on A + 1 on B; W2 [10:01,10:02):
    // 2 on A; one 10:10 event on B pushes the watermark to 10:08 so W1
    // and W2 finalize while the 10:10 window itself stays open
    pub("bitcoin-tweets", 1, "2024-01-01 10:00:05")
    pub("bitcoin-tweets", 2, "2024-01-01 10:00:40")
    pub("ethereum-tweets", 3, "2024-01-01 10:00:59")
    pub("bitcoin-tweets", 4, "2024-01-01 10:01:10")
    pub("bitcoin-tweets", 5, "2024-01-01 10:01:50")
    pub("ethereum-tweets", 6, "2024-01-01 10:10:00")
    // maxOffsetsPerTrigger=2 forces >= 3 micro-batches, so the
    // watermark must PROGRESS batch-to-batch through the real source
    // path, not jump once as a single MemoryStream batch would
    val raw = KafkaSource.stream(spark, "test:9092",
      Seq("bitcoin-tweets", "ethereum-tweets"),
      startingOffsets = "earliest", maxOffsetsPerTrigger = Some(2L),
      format = "graft-kafka-test")
    val agg = StreamOps.watermarked(
        StreamOps.withEventTime(StreamOps.decodeJsonEnvelope(raw)))
      .groupBy(window($"ts", "60 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "HH:mm").as("w"), $"n")
    val q = agg.writeStream.format("memory").queryName("s1_windows")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s1_windows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("10:00" -> 3L, "10:01" -> 2L),
      s"watermark-finalized windows only (got $got)")
  }

  test("S1 checkpoint restart through the DSv2 source: restored " +
      "offsets resume exactly after the drained records, no re-reads") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{GraftKafkaTestSource, KafkaSource}
    GraftKafkaTestSource.clear()
    def pub(ids: Range): Unit = ids.foreach(i =>
      GraftKafkaTestSource.publish("bitcoin-tweets",
        json(i, "2024-01-01 10:00:00", 7, "purchase", i)
          .getBytes("UTF-8")))
    val out = GraftTestSpark.tmpDir("graft-ktest-out")
    val ckpt = GraftTestSpark.tmpDir("graft-ktest-chk")
    def drain(): Unit = {
      val ev = KafkaSource.events(spark, "test:9092",
        Seq("bitcoin-tweets"), format = "graft-kafka-test")
      // events() defaults to startingOffsets=latest — on a RESTART the
      // checkpointed offsets must win over that initial-offset policy
      val q = ev.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    pub(1 to 4)
    // incarnation 1 reads from earliest and drains 1-4
    val q1 = graft.streaming.StreamOps.withEventTime(
        graft.streaming.StreamOps.decodeJsonEnvelope(
          KafkaSource.stream(spark, "test:9092", Seq("bitcoin-tweets"),
            startingOffsets = "earliest", format = "graft-kafka-test")))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() === 4)
    // two more records land while no query is running
    pub(5 to 6)
    // incarnation 2 on the same checkpoint: deserialized offsets must
    // resume at 4 — not 'earliest' (re-reads would duplicate 1-4) and
    // not 'latest' (which would skip 5-6)
    drain()
    val ids = spark.read.parquet(out).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 6L),
      s"exactly-once across restart through the DSv2 source: $ids")
  }

  test("S1 startingOffsets=latest (the reference default) skips " +
      "pre-published records and picks up post-start publishes") {
    import graft.streaming.{GraftKafkaTestSource, KafkaSource}
    GraftKafkaTestSource.clear()
    GraftKafkaTestSource.publish("bitcoin-tweets",
      json(1, "2024-01-01 10:00:00", 7, "purchase", 1.0).getBytes("UTF-8"))
    // KafkaSource.events: the full source->records pipeline with the
    // default latest offsets (job2.py:133's contract)
    val events = KafkaSource.events(spark, "test:9092",
      Seq("bitcoin-tweets"), format = "graft-kafka-test")
    val q = events.writeStream.format("memory").queryName("s1_latest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("s1_latest").isEmpty,
        "latest must skip the pre-published record")
      GraftKafkaTestSource.publish("bitcoin-tweets",
        json(2, "2024-01-01 10:05:00", 7, "view", 2.0).getBytes("UTF-8"))
      q.processAllAvailable()
      val ids = spark.table("s1_latest").collect().map(_.getLong(0)).toSet
      assert(ids === Set(2L))
    } finally q.stop()
  }

  test("streaming data-quality monitor: per-batch constraint STATES " +
      "appended to a metrics table merge to the exact batch suite " +
      "(the mergeable-monoid contract, grouped by source)") {
    implicit val ctx = spark.sqlContext
    import graft.operators._
    val suite = Seq(
      Completeness("text", 0.99),
      MinBound("n_chars", 40.0),
      MaxBound("n_chars", 500.0),
      MatchRatio("lang", "^(en|de|fr|es)$", 0.9),
      SizeMin(1.0),
      // uniqueness IS monitorable via the mergeable HLL slice — the
      // register-wise max across batch states must reproduce the
      // one-shot sketch exactly, so merge ≡ batch below covers it
      ApproxUniqueRatio("doc_id", 0.5))
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val rows = docs.as[(Long, String, String, String, Long)]
      .collect().toSeq
    val chunks = rows.grouped(math.max(1, rows.size / 3)).toSeq
    val stateDir = GraftTestSpark.tmpDir("graft-dq-state")
    val chk = GraftTestSpark.tmpDir("graft-dq-chk")
    val input = MemoryStream[(Long, String, String, String, Long)]
    // the metrics repository: one SMALL state row per (batch, source)
    // — the corpus never re-scans
    val q = graft.streaming.QualityMonitor.maintain(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        stateDir, suite, Seq("source"))
      .option("checkpointLocation", chk)
      .start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val merged = graft.streaming.QualityMonitor.report(
        spark, stateDir, suite, Seq("source"))
      val batchRun = Constraints.run(docs, suite, Seq("source"))
      assert(merged.collect().toSet === batchRun.collect().toSet,
        "incremental metrics must equal the single-pass batch suite")
      // the monitor actually observed per-batch granularity, and one
      // batch's own slice equals the suite run over just that chunk
      assert(new java.io.File(stateDir).listFiles()
        .count(_.getName.startsWith("batch=")) === chunks.size)
      val slice0 = graft.streaming.QualityMonitor.batchReport(
        spark, stateDir, 0L, suite, Seq("source"))
      val chunk0 = Constraints.run(
        chunks.head.toDF("doc_id", "text", "lang", "source", "n_chars"),
        suite, Seq("source"))
      assert(slice0.collect().toSet === chunk0.collect().toSet,
        "per-batch slice must equal the suite over that batch alone")
      // non-mergeable constraints are rejected up front
      intercept[IllegalArgumentException] {
        graft.streaming.QualityMonitor.maintain(
          input.toDF().toDF("doc_id", "text", "lang", "source",
            "n_chars"),
          stateDir, Seq(UniqueRatio("doc_id", 1.0)))
      }
    } finally q.stop()
  }

  test("quality drift localizes to its batch: one corrupted batch " +
      "fails its OWN batchReport while the lifetime aggregate absorbs " +
      "it — the reason the monitor keeps per-batch granularity") {
    implicit val ctx = spark.sqlContext
    import graft.operators._
    val suite = Seq(
      MatchRatio("lang", "^(en|de|fr|es|zh)$", 0.95),
      MaxBound("n_chars", 600.0))
    val good = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    // the bad batch: unknown lang + inflated lengths on every row —
    // small enough (2 of ~52 rows) that the lifetime ratio stays
    // above threshold while the batch's own ratio is 0
    val bad = good.take(2).map(r =>
      (r._1 + 1000000L, r._2, "xx", r._4, r._5 + 10000L))
    val stateDir = GraftTestSpark.tmpDir("graft-dq-drift")
    val chk = GraftTestSpark.tmpDir("graft-dq-drift-chk")
    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = graft.streaming.QualityMonitor.maintain(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        stateDir, suite)
      .option("checkpointLocation", chk)
      .start()
    try {
      Seq(good.take(30), bad, good.drop(30)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      def failures(rep: org.apache.spark.sql.DataFrame): Set[String] =
        rep.where(!col("passed")).select("constraint_type")
          .as[String].collect().toSet
      assert(failures(graft.streaming.QualityMonitor.batchReport(
        spark, stateDir, 0L, suite)) === Set.empty)
      assert(failures(graft.streaming.QualityMonitor.batchReport(
        spark, stateDir, 1L, suite))
        === Set("match_ratio", "max_bound"),
        "the corrupted batch must fail in its own slice")
      assert(failures(graft.streaming.QualityMonitor.batchReport(
        spark, stateDir, 2L, suite)) === Set.empty)
      // the lifetime ratio absorbs the 2 bad rows into ~502 total
      // (the alarm a lifetime-only monitor would MISS)...
      val lifetime = graft.streaming.QualityMonitor.report(
        spark, stateDir, suite)
      assert(!failures(lifetime).contains("match_ratio"),
        "ratio drift is invisible in the lifetime aggregate")
      // ...while the max bound, a lifetime-monotone metric, still trips
      assert(failures(lifetime).contains("max_bound"))
    } finally q.stop()
  }

  test("distribution drift: the monitored HistogramDrift constraint " +
      "catches a shifted batch that EVERY ratio constraint misses " +
      "(lengths redistribute inside the old bounds)") {
    implicit val ctx = spark.sqlContext
    import graft.operators._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val suite = Constraints.suggest(docs,
      completenessCols = Seq("text"),
      setCols = Seq(("lang", 5)),
      histCols = Seq(("n_chars", 8)))
    assert(suite.exists(_.isInstanceOf[HistogramDrift]),
      "suggest must emit the histogram constraint from the baseline")
    val good = docs.as[(Long, String, String, String, Long)]
      .collect().toSeq
    // the bad batch: SAME rows except n_chars integer-squashed — the
    // ratio metrics (completeness, in-set) equal the baseline's own
    // thresholds exactly, so only the distribution can alarm
    val shifted = good.map(r =>
      (r._1 + 500000L, r._2, r._3, r._4, math.max(1L, r._5 / 3)))
    val stateDir = GraftTestSpark.tmpDir("graft-dq-hist")
    val chk = GraftTestSpark.tmpDir("graft-dq-hist-chk")
    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = graft.streaming.QualityMonitor.maintain(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        stateDir, suite)
      .option("checkpointLocation", chk)
      .start()
    try {
      Seq(good, shifted, good).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      def failures(batch: Long): Set[String] =
        graft.streaming.QualityMonitor.batchReport(
            spark, stateDir, batch, suite)
          .where(!col("passed")).select("constraint_type")
          .as[String].collect().toSet
      // batches of the baseline itself: bins equal the baseline bins
      // exactly, every PSI term is round(1e6·0·ln 1) = 0
      assert(failures(0L) === Set.empty)
      assert(failures(2L) === Set.empty)
      assert(failures(1L) === Set("histogram_drift"),
        "the shifted batch must fail the histogram constraint and " +
          "ONLY the histogram constraint")
    } finally q.stop()
  }

  test("quality-gated live topology: enforce routes clean rows to the " +
      "exactly-once parquet table and violations to the index sink, " +
      "the monitor rides the clean stream, and the whole composition " +
      "survives a graceful stop + restart") {
    import graft.operators._
    import graft.streaming.{QualityMonitor, Sinks}
    val suite = Seq(
      Completeness("text", 0.99),
      MinBound("n_chars", 40.0),
      MaxBound("n_chars", 500.0),
      MatchRatio("lang", "^(en|de|fr|es)$", 0.9),
      ApproxUniqueRatio("doc_id", 0.5))
    val all = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val (phase1, phase2) = all.splitAt(all.size / 2)
    val inDir = GraftTestSpark.tmpDir("graft-qg-in")
    val cleanDir = GraftTestSpark.tmpDir("graft-qg-clean")
    val quarRoot = GraftTestSpark.tmpDir("graft-qg-quar")
    val metricsDir = GraftTestSpark.tmpDir("graft-qg-metrics")
    val chk = (1 to 4).map(i => GraftTestSpark.tmpDir(s"graft-qg-chk$i"))
    val alerts = scala.collection.mutable.ArrayBuffer.empty[Long]

    def feed(rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(inDir)

    def startTopology(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG")
        .parquet(inDir)
      val tagged = Constraints.enforce(src, suite)
      val clean = tagged.where(size($"violations") === 0)
        .drop("violations")
      val quarantine = tagged.where(size($"violations") > 0)
        .select($"doc_id", $"source",
          concat_ws(",", $"violations").as("reasons"))
      val qClean = clean.writeStream // exactly-once parquet table
        .format("parquet").option("path", cleanDir)
        .option("checkpointLocation", chk(0)).start()
      val qQuar = quarantine.writeStream // at-least-once index docs
        .foreachBatch(Sinks.indexSinkPartitions(
          () => new Sinks.FileIndexSink(quarRoot), "quarantine"))
        .option("checkpointLocation", chk(1)).start()
      val qMon = QualityMonitor.maintain(clean, metricsDir, suite,
          Seq("source"))
        .option("checkpointLocation", chk(2)).start()
      val qAlert = quarantine.writeStream // stateless per-trigger alert
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val n = b.count(); if (n > 0) alerts.synchronized {
            alerts += n }; ()
        }
        .option("checkpointLocation", chk(3)).start()
      Seq(qClean, qQuar, qMon, qAlert)
    }

    feed(phase1)
    val run1 = startTopology()
    try run1.foreach(_.processAllAvailable())
    finally run1.foreach(_.stop()) // graceful stop mid-ingest
    feed(phase2)
    val run2 = startTopology() // same checkpoints: resume, not replay
    try run2.foreach(_.processAllAvailable())
    finally run2.foreach(_.stop())

    // (a) clean + quarantine = input, exactly once on the clean side
    val cleanIds = spark.read.parquet(cleanDir)
      .select("doc_id").as[Long].collect().toSeq
    assert(cleanIds.distinct.size === cleanIds.size,
      "exactly-once clean table: no duplicates across the restart")
    val quarIds = spark.read.json(s"$quarRoot/quarantine/docs-*.jsonl")
      .select("doc_id").as[Long].collect().toSeq.distinct
    assert(cleanIds.toSet.intersect(quarIds.toSet) === Set.empty,
      "a row routes to exactly one side")
    assert(cleanIds.toSet ++ quarIds.toSet === all.map(_._1).toSet,
      "clean + quarantine must account for every ingested row")
    assert(quarIds.nonEmpty && alerts.nonEmpty,
      "the fixture really exercises the quarantine path")
    // quarantined docs carry their reasons
    assert(spark.read.json(s"$quarRoot/quarantine/docs-*.jsonl")
      .where(length($"reasons") === 0).count() === 0)

    // (b) the lifetime report equals the batch suite over everything
    // the clean table ingested — through the stop/restart boundary
    val lifetime = QualityMonitor.report(spark, metricsDir, suite,
      Seq("source"))
    val batch = Constraints.run(spark.read.parquet(cleanDir), suite,
      Seq("source"))
    assert(lifetime.collect().toSet === batch.collect().toSet,
      "merge-of-batch-states must equal the one-shot suite")
  }}


/** Static landing zone for executor-side sink writes (local-mode tests
  * share one JVM). Records the TaskContext partition id per indexDocs
  * call to prove docs were shipped inside tasks, not via driver
  * collect (-1 would mean no task context = driver side). */
object ExecutorSinkProbe {
  val docs =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Any])]
  val partitions = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
  def reset(): Unit = { docs.clear(); partitions.clear() }
}

class ExecutorProbeSink extends graft.streaming.Sinks.IndexSink
    with Serializable {
  override def ensureIndex(name: String,
      mapping: Map[String, String]): Unit = ()
  override def indexDocs(index: String,
      batch: Iterator[Map[String, Any]]): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    ExecutorSinkProbe.partitions.add(if (tc == null) -1 else tc.partitionId())
    batch.foreach(d => ExecutorSinkProbe.docs.add(index -> d))
  }

}
