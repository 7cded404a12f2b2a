package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics
import graft.streaming.{ScdAsof, StateStores}

/** State-store-backed SCD as-of enrichment (the big-dim regime of
  * asofEnrichScd): streaming output must equal the batch as-of join
  * over the same fact/dim history, despite out-of-order arrival of
  * dim versions across micro-batches. The streams run on a derived
  * session with RocksDB state stores (transformWithState needs them);
  * the shared test session's conf is never written. */
class ScdAsofSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def rocksSession() = {
    val rs = PlanBridge.cloneSession(spark)
    StateStores.useRocksDb(rs)
    rs
  }

  test("streaming SCD as-of equals the batch as-of join, resolves only " +
      "watermark-passed facts, and prunes superseded versions") {
    val rs = rocksSession()
    implicit val ctx = rs.sqlContext
    val factsIn = MemoryStream[(Long, Long, String)]
    val dimsIn = MemoryStream[(Long, String, String)]
    val facts = factsIn.toDF().toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withWatermark("ts", "2 hours")
    val dims = dimsIn.toDF().toDF("user_id", "ts_s", "tier")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withWatermark("ts", "2 hours")

    val q = ScdAsof.asofEnrichScdState(facts, dims, rs)
      .writeStream.format("memory").queryName("scd_t")
      .outputMode("append").start()
    try {
      // batch 1: the LATER dim version arrives first, with two facts
      factsIn.addData((2L, 1L, "2024-01-01 10:30:00"),
        (3L, 1L, "2024-01-01 10:29:00"))
      dimsIn.addData((1L, "2024-01-01 10:30:00", "B"))
      q.processAllAvailable()
      // nothing resolvable yet: watermark lags 2 h behind 10:30
      assert(rs.table("scd_t").count() === 0)

      // batch 2: the EARLIER u1 version + remaining facts, all still
      // ahead of the watermark
      factsIn.addData((1L, 1L, "2024-01-01 10:05:00"),
        (5L, 2L, "2024-01-01 10:20:00"),
        (4L, 2L, "2024-01-01 10:05:00"),
        (6L, 3L, "2024-01-01 10:15:00"))
      dimsIn.addData((1L, "2024-01-01 10:00:00", "A"),
        (2L, "2024-01-01 10:10:00", "C"))
      q.processAllAvailable()

      // batch 3: watermark pushers on BOTH streams (union watermark
      // is the min) — 20:00 - 2 h = 18:00 releases every real fact
      factsIn.addData((99L, 9L, "2024-01-01 20:00:00"))
      dimsIn.addData((9L, "2024-01-01 20:00:00", "Z"))
      q.processAllAvailable()

      val got = rs.table("scd_t")
        .select(col("event_id"), col("asof_tier"))
        .as[(Long, String)].collect().toSet

      // batch replay of the same history through the batch operator
      val factsB: DataFrame = Seq(
        (1L, 1L, "2024-01-01 10:05:00"), (2L, 1L, "2024-01-01 10:30:00"),
        (3L, 1L, "2024-01-01 10:29:00"), (4L, 2L, "2024-01-01 10:05:00"),
        (5L, 2L, "2024-01-01 10:20:00"), (6L, 3L, "2024-01-01 10:15:00"))
        .toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      val dimsB: DataFrame = Seq(
        (1L, "2024-01-01 10:00:00", "A"), (1L, "2024-01-01 10:30:00", "B"),
        (2L, "2024-01-01 10:10:00", "C"), (9L, "2024-01-01 20:00:00", "Z"))
        .toDF("user_id", "ts_s", "tier")
        .withColumn("d_ts", to_timestamp(col("ts_s"))).drop("ts_s")
      val expected = Analytics.asofJoin(factsB, dimsB, "d_ts", Seq("tier"))
        .select(col("event_id"), col("asof_tier"))
        .as[(Long, String)].collect().toSet

      assert(got === expected)
      // spot-check the semantics the set compare rests on
      assert(got.contains((2L, "B")), "inclusive <= at equal timestamps")
      assert(got.contains((3L, "A")), "10:29 predates the B version")
      assert(got.contains((6L, null)), "no version -> null, fact still emits")
      assert(!got.exists(_._1 == 99L),
        "the pusher fact is beyond the watermark and must stay pending")

      // bounded state: superseded u1 version A is pruned, so total
      // state rows stay small (latest version per key + 1 pending)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows > 0 && stateRows <= 16,
        s"state should stay bounded, saw $stateRows rows")
    } finally q.stop()
  }

  test("checkpoint restart mid-backlog: buffered facts, versions and " +
      "timers recover, enriched output is exactly-once") {
    // T11 applied to the newest stateful operator: incarnation 1
    // ingests the WHOLE fact/dim history but terminates with every
    // fact still buffered in RocksDB state (the watermark never
    // reaches them); incarnation 2 restarts against the same
    // checkpoint and ingests only the watermark pushers. Every real
    // fact must then emit exactly once, resolved against dim versions
    // that arrived in the PREVIOUS incarnation — proving buffered
    // facts, version history and the armed timer all survive restart.
    val rs = rocksSession()
    val factDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-scdr-f"))
    val dimDir = java.nio.file.Paths.get(GraftTestSpark.tmpDir("graft-scdr-d"))
    val outDir = GraftTestSpark.tmpDir("graft-scdr-out")
    val chkDir = GraftTestSpark.tmpDir("graft-scdr-chk")
    def writeFile(dir: java.nio.file.Path, name: String,
        lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", lines: _*).getBytes("UTF-8"))
    def run(): Unit = {
      val facts = rs.readStream
        .schema("event_id long, user_id long, ts_s string")
        .csv(factDir.toString)
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .withWatermark("ts", "2 hours")
      val dims = rs.readStream
        .schema("user_id long, ts_s string, tier string")
        .csv(dimDir.toString)
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .withWatermark("ts", "2 hours")
      val q = ScdAsof.asofEnrichScdState(facts, dims, rs)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", chkDir).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the same history as the parity test, later dim version first
    writeFile(factDir, "f1.csv", Seq(
      "2,1,2024-01-01 10:30:00", "3,1,2024-01-01 10:29:00",
      "1,1,2024-01-01 10:05:00", "5,2,2024-01-01 10:20:00",
      "4,2,2024-01-01 10:05:00", "6,3,2024-01-01 10:15:00"))
    writeFile(dimDir, "d1.csv", Seq(
      "1,2024-01-01 10:30:00,B", "1,2024-01-01 10:00:00,A",
      "2,2024-01-01 10:10:00,C"))
    run() // incarnation 1 terminates with ALL facts still pending
    val outSchema = "event_id long, user_id long, ts timestamp, asof_tier string"
    assert(spark.read.schema(outSchema).parquet(outDir).count() === 0,
      "fixture must stop MID-backlog: watermark (10:30 - 2h) cannot " +
        "have released any fact in incarnation 1")

    // incarnation 2: only the pushers (20:00 - 2h = 18:00 > all facts)
    writeFile(factDir, "f2.csv", Seq("99,9,2024-01-01 20:00:00"))
    writeFile(dimDir, "d2.csv", Seq("9,2024-01-01 20:00:00,Z"))
    run()

    val got = spark.read.schema(outSchema).parquet(outDir)
      .select($"event_id", $"asof_tier").as[(Long, String)].collect()
    // exactly-once: each fact appears once, none lost, none doubled
    assert(got.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"restart broke exactly-once: ${got.toSeq.sortBy(_._1)}")
    // and resolution used state written before the restart
    val expected = Analytics.asofJoin(
      Seq((1L, 1L, "2024-01-01 10:05:00"), (2L, 1L, "2024-01-01 10:30:00"),
        (3L, 1L, "2024-01-01 10:29:00"), (4L, 2L, "2024-01-01 10:05:00"),
        (5L, 2L, "2024-01-01 10:20:00"), (6L, 3L, "2024-01-01 10:15:00"))
        .toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s"),
      Seq((1L, "2024-01-01 10:00:00", "A"), (1L, "2024-01-01 10:30:00", "B"),
        (2L, "2024-01-01 10:10:00", "C"))
        .toDF("user_id", "ts_s", "tier")
        .withColumn("d_ts", to_timestamp(col("ts_s"))).drop("ts_s"),
      "d_ts", Seq("tier"))
      .select($"event_id", $"asof_tier").as[(Long, String)].collect().toSet
    assert(got.toSet === expected)
  }
}
