package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S8: the reference's Kafka-producer role as an engine-side replay
  * source. The reference replays CSV rows to Kafka as JSON at a fixed
  * `--rate` (kafka_producer_bitcoin.py:92-124, default 300 msgs/min;
  * ethereum 150/min) — here the same contract is a streaming
  * DataFrame: a bounded fixture replayed at `rowsPerSecond`, for
  * end-to-end latency tests of the streaming topologies without a
  * broker.
  *
  * Mechanics: the built-in `rate` source emits ticks (timestamp,
  * value 0,1,2,…); tick k releases the k-th fixture row (deterministic
  * order on `event_id`). The fixture is broadcast — each micro-batch
  * hash-joins its tick range against it with no shuffle of the
  * replayed data. Scale note: fixtures are bounded by construction
  * (they play a producer's working set, 100k rows in the reference);
  * this is a test/latency harness, not a data-plane operator.
  */
object Replay {

  /** Replay `fixture` (bounded) at `rowsPerSecond`, ordered by
    * `event_id` (ties broken by the full row struct for determinism).
    * The stream ends silently once ticks pass the fixture size —
    * matching the reference producer's fixed `--duration` behavior. */
  def rateLimited(spark: SparkSession, fixture: DataFrame,
      rowsPerSecond: Int): DataFrame = {
    val cols = fixture.columns
    val w = Window.orderBy(col("event_id"), struct(cols.map(col): _*))
    val indexed = fixture
      .withColumn("_idx", row_number().over(w).cast("long") - 1)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .join(broadcast(indexed), col("value") === col("_idx"))
      .select(cols.map(col): _*)
  }
}
