package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance for the decayed-trending leaderboard (the
  * ingest twin of q180, the way [[SearchIngest]] twins q160): events
  * arrive as a stream; each micro-batch folds to (user_id, day, n)
  * partial counts — ADDITIVE under append, so no state store is
  * needed and the decay NEVER has to be "aged" in place (the classic
  * decayed-counter pitfall): partials store undecayed integers, and
  * the right-shift decay is applied at SERVE time against the max day
  * seen, so serving through the maintained partials is EXACTLY the
  * batch [[graft.operators.Analytics.decayedTrending]] over all
  * events seen so far.
  *
  * Exactly-once: every batch writes its own `batch=<id>` directory
  * with overwrite, so a foreachBatch retry rewrites the same files
  * instead of double-appending (SearchIngest's contract).
  *
  * Scale shape: per batch one keyed aggregation over the BATCH's
  * events; serve-time reads are an ordinary partitioned scan of
  * day-partial files re-aggregated by (user, day) — the shuffle is
  * |users|×|days|-sized, not event-sized.
  */
object TrendIngest {

  /** Idempotent per-batch fold — exposed so retries are testable.
    * `batch` must carry (user_id, day). */
  def applyBatch(batch: DataFrame, dir: String, id: Long): Unit =
    batch
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$dir/daily/batch=$id")

  /** Wire a (user_id, day) event stream into the partials dir. */
  def ingest(events: DataFrame, dir: String): DataStreamWriter[Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        applyBatch(batch.toDF(), dir, id)
    }

  /** Serve the current top 20 through the maintained partials. */
  def serveTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.decayedTrending(
      spark.read.parquet(s"$dir/daily")
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("n")).as("n")))
}
