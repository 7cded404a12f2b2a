package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Relevance

/** Streaming ingest for the BM25 retrieval index (the search-engine
  * twin of q160's batch build): documents arrive as a stream, each
  * micro-batch's postings (term, doc_id, tf) and doc lengths append
  * to the maintained index. Because both artifacts are ADDITIVE under
  * document append ([[Relevance.bm25Postings]]), no state store is
  * needed — df and corpus stats are derived at serve time from the
  * accumulated postings, so serving through the maintained index is
  * EXACTLY the batch computation over all docs seen so far.
  *
  * Exactly-once: every batch writes to its own `batch=<id>`
  * subdirectory with overwrite, so a foreachBatch retry rewrites the
  * same files instead of double-appending.
  *
  * Scale shape: per batch, one keyed aggregation over the BATCH's
  * tokens (batch-sized, not corpus-sized); the corpus-scale read
  * happens only at serve time as an ordinary partitioned scan.
  */
object SearchIngest {

  /** Idempotent per-batch fold — exposed so retries are testable. */
  def applyBatch(batch: DataFrame, indexDir: String, id: Long): Unit = {
    val (post, lens) = Relevance.bm25Postings(batch)
    post.write.mode("overwrite").parquet(s"$indexDir/postings/batch=$id")
    lens.write.mode("overwrite").parquet(s"$indexDir/lens/batch=$id")
  }

  /** Wire a (doc_id, text) document stream into the index dir. */
  def ingest(docs: DataFrame, indexDir: String): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        applyBatch(batch.toDF(), indexDir, id)
    }

  def postings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/postings")
      .select("term", "doc_id", "tf")

  def docLens(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/lens").select("doc_id", "len")
}
