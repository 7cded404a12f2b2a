package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Caches, Dedup, PairTable}

/** Durable streaming maintenance of the BUCKETED near-dup pair table —
  * the on-disk twin of the in-memory foreachBatch maintenance
  * StreamingSpec proves, and the streaming half of
  * [[graft.operators.PairTable]]'s production-composition story
  * (consumers key on id_a; the layout keeps pairs grouped by an id_a
  * bucket so a consumer scan prunes to the buckets it needs).
  *
  * Copy-on-write versioned like [[CdcStream]] (the incremental
  * re-mine must be able to DROP stored pairs when an incoming batch
  * pushes a shingle over the stop-shingle df cap, which an append-only
  * layout cannot express): each micro-batch
  *
  *  1. archives its documents idempotently under
  *     `docs/batch=<id>/` (overwrite — a foreachBatch retry rewrites
  *     the same directory, so a crash between steps never
  *     double-counts the batch in the corpus);
  *  2. computes the UPDATED full pair set via
  *     [[Dedup.incrementalJaccardPairs]] (corpus = all archived
  *     batches strictly before this id — hash-identical to a full
  *     re-mine, q116's oracle contract);
  *  3. writes it as a new version dir `v<id>/bucket=N/...` and
  *     atomically swings the `_latest` pointer ([[CdcStream]]'s
  *     exactly-once pointer mechanics, shared).
  *
  * Version dirs inherit one file per shuffle partition per bucket —
  * the fragmentation the two-phase [[Compaction]] pattern removes
  * per bucket (with `partitionPrefix = "bucket="` each `bucket=N` dir
  * is an independent unit). [[read]] scans a pinned listing and dedups on
  * (id_a, id_b) only while that listing shows compaction's
  * write→commit window open — the window tolerance priced as a
  * transient cost, not a per-read shuffle.
  *
  * 100 TB shape: the pair table is pairs, not documents (tiny
  * relative to the corpus); mining cost per batch is the incremental
  * candidate work; the version write shuffles once on the bucket
  * column; compaction touches one bucket dir at a time.
  */
object PairTableStream {
  val NBuckets = 16

  private def docsDir(tablePath: String) = s"$tablePath/docs"

  private def priorBatchDirs(spark: SparkSession, tablePath: String,
      id: Long): Seq[String] = {
    val root = new Path(docsDir(tablePath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("batch="))
      .filter(_.getPath.getName.stripPrefix("batch=").toLong < id)
      .map(_.getPath.toString)
  }

  /** Wire a (doc_id, text) document stream into the maintained table,
    * mined at [[PairTable]]'s shingle size and threshold. Start + await
    * the returned writer. */
  def maintain(docs: DataFrame, tablePath: String): DataStreamWriter[Row] = {
    val spark = docs.sparkSession
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        val applied = CdcStream.latestVersion(tablePath)
        if (applied.forall(_ < id)) {
          val b = batch.toDF().select(col("doc_id"), col("text"))
          b.write.mode("overwrite")
            .parquet(s"${docsDir(tablePath)}/batch=$id")
          val prior = priorBatchDirs(spark, tablePath, id)
          val (n, threshold) = (PairTable.ShingleN, PairTable.Threshold)
          val pairs =
            if (prior.isEmpty) Dedup.jaccardPairs(b, n, threshold)
            else Dedup.incrementalJaccardPairs(
              spark.read.parquet(prior: _*), b, n, threshold)
          // the version write stays WIDE (a corpus-scale pair set
          // cannot funnel through few tasks), keyed on id_a; wide ×
          // bucket-partitioned = one file per (task, bucket) pair —
          // exactly the per-bucket fragmentation compaction exists to
          // remove
          val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
          pairs.withColumn("bucket", pmod(col("id_a"), lit(NBuckets)))
            .repartition(width, col("id_a"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$tablePath/v$id")
          CdcStream.writePointer(tablePath, id)
          Caches.releaseAll()
        } // else: retry of an applied batch — skip (exactly-once)
        ()
    }
  }

  /** Read version files through a PINNED listing rooted at `dir` (so
    * the partition-column discovery keeps `bucket`), deduping on
    * (id_a, id_b) ONLY while the listing shows a compaction's
    * write→commit window open in some bucket unit — the mine emits
    * each pair once, so outside the window readers pay no dedup
    * shuffle for the compaction tolerance. */
  private def readPinned(spark: SparkSession, baseDir: String,
      listDir: String): Option[DataFrame] = {
    val (files, windowOpen) =
      graft.operators.Compaction.pinnedListing(spark, listDir)
    if (files.isEmpty) None
    else {
      val raw = spark.read.option("basePath", baseDir).parquet(files: _*)
      Some(if (windowOpen) raw.dropDuplicates("id_a", "id_b") else raw)
    }
  }

  /** The maintained pair table as of the latest committed version
    * (id_a, id_b, shared, jaccard). Scans a pinned listing and dedups
    * only inside the compaction window — see [[readPinned]]. */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val v = CdcStream.latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    val dir = s"$tablePath/v$v"
    readPinned(spark, dir, dir)
      .getOrElse(spark.read.parquet(dir))
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
  }

  /** Bucket-pruned lookup of one document's pairs — the serving-path
    * read that makes the bucketed layout pay: the `bucket` partition
    * predicate prunes the scan to ONE `bucket=N` directory
    * (PartitionFilters, asserted in StreamingSpec), so a keyed lookup
    * opens 1/NBuckets of the table's files regardless of table size.
    * Same (id_a, id_b) dedup tolerance as [[read]]. */
  def readForKey(spark: SparkSession, tablePath: String, idA: Long)
      : DataFrame = {
    val v = CdcStream.latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    val dir = s"$tablePath/v$v"
    val b = ((idA % NBuckets) + NBuckets) % NBuckets
    // the pinned listing itself prunes to the ONE bucket=N dir, so the
    // driver-side metadata cost of a keyed lookup is 1/NBuckets of the
    // table's files, matching the scan's PartitionFilters prune
    readPinned(spark, dir, s"$dir/bucket=$b")
      .getOrElse(spark.read.parquet(dir))
      .where(col("bucket") === b)
      .where(col("id_a") === idA)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
  }
}
