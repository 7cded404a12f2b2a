package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF vector index — the saved-index lifecycle that
  * completes the vector-store story (round-4 roadmap): [[Similarity]]
  * recomputes the centroid assignment per query; a production vector
  * store builds the index ONCE (the expensive full-corpus pass),
  * persists it, and serves every subsequent probe from the saved
  * layout.
  *
  * Layout on disk:
  *  - `path/centroids`: (id, vec array<double>) — the coarse
  *    quantizer, small by construction (nlist rows).
  *  - `path/assignments`: (neighbor_id, cv array<double>) PARTITIONED
  *    BY cent_id — one parquet directory per IVF bucket. This is the
  *    load-bearing choice: a probe filters on the probed bucket ids,
  *    so the scan touches only nprobe×queries partition directories
  *    and the other (nlist − probed) buckets are never opened. At
  *    100 TB the index is the full corpus re-laid-out; the probe reads
  *    the probed fraction of it (file-level partition pruning, visible
  *    as `PartitionFilters` in the scan node).
  *
  * Determinism: doubles round-trip parquet bit-exactly and the probe
  * replays [[Similarity.ivfTopK]]'s exact ranking arithmetic, so a
  * probe of the saved index EQUALS the in-memory compose — q134's
  * oracle-checked contract.
  */
object VectorIndex {

  /** A loaded index (both frames lazily read from the saved layout). */
  final case class Index(centroids: DataFrame, assignments: DataFrame)

  /** Build and persist the index: one full-corpus assignment pass
    * (broadcast the centroid set, deterministic nearest-centroid with
    * id tie-break — [[Similarity.nearestCentroids]]), written bucketed
    * by `cent_id`. `corpus`/`centroids`: (id, vec). */
  def write(corpus: DataFrame, centroids: DataFrame, path: String): Unit = {
    centroids
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
      .coalesce(1) // nlist rows — one file, one footer to open per probe
      .write.mode("overwrite").parquet(s"$path/centroids")
    // the vector's l2 norm is STORED with it (one extra double per
    // row): a probe scores dot/(qn*cn) without re-walking the stored
    // vector for its norm — the standard vector-store layout
    Similarity.withL2(
        Similarity.nearestCentroids(corpus, centroids, "neighbor_id",
          keep = 1).withColumnRenamed("v", "cv"), "cv", "cn")
      .write.mode("overwrite")
      .partitionBy("cent_id")
      .parquet(s"$path/assignments")
  }

  /** Incremental index maintenance — the nightly-embedding-ingest path
    * (the vector-store analogue of the q116 incremental pair-table
    * maintenance): assign ONLY the incoming vectors to the EXISTING
    * centroids (the coarse quantizer is fixed — re-fitting it would
    * invalidate every stored assignment) and append them into the
    * cent_id-partitioned layout. Cost scales with the increment, never
    * the stored corpus: the append touches only the partition
    * directories the new vectors land in, and the stored assignment
    * files are never read or rewritten. Because assignment to fixed
    * centroids is deterministic (6-dp rounded score, centroid-id
    * tie-break), build(base) + append(increment) is file-layout-
    * equivalent to build(base ∪ increment) — q138's oracle-checked
    * contract (a probe of the appended index EQUALS the in-memory
    * compose over the full corpus). */
  def append(increment: DataFrame, path: String): Unit = {
    val spark = increment.sparkSession
    val centroids = spark.read.parquet(s"$path/centroids")
    Similarity.withL2(
        Similarity.nearestCentroids(increment, centroids, "neighbor_id",
          keep = 1).withColumnRenamed("v", "cv"), "cv", "cn")
      .write.mode("append")
      .partitionBy("cent_id")
      .parquet(s"$path/assignments")
  }

  /** Online compaction of the appended index — the maintenance step
    * the streaming-ingest path ([[graft.streaming.Sinks.vectorIngest]])
    * makes necessary: every micro-batch append adds small files to the
    * partition dirs it touches, and a week of 30-second triggers turns
    * each bucket into thousands of footer-open costs per probe.
    *
    * SAFE UNDER CONCURRENT APPENDS AND PROBES, by construction:
    *
    *  1. write phase: per partition dir, SNAPSHOT the current file
    *     list, read exactly those files, write their rows back as
    *     ~128 MiB compacted files into the SAME dir under fresh
    *     names (via a dot-prefixed temp dir Spark's listing ignores,
    *     then rename — a parquet file is visible only once complete).
    *     Appends landing meanwhile create NEW files not in the
    *     snapshot — untouched.
    *  2. commit phase: delete exactly the snapshot files.
    *
    * Between the phases a reader sees every snapshot row TWICE (old
    * file + compacted copy). That is harmless to serving because
    * [[probe]] deduplicates on (query_id, neighbor_id) before
    * ranking — the layout contract that makes write-then-delete
    * compaction correct without a table format's manifest commit; at
    * 100 TB the same two phases run per-bucket (each bucket is an
    * independent unit, so compaction parallelizes and interleaves
    * with ingest at bucket granularity). StreamingSpec drives probe /
    * append / probe through both phases and pins result equality.
    *
    * This runs phase 1 and returns the pending compaction; its
    * [[PendingCompaction.commit]] is phase 2. Delegates to the
    * factored two-phase compactor ([[Compaction]] — same mechanics
    * shared with the CDC and pair-table maintenance). */
  private[graft] def compactWrite(spark: SparkSession, path: String)
      : PendingCompaction =
    Compaction.compactWrite(spark, s"$path/assignments", Some("cent_id="))

  /** Load a saved index. Partition-column type inference may narrow
    * `cent_id` to int; restore long so probe joins stay cast-free. */
  def read(spark: SparkSession, path: String): Index = Index(
    centroids = spark.read.parquet(s"$path/centroids"),
    assignments = spark.read.parquet(s"$path/assignments")
      .withColumn("cent_id", col("cent_id").cast("long")))

  /** Top-`k` cosine neighbors per query from the saved index, probing
    * each query's `nprobe` nearest buckets. Ranking arithmetic is
    * identical to [[Similarity.ivfTopK]] (4-dp rounding before rank,
    * id tie-breaks) — same inputs, same result.
    *
    * The probed bucket ids are collected to the driver to become a
    * LITERAL `cent_id IN (...)` predicate on the assignments scan —
    * that is what turns the filter into static file-level partition
    * pruning. The collect is bounded by min(queries×nprobe, nlist)
    * DISTINCT scalars (the probe set is small by construction; this is
    * an index LOOKUP path, not a pair-mining path — for corpus-scale
    * "query" sets use [[Similarity.cosineNearDupPairs]]), and
    * structurally capped at `maxProbeLiterals`: a pathological query
    * batch that probes more buckets than that falls back to joining
    * the assignments on `cent_id` directly — no driver materialization
    * at all, at the cost of losing static pruning (the join still
    * restricts rows; a batch that big is touching most of the index
    * anyway, so a full scan is the honest plan). */
  def probe(index: Index, queries: DataFrame, k: Int, nprobe: Int,
      maxProbeLiterals: Int = 4096): DataFrame = {
    val probed = Caches.persistTracked(Similarity.withL2(
      Similarity.nearestCentroids(queries, index.centroids, "query_id",
          keep = nprobe)
        .withColumnRenamed("v", "qv"), "qv", "qn"))
    // limit(cap+1) bounds the collect BEFORE it happens — the driver
    // never holds more than maxProbeLiterals+1 ids even when the probe
    // set is huge
    val buckets = probed.select(col("cent_id")).distinct()
      .limit(maxProbeLiterals + 1)
      .collect().map(_.getLong(0)).toSeq
    val pruned =
      if (buckets.length <= maxProbeLiterals)
        index.assignments.where(col("cent_id").isin(buckets: _*))
      else index.assignments
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probed.join(pruned, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosineNC(col("qv"), col("qn"),
          col("cv"), col("cn")), 4).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
