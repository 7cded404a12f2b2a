package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch ingest surface (SURVEY §2.1 S4-S5): the reference's two
  * deliberately asymmetric CSV paths. Its constant injection (S6) and
  * per-job null repair (S7) are Spark's own `withColumn(name, lit(v))`
  * and `na.fill(map)`.
  *
  * Differences from the reference, on purpose:
  *  - explicit schemas instead of `inferSchema` (deterministic runs,
  *    one scan instead of two — SURVEY §7.5 #2)
  *  - column names applied positionally via `toDF`, mirroring the
  *    `_c0.._cN` rename chain (job1_locations.py:30-37)
  */
object Sources {

  /** S4: headerless CSV with positional column names. */
  def csvHeaderless(spark: SparkSession, path: String, schema: StructType,
      names: Seq[String]): DataFrame = {
    require(schema.size == names.size)
    spark.read.schema(schema).csv(path).toDF(names: _*)
  }

  /** Quarantining CSV ingest: PERMISSIVE parse with the raw line of
    * every malformed row captured in `_corrupt` — the batch mirror of
    * the streaming contract (bad JSON → all-null row, S2). Callers
    * split on `_corrupt IS NULL`: clean rows flow on, quarantined
    * raw lines land wherever the pipeline keeps its dead letters.
    * One pass, no inference, no job-killing FAILFAST. */
  def csvQuarantine(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", "string"))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
}

/** Batch write surface (SURVEY §2.2 K5-K6 + the scale path).
  * The reference's `coalesce(1)` single-file CSV contract is kept as
  * an explicit, documented anti-pattern; the scale path writes
  * partitioned/bucketed parquet.
  */
object Writers {

  /** K5+K6 dual write: `df` as parquet at `parquetPath`, then the
    * single-file header CSV at `csvPath` DERIVED from that parquet
    * artifact, so `df` is computed once and the two artifacts cannot
    * diverge. The read-back takes `df.schema` (no inference job), and
    * `coalesce(1)` + a sort on (file name, row index) replays the
    * parquet rows in written order — part files are numbered in
    * partition order — with no shuffle. The single CSV file kills
    * write parallelism: reference artifact contract only, never for
    * large outputs. */
  def parquetWithCsv(df: DataFrame, parquetPath: String,
      csvPath: String): Unit = {
    parquet(df, parquetPath)
    df.sparkSession.read.schema(df.schema).parquet(parquetPath)
      .select(col("*"), col("_metadata.file_name").as("__file"),
        col("_metadata.row_index").as("__row"))
      .coalesce(1)
      .sortWithinPartitions("__file", "__row")
      .drop("__file", "__row")
      .write.mode("overwrite").option("header", "true").csv(csvPath)
  }

  /** K6: plain parquet overwrite. */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Scale path: hive-partitioned parquet — prunes at read time on the
    * partition keys (date/type-style columns, low cardinality). */
  def partitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Scale path: bucketed table — co-locates join/agg keys so repeated
    * joins on `bucketCols` skip the shuffle entirely. With `path` the
    * table is EXTERNAL: data lands at the given location (a caller's
    * temp/object-store dir) instead of the session warehouse, while
    * the bucket metadata still registers in the catalog — that
    * metadata is what lets later scans report hash-partitioned output
    * and drop the Exchange. */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int, sortCols: Seq[String] = Seq.empty,
      path: Option[String] = None): Unit = {
    var w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.format("parquet").saveAsTable(table)
  }

  /** Scale path: range-clustered parquet — `repartitionByRange` gives
    * each output file a DISJOINT key range and the within-partition
    * sort makes parquet row-group min/max stats tight, so later
    * range/equality scans on `clusterCols` skip whole files (the
    * poor-man's clustering index; at 100 TB this is the difference
    * between scanning one file and scanning all of them for a keyed
    * lookup). `nFiles` sizes output files independently of
    * `spark.sql.shuffle.partitions`. */
  def rangeClusteredParquet(df: DataFrame, path: String,
      clusterCols: Seq[String], nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val keys = clusterCols.map(col)
    df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Scale path: Z-order (Morton-curve) clustered parquet — the
    * TWO-dimensional extension of [[rangeClusteredParquet]]: rows are
    * range-partitioned and sorted by the interleaved-bit key of both
    * cluster columns ([[graft.expressions.ZOrderKey]]), so each
    * parquet row group covers a small RECTANGLE of the (a, b) space
    * and min/max stats prune predicates on EITHER column (a
    * single-column sort leaves the other column's per-group spans at
    * full width — a filter on it skips nothing). `quantA`/`quantB`
    * map each column onto the 16-bit grid and MUST use comparable
    * scales (use [[graft.expressions.ZOrderExpressions.quant16]]
    * min-max scaling): Morton order is dominated by the higher bit
    * positions, so an unscaled narrow-range dimension contributes
    * nothing and the curve degenerates to a single-column sort. The
    * key is computed, used for layout, and dropped — the written
    * schema is the input's. */
  def zorderedParquet(df: DataFrame, path: String,
      quantA: org.apache.spark.sql.Column,
      quantB: org.apache.spark.sql.Column, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val keyed = df.withColumn("__zkey",
      graft.expressions.ZOrderExpressions.zorderKey(
        quantA.cast("long"), quantB.cast("long")))
    keyed.repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
