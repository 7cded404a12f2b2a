package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ParquetSchema

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst can push filters and
  * prune columns down to the scan (verified via `.explain("formatted")`
  * — `PushedFilters` / `ReadSchema`). At 100 TB these become
  * partitioned/bucketed catalog tables; the API surface stays the same.
  *
  * The schema comes from one parquet footer read on the driver
  * ([[ParquetSchema.of]]), so an accessor starts no Spark job. It is
  * resolved on every call, not declared: the timestamp columns (`ts`,
  * `o_orderdate`, `l_shipdate`) differ by producer — INT64 micros
  * (TIMESTAMP_NTZ) in the fixture tables, INT96 (TIMESTAMP) in
  * GenData output under Spark's default `outputTimestampType`, INT64
  * nanos (resolved as long) from older generators.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ParquetSchema.of(spark, path)).parquet(path)
  }

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  def events: DataFrame    = t("events")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
