package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for stateful streaming at scale.
  *
  * The default HDFS-backed provider keeps every store's working set in
  * executor heap — fine for the small windowed aggregates the
  * reference runs, but a large-keyspace pipeline (billions of
  * streaming-dedup keys, wide session maps) wants the RocksDB
  * provider: state lives off-heap/on-disk per partition, and with
  * changelog checkpointing each micro-batch ships only its delta to
  * the checkpoint location instead of a full snapshot — checkpoint
  * cost stops scaling with total state size.
  *
  * The provider is read from the session conf when a query STARTS, so
  * call one of these before `.start()`. It applies to every store of
  * that query, and a query restarted from a checkpoint must keep the
  * provider the checkpoint was created with (the formats are not
  * interchangeable).
  */
object StateStores {
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch subsequently-started queries to RocksDB state stores, with
    * changelog checkpointing on. */
  def useRocksDb(spark: SparkSession): Unit = {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }
}
