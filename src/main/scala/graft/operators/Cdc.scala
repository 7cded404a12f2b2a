package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture apply — the lakehouse MERGE kernel (the
  * copy-on-write shape Delta/Hudi/Iceberg implement): a CDC log of
  * `I`/`U`/`D` operations, each stamped with a monotone sequence
  * number, is compacted to the LAST op per key and applied to a base
  * snapshot as upsert/delete.
  *
  * Scale shape (the reason this is not a full-outer join): the log is
  * batch-sized, the base is corpus-sized. [[applyChangeset]] touches
  * the base only through a LEFT ANTI join on the compacted touched-key
  * set — broadcastable when the batch is small, so the 100 TB base
  * never shuffles — then unions the surviving log images. A full-outer
  * formulation would shuffle both sides unconditionally (Spark cannot
  * broadcast a full-outer side). Only the log pays the compaction
  * window's shuffle, and it is batch-sized.
  *
  * Semantics: upsert — a final `U` on an absent key inserts, a final
  * `I` on a present key replaces, a final `D` on an absent key is a
  * no-op. `D`-then-`I/U` within one log resurrects the key with the
  * new image (last writer wins).
  */
object Cdc {

  /** Compact a CDC log to the latest operation per key: max `seq`
    * wins; ties break on `op` descending (`U` > `I` > `D`) so a
    * same-sequence upsert beats its delete deterministically — callers
    * with a totally ordered log never hit the tie-break. One window
    * over the batch-sized log; nothing corpus-scale. */
  def compact(log: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("seq").desc, col("op").desc)
    log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Apply a CDC log to a base snapshot and return the post-merge
    * snapshot (same columns as `base`). The log must carry `key`,
    * `seq`, `op`, and every base payload column (null payload on
    * `D` rows is fine — deletes never contribute an image). */
  def applyChangeset(base: DataFrame, log: DataFrame, key: String)
      : DataFrame = {
    val latest = compact(log, key)
    val untouched = base.join(latest.select(col(key)), Seq(key), "left_anti")
    val upserts = latest.where(col("op") =!= "D")
      .select(base.columns.map(col).toIndexedSeq: _*)
    untouched.unionByName(upserts)
  }

  /** Seq-aware apply for INCREMENTAL maintenance under out-of-order
    * batch delivery: the state frame carries `seq`/`op` for
    * every key it has ever seen — including `D` TOMBSTONES — so a
    * late-arriving batch with a lower sequence number can never
    * overwrite or resurrect a newer image. Returns the next state
    * (same schema). The live snapshot is `state.where(op <> 'D')`
    * minus the bookkeeping columns — see [[snapshotOf]].
    *
    * Scale shape: state is corpus-sized but is touched only through
    * one LEFT ANTI and one LEFT SEMI join on the compacted batch's
    * key set (both broadcastable); the re-compaction that resolves
    * state-vs-batch conflicts runs over batch-sized frames only. Rows
    * are keyed by `doc_id`. */
  def applyChangesetVersioned(state: DataFrame, log: DataFrame)
      : DataFrame = {
    val cols = state.columns.map(col).toIndexedSeq
    val latest = compact(log, "doc_id").select(cols: _*)
    val touched = latest.select(col("doc_id"))
    val untouched = state.join(touched, Seq("doc_id"), "left_anti")
    val contested = state.join(touched, Seq("doc_id"), "left_semi")
    untouched.unionByName(
      compact(contested.unionByName(latest), "doc_id"))
  }

  /** The live view of a versioned state frame: tombstones dropped,
    * bookkeeping columns removed. */
  def snapshotOf(state: DataFrame): DataFrame =
    state.where(col("op") =!= "D").drop("seq", "op")
}
