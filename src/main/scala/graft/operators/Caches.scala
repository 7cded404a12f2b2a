package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for operator-internal persisted frames.
  *
  * Dedup (and friends) persist intermediates — posting lists, band
  * tables — that must outlive the operator call: the consuming action
  * only happens when the caller materializes the returned plan. That
  * means the operator itself can never safely unpersist. Instead every
  * internal persist is tracked here, and session drivers that run many
  * catalog queries (Bench, Verify, long-lived services) release them
  * between queries via [[releaseAll]]. Without this, cached blocks
  * accumulate for the life of the session (disk-spilled blocks are not
  * LRU-evicted) and repeated catalog runs re-cache already-cached
  * plans (the `CacheManager` warnings seen in the round-1 bench log).
  */
object Caches {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `df` at MEMORY_AND_DISK and track it for later release.
    * A frame whose plan is already cached (an operator called twice
    * with the same input, or a frame the caller cached) comes back
    * as is: no second persist, no second registration — so
    * [[releaseAll]] never unpersists a frame the caller cached. */
  def persistTracked[T](df: Dataset[T]): Dataset[T] = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      frames.add(df)
    }
    df
  }

  /** [[persistTracked]] + EAGER materialization (one summary-only
    * count, never a data collect). For a CHEAP frame with MANY
    * independent consumer stages: the DAG scheduler submits every
    * stage whose parents are ready, so N map stages that each need
    * only this frame launch concurrently against a COLD cache and
    * each recomputes the subtree (q190's five per-round anti-join map
    * sides re-ran the whole shingle build 5×; q133's delta adjustment
    * raced its posting caches similarly). Eager-materializing turns
    * those into cache reads for one blocking pass. Use ONLY when the
    * subtree is cheap relative to its consumer count — an eager count
    * on an expensive frame SERIALIZES work that the concurrent race
    * would overlap (measured: q192's three eager minings cost +1.6 s
    * wall) — and never on a frame consumed once. */
  def persistEager[T](df: Dataset[T]): Dataset[T] = {
    val out = persistTracked(df)
    out.count(): Unit
    out
  }

  /** Unpersist every tracked frame (non-blocking) and delete any
    * reliable-checkpoint files the fixpoint loops registered
    * ([[Lineage.releaseAll]]). Call after the action that consumes the
    * operator's output.
    *
    * CONTRACT NOTE — checkpoint deletion is harder than unpersist:
    * an unpersisted frame keeps its recompute path (re-consuming it is
    * merely slow), but a reliably-CHECKPOINTED fixpoint result reads
    * its checkpoint files on every recompute, so re-consuming such a
    * frame after releaseAll fails hard with a missing-file error.
    * Callers outside the between-queries harness lifecycle (Verify /
    * Bench, which fully materialize results before releasing) must
    * either finish consuming every returned frame first or defer
    * releaseAll to session close. */
  def releaseAll(): Unit = {
    var df = frames.poll()
    while (df != null) { df.unpersist(false); df = frames.poll() }
    Lineage.releaseAll()
  }
}
