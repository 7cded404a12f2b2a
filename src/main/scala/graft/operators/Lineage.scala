package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative fixpoint operators (connected
  * components, PageRank, k-means): each round's plan references the
  * previous round's twice, so without truncation the logical plan
  * doubles per round and analysis alone is O(2^rounds).
  *
  * Two regimes:
  *  - `localCheckpoint` (default): blocks live on executor local
  *    storage — fast, no distributed-FS round-trip, the right choice
  *    on local[*] and for short loops. NOT fault-tolerant: losing an
  *    executor invalidates its blocks and fails the job. Superseded
  *    blocks are freed by the ContextCleaner as the old frames go out
  *    of scope.
  *  - reliable `checkpoint`: used automatically when the session has a
  *    checkpoint directory configured
  *    (`spark.sparkContext.setCheckpointDir(...)`) — data goes to the
  *    (replicated) checkpoint FS, so a 1000-executor fixpoint loop
  *    survives executor loss. The per-round write cost is the
  *    insurance premium; pay it on real clusters, skip it locally.
  *    Unlike local blocks, reliable checkpoint FILES are NOT cleaned
  *    automatically (Spark deletes them only under the non-default
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`, and
  *    even then only on GC of the RDD) — so every reliable checkpoint
  *    is registered here and deleted by [[releaseAll]], which
  *    [[Caches.releaseAll]] invokes: the same between-queries
  *    lifecycle as operator persists. Without this, a 40-round star
  *    contraction leaves 120 full-size edge-set copies on the
  *    checkpoint FS per invocation.
  *
  * Both regimes are EAGER (materialize now): the convergence probe
  * that follows each round would otherwise recompute the plan.
  */
object Lineage {
  private val ckpts = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, org.apache.hadoop.conf.Configuration)]()

  /** Truncate `df`'s lineage: reliable checkpoint when the session has
    * a checkpoint dir, local checkpoint otherwise. */
  def truncate(df: DataFrame): DataFrame = truncateCounted(df)._1

  /** The one eager truncation, fused with the convergence probe
    * (round-12): one materializing job returns the truncated frame,
    * its EXACT row count, and the number of rows whose `probeCol`
    * boolean is true.
    * The probe count is accumulator-based — valid ONLY as a zero-test
    * (retries / the reliable regime's second pass may overcount a
    * non-zero value, never fake a zero) — which is exactly what the
    * fixpoint loops branch on. Saves one full driver round-trip per
    * round versus truncate-then-count. */
  def truncateCounted(df: DataFrame, probeCol: Option[String] = None)
      : (DataFrame, Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val res = org.apache.spark.sql.graftbridge.PlanBridge
      .truncateCounted(df, reliable, probeCol)
    if (reliable)
      org.apache.spark.sql.graftbridge.PlanBridge.checkpointFile(res._1)
        .foreach { p => ckpts.add((p, sc.hadoopConfiguration)) }
    res
  }

  /** LAZY lineage truncate (round-12) for loop frames that are never
    * consumed by an action of their own, only referenced by later
    * rounds' plans (q183's stationary vector, PageRank's rank frame):
    * marks a local checkpoint so the FIRST consuming job persists the
    * rows and cuts the lineage — bounding plan depth and stopping
    * broadcast-future subtrees from re-executing the whole round
    * chain — without paying a separate materializing job per round
    * the way eager [[truncate]] does. Falls back to eager truncate
    * when a checkpoint dir is set (reliable checkpoint files must be
    * registered for cleanup, which requires materialization). */
  def truncateLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) truncate(df)
    else df.localCheckpoint(eager = false)

  /** Delete every registered reliable-checkpoint directory. Safe only
    * AFTER the action that consumed the operator's output (a truncated
    * frame reads its checkpoint files on every recompute) — call it
    * where you call [[Caches.releaseAll]], which delegates here. */
  def releaseAll(): Unit = {
    val retry = new java.util.ArrayDeque[
      (String, org.apache.hadoop.conf.Configuration)]()
    var e = ckpts.poll()
    while (e != null) {
      val (p, conf) = e
      val path = new org.apache.hadoop.fs.Path(p)
      // best-effort, but never SILENT: a swallowed failure here is
      // exactly the disk leak this registry exists to prevent, so the
      // undeletable path is logged and re-enqueued for the next sweep.
      // Hadoop reports many failures as `false` WITHOUT throwing
      // (e.g. RawLocalFileSystem permission denials) — both the
      // boolean and the exception path get the same treatment
      try {
        val fs = path.getFileSystem(conf)
        if (!fs.delete(path, true) && fs.exists(path)) {
          System.err.println(
            s"[graft] checkpoint cleanup returned false for $p" +
              " — re-enqueued for next releaseAll")
          retry.add(e): Unit
        }
      } catch {
        case ex: java.io.IOException =>
          System.err.println(
            s"[graft] checkpoint cleanup failed for $p: ${ex.getMessage}" +
              " — re-enqueued for next releaseAll")
          retry.add(e): Unit
      }
      e = ckpts.poll()
    }
    retry.forEach(ckpts.add(_): Unit)
  }
}
