package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Pipeline telemetry via Spark's `observe` API — the 100 TB
  * observability story: data-quality counters (rows seen, nulls,
  * out-of-range values, dead-letter counts) computed DURING the job
  * as accumulator-style observed metrics, not as a second aggregation
  * pass over the input. At scale a monitoring re-scan is a full extra
  * read of the corpus; `observe` rides the existing action for free.
  *
  * Batch: [[observed]] returns the frame plus an [[Observation]]
  * handle — run any ONE action, then `obs.get` yields the metric row.
  * Streaming: attach `df.observe("name", exprs*)` before the sink and
  * read `StreamingQueryProgress.observedMetrics` per micro-batch
  * (pinned in StreamingSpec) — the per-batch quality ledger the
  * reference's driver-side console report approximates with a
  * collect.
  */
object Telemetry {

  /** Attach metrics, observed under the name `quality`, to a batch
    * frame. The returned Observation resolves after the FIRST action
    * on the returned frame; `get` blocks until then. One Observation
    * instance per action — they are single-shot by Spark's contract. */
  def observed(df: DataFrame, metric: Column, metrics: Column*)
      : (DataFrame, Observation) = {
    val obs = new Observation("quality")
    (df.observe(obs, metric, metrics: _*), obs)
  }
}
