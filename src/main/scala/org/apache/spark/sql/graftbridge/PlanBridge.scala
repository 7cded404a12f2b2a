package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into the `private[sql]` plan↔Dataset converters for custom
  * logical operators ([[graft.plans.AsOfJoinPlan]]): Spark exposes no
  * public "DataFrame from LogicalPlan" since the classic/connect API
  * split — this is the same call every internal relation builder uses.
  * Lives under `org.apache.spark.sql` purely for access scope, like
  * [[ColumnBridge]]. */
object PlanBridge {

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan beneath a DataFrame (resolved attributes with
    * stable expression ids — safe to reference from a parent node). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The reliable-checkpoint directory backing a Dataset returned by
    * `df.checkpoint()`, if any. `Dataset.checkpoint` wraps the
    * materialized RDD in a [[org.apache.spark.sql.execution.LogicalRDD]];
    * for a reliable checkpoint that RDD's `getCheckpointFile` is the
    * `rdd-<id>` directory under the session checkpoint dir. Spark's
    * ContextCleaner does NOT delete those by default
    * (`spark.cleaner.referenceTracking.cleanCheckpoints=false`), so
    * callers that loop (fixpoint operators) must collect and delete
    * them — see `graft.operators.Lineage`. */
  def checkpointFile(df: DataFrame): Option[String] =
    analyzed(df) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }

  /** Truncate `df`'s lineage exactly like `Dataset.checkpoint` /
    * `localCheckpoint` (copy the internal rows, checkpoint the RDD,
    * materialize, wrap in a [[org.apache.spark.sql.execution.LogicalRDD]]
    * via `fromDataset` so output partitioning/ordering survive) but
    * fold the fixpoint loops' convergence probe into the SINGLE
    * materializing job. Returns (truncated frame, exact row count,
    * probe-column true-count).
    *
    * Before (round-11 shape) every fixpoint round paid TWO driver
    * round-trips: the eager truncate's internal count and a separate
    * probe job (`.where(changed).limit(1).count()` or `.count()`),
    * each ~40–70 ms of fixed job latency at ANY scale. The probe
    * count here rides a LongAccumulator on the materializing count.
    * Accumulator semantics: task retries (and the reliable regime's
    * checkpoint-write second pass) can OVERcount, never UNDERcount a
    * non-zero value — callers must branch only on `== 0`, which is
    * exactly the convergence test. The row count is the action's
    * return value and is exact. Without a probe column no accumulator
    * is registered and the probe count is 0. */
  def truncateCounted(df: DataFrame, reliable: Boolean,
      probeCol: Option[String]): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val probe = probeCol.map(c => (ds.schema.fieldIndex(c),
      session.sparkContext.longAccumulator("graft.fixpoint.probe")))
    val base = ds.queryExecution.toRdd
    val internalRdd = probe match {
      case Some((i, acc)) =>
        base.map { r =>
          val out = r.copy()
          if (!out.isNullAt(i) && out.getBoolean(i)) acc.add(1L)
          out
        }
      case None => base.map(_.copy())
    }
    if (reliable) internalRdd.checkpoint() else internalRdd.localCheckpoint()
    val total = internalRdd.count()
    val out = classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        internalRdd, ds, isStreaming = false).newInstance())
    (out, total, probe.fold(0L)(_._2.value))
  }

  /** Installs `ext`'s optimizer rules, planner strategies and
    * functions into a live session built without it (the body of
    * `graft.GraftExtensions.ensure`). A session whose own extensions
    * already carry the rules gets nothing. The check and the writes run
    * under the session's `ExperimentalMethods` lock, because its two
    * vars are read-modify-write; Spark reads them as volatiles. */
  def install(spark: SparkSession, ext: SparkSessionExtensions): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val rules = ext.buildOptimizerRules(s)
    val exp = s.experimental
    def present = rules.forall(exp.extraOptimizations.contains)
    if (!present && !rules.forall(s.extensions.buildOptimizerRules(s).contains))
      exp.synchronized {
        if (!present) {
          ext.registerFunctions(s.sessionState.functionRegistry)
          exp.extraStrategies ++=
            ext.buildPlannerStrategies(s).filterNot(exp.extraStrategies.contains)
          exp.extraOptimizations ++= rules.filterNot(exp.extraOptimizations.contains)
        }
      }
  }

  /** A derived session that starts as a copy of `spark`'s state
    * (runtime confs such as the session time zone, functions,
    * experimental rules and strategies, temp views), so a caller can
    * change its confs without touching `spark`'s. Spark's
    * `newSession()` would start from the defaults instead. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Blocks until every event posted to `sc`'s listener bus so far has
    * reached every listener (the bus delivers asynchronously). Throws a
    * `TimeoutException` after Spark's 10 s bound. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The distinct operator-scope names of a stage's RDDs in RDD id
    * order (`Scan parquet`, `WholeStageCodegen (2)`, `Exchange`, ...):
    * `RDDOperationScope` is `private[spark]`. */
  def scopeNames(si: org.apache.spark.scheduler.StageInfo): Seq[String] =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct

  /** `s` with every field, array element and map value nullable — the
    * `private[spark]` rule file sources apply to a relation's schema. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
