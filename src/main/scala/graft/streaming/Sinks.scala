package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sink builders mirroring the reference's output topology
  * (SURVEY §2.2 K1-K7): per-query checkpointed parquet append sinks,
  * per-batch callbacks for Spark's `writeStream.foreachBatch` (the
  * console report, the index sink in the OpenSearch role), and
  * multi-query fan-out with a wait on any of its queries.
  */
object Sinks {

  /** K1: streaming parquet append sink — per-query checkpoint dir and
    * processing-time trigger, exactly the reference layout
    * (job2.py:326-342). Installs [[CheckpointFiles]] on the session
    * unless the caller chose a checkpoint file manager. */
  def parquetAppend(df: DataFrame, path: String, checkpoint: String,
      triggerInterval: String = "60 seconds"): DataStreamWriter[Row] = {
    defaultCheckpointFiles(df.sparkSession)
    df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
  }

  /** Sets the session's checkpoint file manager to [[CheckpointFiles]]
    * when the session has none: the one session default graft installs.
    * It changes no plan and no result, only how checkpoint files are
    * written, and a value the caller set is never overridden. It goes on
    * the starting session because Spark builds every checkpoint log and
    * state store of the query from that session's conf (the file sink's
    * `_spark_metadata` log directly, the rest from the clone it takes at
    * `start()`). The key stays set: every later streaming query of the
    * session uses [[CheckpointFiles]] too, also one not built here (the
    * catalog replay helper, a plain `writeStream`). */
  private def defaultCheckpointFiles(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointFiles.ConfKey).isEmpty)
      spark.conf.set(CheckpointFiles.ConfKey, classOf[CheckpointFiles].getName)

  /** Streaming vector ingest — each micro-batch appends into the
    * persisted IVF index ([[graft.operators.VectorIndex.append]]): the
    * index stays serveable while a stream of new embeddings lands, and
    * each batch costs only its own assignment pass (fixed centroids,
    * stored files untouched — q138's contract driven continuously).
    * Delivery: foreachBatch is at-least-once against a
    * non-transactional sink — a crash between the append and the
    * checkpoint commit replays the batch, duplicating its assignment
    * rows. Probe ranking already dedups (query_id, neighbor_id) so
    * SERVING results are unchanged; a strict-storage deployment would
    * stage per-batchId directories and commit by rename. Installs
    * [[CheckpointFiles]] as [[parquetAppend]] does. */
  def vectorIngest(embStream: DataFrame, indexPath: String,
      checkpoint: String): DataStreamWriter[Row] = {
    defaultCheckpointFiles(embStream.sparkSession)
    embStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.VectorIndex.append(batch, indexPath)
      }
  }

  /** K2: the reference's per-batch console report as a `foreachBatch`
    * callback (batch count + grouped tallies pretty-printed on the
    * driver — job1_bots.py:271-303). Aggregation happens engine-side;
    * only the small summary is collected. */
  def consoleReport(groupCol: String): (DataFrame, Long) => Unit = {
    (batch, id) =>
      val n = batch.count()
      println(s"=== batch $id: $n rows ===")
      if (n > 0) {
        batch.groupBy(groupCol).count()
          .orderBy(org.apache.spark.sql.functions.col("count").desc)
          .collect()
          .foreach(r => println(s"  ${r.get(0)}: ${r.getLong(1)}"))
      }
  }

  /** K3/K4: pluggable document-index sink (the OpenSearch role).
    * `ensureIndex` is the out-of-band mapping bootstrap (K4); `indexDocs`
    * receives one micro-batch. The reference collect()s every batch to
    * the driver and HTTP-POSTs per document (elk_sender.py:107-128) —
    * an O(batch) driver bottleneck; implementations should instead ship
    * partitions from executors (foreachPartition) at scale. */
  trait IndexSink {
    def ensureIndex(name: String, mapping: Map[String, String]): Unit
    def indexDocs(index: String, docs: Iterator[Map[String, Any]]): Unit
  }

  /** Durable file-backed [[IndexSink]]: one JSON-lines file per
    * (index, partition, task attempt) under `root/index/` — the
    * no-network stand-in for the OpenSearch role (elk_sender.py:69-128)
    * and the concrete proof that the trait's executor contract works
    * against a real backend. Built ON THE EXECUTOR by
    * [[indexSinkPartitions]]' factory; each task writes a uniquely
    * named file (partitionId + taskAttemptId) so concurrent tasks
    * never coordinate, and delivery is at-least-once under task
    * retries — the same contract as the reference's per-doc HTTP POST
    * loop. In production `root` is a shared filesystem path;
    * `ensureIndex` is create-if-absent on `_mapping.json` (K4). */
  final class FileIndexSink(root: String) extends IndexSink
      with Serializable {
    private def dir(index: String): java.io.File = {
      val d = new java.io.File(root, index)
      d.mkdirs(); d
    }
    override def ensureIndex(name: String,
        mapping: Map[String, String]): Unit = {
      val f = new java.io.File(dir(name), "_mapping.json")
      if (f.createNewFile()) {
        val json = mapping.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
        java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8")): Unit
      }
    }
    override def indexDocs(index: String,
        docs: Iterator[Map[String, Any]]): Unit = {
      val tc = org.apache.spark.TaskContext.get()
      val part =
        if (tc == null) "driver"
        else s"p${tc.partitionId()}-a${tc.taskAttemptId()}"
      val f = new java.io.File(dir(index), s"docs-$part.jsonl")
      val w = new java.io.PrintWriter(
        new java.io.FileWriter(f, true), false)
      try docs.foreach { d =>
        w.println(d.toSeq.sortBy(_._1).map { case (k, v) =>
          s""""$k":${jsonVal(v)}""" }.mkString("{", ",", "}"))
      } finally w.close()
    }
    private def jsonVal(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
      case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
      case n: Number => n.toString
      case other => quote(other.toString)
    }
    // full JSON string escaping: framing depends on it — an unescaped
    // newline in a free-text field would split one record across two
    // physical JSONL lines
    private def quote(s: String): String = {
      val b = new java.lang.StringBuilder(s.length + 2)
      b.append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
  }

  /** K3 DEFAULT (scale path): executor-side indexing. Each partition
    * ships its rows to the index from the task that holds them
    * (foreachPartition) — the fix for the reference's worst scale bug
    * (elk_sender.py:107-128 collect()s every micro-batch to the driver
    * and POSTs per document; throughput caps at one driver's NIC).
    * `sinkFactory` is evaluated per partition ON THE EXECUTOR —
    * implementations build their client/connection pool there instead
    * of serializing live driver state. */
  def indexSinkPartitions(sinkFactory: () => IndexSink, index: String)
      : (DataFrame, Long) => Unit = { (batch, _) =>
    val cols = batch.columns
    batch.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val sink = sinkFactory()
        sink.indexDocs(index, rows.map { r =>
          cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        })
      }
    }
  }

  /** K7: block until any of `queries` terminates (improvement over the
    * reference, which awaits only the console query — job2.py:389), and
    * rethrow its failure if it failed. Other queries of the session are
    * ignored: unlike `spark.streams.awaitAnyTermination()`, an unrelated
    * query that stopped earlier neither ends the wait nor is waited on.
    * Polls every 100 ms. */
  def awaitAny(queries: Seq[StreamingQuery]): Unit = {
    require(queries.nonEmpty, "awaitAny needs at least one query")
    while (queries.forall(_.isActive)) Thread.sleep(100)
    queries.filterNot(_.isActive).flatMap(_.exception).headOption
      .foreach(e => throw e)
  }
}
