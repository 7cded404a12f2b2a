package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Cdc

/** Streaming CDC maintenance of a merged snapshot — the ingest half of
  * the lakehouse MERGE story (q165 is the batch half). A stream of
  * seq-stamped I/U/D rows folds into a copy-on-write VERSIONED table:
  * each micro-batch applies [[Cdc.applyChangesetVersioned]] to the
  * previous version and writes a brand-new immutable version
  * directory, then atomically swings a pointer file. Readers resolve
  * the pointer and scan one immutable version — never a directory
  * being rewritten underneath them.
  *
  * Delivery guarantees:
  *  - exactly-once per micro-batch: the pointer records the batch id;
  *    a foreachBatch RETRY of an already-applied batch sees
  *    `appliedId >= id` and skips (idempotent sink contract);
  *  - out-of-order tolerant: state carries per-key seq + tombstones
  *    ([[Cdc.applyChangesetVersioned]]), so batches may arrive in any
  *    order and still converge to the same snapshot;
  *  - versions accumulate like any copy-on-write format; [[vacuum]]
  *    is the retention sweep (keep the newest N dirs, delete the
  *    rest), and [[compactCurrentDeferred]] consolidates the current
  *    version's files in place.
  *
  * Scale shape: each version write rewrites only what a 100 TB table
  * format would — here the whole (partition-less) table, in a real
  * deployment the partitions the anti/semi joins touch. The batch side
  * of every join is broadcast-sized; the state side never shuffles.
  */
object CdcStream {

  private def pointerPath(tablePath: String) = Paths.get(tablePath, "_latest")

  /** (version batchId applied) or None when uninitialized. */
  def latestVersion(tablePath: String): Option[Long] = {
    val p = pointerPath(tablePath)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.toLong)
    else None
  }

  private[streaming] def writePointer(tablePath: String, id: Long): Unit = {
    val tmp = Paths.get(tablePath, s"_latest.tmp$id")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerPath(tablePath),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Initialize the table from a base snapshot (version -1): every
    * base row enters the state with `seq = 0` and op 'U'. */
  def init(base: DataFrame, tablePath: String): Unit = {
    import org.apache.spark.sql.functions._
    Files.createDirectories(Paths.get(tablePath))
    base.withColumn("seq", lit(0L)).withColumn("op", lit("U"))
      .write.mode("overwrite").parquet(s"$tablePath/v-1")
    writePointer(tablePath, -1L)
  }

  /** Wire a CDC log stream into the maintained table. The log must
    * carry `key`, `seq`, `op` and the payload columns of the
    * initialized base. Start + await the returned writer. */
  def maintain(log: DataFrame, tablePath: String, key: String)
      : DataStreamWriter[Row] = {
    val spark = log.sparkSession
    log.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], id: Long) =>
        val applied = latestVersion(tablePath).getOrElse(
          throw new IllegalStateException(
            s"CdcStream table $tablePath not initialized — call init()"))
        if (applied < id) {
          val prev = readVersionDir(spark, s"$tablePath/v$applied")
          Cdc.applyChangesetVersioned(prev, batch.toDF(), key)
            .write.mode("overwrite").parquet(s"$tablePath/v$id")
          writePointer(tablePath, id)
        } // else: retry of an applied batch — skip (exactly-once)
        ()
    }
  }

  /** Read one immutable version directory through a PINNED file
    * listing: the same listing decides whether a compaction's
    * write→commit double-visibility window is open (compacted copies
    * next to their originals) and feeds the scan, so the dedup that
    * absorbs the window runs ONLY while it is open — a version's rows
    * are unique by construction, and outside the window readers pay
    * no shuffle for the compaction tolerance. */
  private def readVersionDir(spark: SparkSession, dir: String)
      : DataFrame = {
    val (files, windowOpen) =
      graft.operators.Compaction.pinnedListing(spark, dir)
    val raw =
      if (files.isEmpty) spark.read.parquet(dir)
      else spark.read.parquet(files: _*)
    if (windowOpen) raw.dropDuplicates() else raw
  }

  /** The live merged snapshot as of the latest committed version.
    * Scans a pinned listing and dedups only inside the compaction
    * window — see [[readVersionDir]]. */
  def readSnapshot(spark: SparkSession, tablePath: String): DataFrame = {
    val v = latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    readSnapshotAt(spark, tablePath, v)
  }

  /** Time-travel read: the merged snapshot AS OF a past committed
    * version — what the copy-on-write layout buys beyond the live
    * view (debugging a pipeline against the exact table a past run
    * saw, reproducing a training corpus cut). Valid for any version
    * dir [[vacuum]] has not yet removed; reading above the pointer or
    * below the retention horizon throws. */
  def readSnapshotAt(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    val current = latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    require(version <= current,
      s"version $version not committed (pointer at $current)")
    val dir = new org.apache.hadoop.fs.Path(s"$tablePath/v$version")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir),
      s"version $version vacuumed (retention horizon passed)")
    Cdc.snapshotOf(readVersionDir(spark, dir.toString))
  }

  /** Retention sweep: delete version directories strictly below the
    * committed pointer, keeping the newest `keepVersions` dirs in
    * total (the current one included) for readers that resolved the
    * pointer just before a swing — the standard copy-on-write
    * retention contract (a reader may lag at most `keepVersions - 1`
    * version swings; size retention to the deployment's maximum read
    * duration, exactly like a table format's vacuum horizon).
    * Returns the number of version dirs removed. */
  def vacuum(spark: SparkSession, tablePath: String,
      keepVersions: Int = 2): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    val current = latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("v"))
      .flatMap(d => scala.util.Try(
        d.getPath.getName.stripPrefix("v").toLong).toOption.map(
        _ -> d.getPath))
      .filter(_._1 <= current)
      .sortBy(_._1)
    val drop = versions.dropRight(keepVersions)
    drop.foreach { case (_, p) => fs.delete(p, true) }
    drop.size
  }

  /** Two-phase online compaction of the CURRENT version directory
    * (the [[graft.operators.Compaction]] pattern, proven on the
    * vector index), write phase: every versioned merge write leaves
    * one file per shuffle partition, so a long-running maintenance
    * stream hands its readers dozens of small files per snapshot scan.
    * This compacts the current version's files into 128 MiB targets
    * next to the originals and returns the handle whose
    * [[graft.operators.PendingCompaction.commit]] deletes the
    * originals.
    *
    * Safety scope — read it before wiring this into a live table:
    *  - concurrent MAINTENANCE is always safe: a concurrent batch
    *    writes a NEW version dir, never this one; a version superseded
    *    mid-compaction wastes the work but breaks nothing (the old dir
    *    is simply no longer read);
    *  - the WRITE phase is safe under concurrent reads: [[maintain]]
    *    and [[readSnapshot]] detect the double-visibility window from
    *    their pinned listing and dedup it away;
    *  - the COMMIT phase deletes the original files, so a reader that
    *    listed the version dir before the commit and executes after it
    *    fails with FileNotFoundException (or silently drops those rows
    *    under `spark.sql.files.ignoreMissingFiles=true`). Hold the
    *    handle past the deployment's maximum read duration before
    *    committing — the same horizon contract [[vacuum]] documents. */
  def compactCurrentDeferred(spark: SparkSession, tablePath: String)
      : graft.operators.PendingCompaction = {
    val v = latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"$tablePath not initialized"))
    graft.operators.Compaction.compactWrite(spark, s"$tablePath/v$v",
      partitionPrefix = None, targetBytes = 128L << 20)
  }
}
