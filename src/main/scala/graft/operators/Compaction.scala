package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Phase-1 result of a two-phase compaction: the exact files the
  * commit phase will delete, plus the per-unit lock and manifest files
  * held across the window. [[commit]] (or
  * [[Compaction.compactCommit]]) finishes the compaction; until then
  * every snapshot row is visible twice (original file + compacted
  * copy) and the unit locks keep a second compactor from
  * interleaving. */
case class PendingCompaction(dir: String, replaced: Seq[String],
    locks: Seq[String], manifests: Seq[String]) {
  def size: Int = replaced.size
  def isEmpty: Boolean = replaced.isEmpty
  def nonEmpty: Boolean = replaced.nonEmpty
  /** Finish the compaction: delete exactly the snapshot files, then
    * release the unit locks and manifests. See [[Compaction]] for WHEN
    * to call this — the commit deletes files readers may have already
    * listed. */
  def commit(spark: SparkSession): Unit =
    Compaction.compactCommit(spark, this)
}

/** Per-root recovery accounting from [[Compaction.recover]]:
  * `forward` units had a provably complete manifest and were committed
  * to their compacted copies; `back` units died mid-write and had
  * their partial copies undone (every original intact); `dropped`
  * units held only an empty lock (the compactor died between taking
  * the lock and durably writing its nonce — nothing was ever staged,
  * so the lock is simply released) or an orphan torn manifest with no
  * lock (an interrupted in-process undo — the manifest is removed). */
case class Recovery(forward: Int, back: Int, dropped: Int)

/** Two-phase online small-file compaction — the maintenance step every
  * append-style streaming sink eventually needs: micro-batch appends
  * leave many small parquet files behind, and reads pay a footer-open
  * per file. First proven for the IVF vector index (round 6); factored
  * here because the SAME two phases serve any directory-per-unit
  * parquet layout (vector-index `cent_id=` buckets, the streaming pair
  * table's `bucket=` dirs, a CDC version directory as one flat unit):
  *
  *  1. write phase ([[compactWrite]]): per unit directory, take the
  *     unit's `.compact-lock` (exclusive create — a unit already being
  *     compacted is SKIPPED, so two concurrent compactions fail safe
  *     instead of interleaving), write the cycle nonce into the lock
  *     ONCE (the lock is never rewritten after this — see the crash
  *     contract), SNAPSHOT the current file list, read exactly those
  *     files, write their rows back as ~128 MiB files into the
  *     same dir under fresh `compact-<nonce>-*` names (staged in a
  *     nonce-suffixed dot-prefixed temp dir Spark's file listing
  *     ignores, then renamed — a parquet file is visible only once
  *     complete), then durably record the snapshot in a SEPARATE
  *     `.compact-manifest-<nonce>` file, COMMIT sentinel last.
  *     Appends landing meanwhile create NEW files not in the snapshot
  *     — untouched. If any step throws (transient IO, OOM), the whole
  *     call UNDOES itself — every staged copy, manifest and lock of
  *     this call is deleted before the exception propagates, so a
  *     failed in-process call never leaves a unit needing [[recover]]
  *     (that remains the contract for a DEAD compactor only).
  *  2. commit phase ([[compactCommit]]): delete exactly the snapshot
  *     files, then release the unit locks, then the manifests — in
  *     that order, so at every crash point inside the commit either
  *     (lock + complete manifest) or (complete manifest alone)
  *     survives and recovery can only roll FORWARD (see below).
  *
  * Between the phases every snapshot row is visible TWICE (old file +
  * compacted copy). The caller owns making that window harmless —
  * each adopter documents its own dedup: the vector index's probe
  * dedups (query_id, neighbor_id); [[graft.streaming.CdcStream]] and
  * [[graft.streaming.PairTableStream]] detect the window from their
  * pinned file listing ([[pinnedListing]]) and dedup only while it is
  * open.
  *
  * THE COMMIT PHASE IS THE DANGEROUS HALF. It deletes files, so a
  * reader that planned its scan (listed files) before the commit and
  * executes after it hits FileNotFoundException — or, under
  * `spark.sql.files.ignoreMissingFiles=true`, silently drops the
  * snapshot rows (the compacted copies were not in that reader's
  * listing). The write phase is unconditionally safe under concurrent
  * reads; the commit carries the SAME contract as a table format's
  * vacuum horizon: schedule it after the deployment's maximum read
  * duration has elapsed since the write phase. [[compact]] commits
  * immediately — use it where no concurrent read can span the call
  * (maintenance windows, single-writer tests) or where reader retry
  * is an accepted cost; otherwise hold the returned
  * [[PendingCompaction]] and [[PendingCompaction.commit]] after the
  * read horizon.
  *
  * Crash contract. The lock is written EXACTLY ONCE (nonce line) and
  * never rewritten, and the manifest is a separate write-once file —
  * so no crash point can leave the lock in a nonce-less state while
  * staged copies exist (the torn-rewrite hazard of a truncate-in-place
  * manifest). [[recover]] classifies each unit deterministically:
  *  - lock EMPTY: the compactor died between creating the lock and
  *    durably writing its nonce; the nonce write precedes ALL staging,
  *    so nothing of this cycle exists — drop the lock (`dropped`).
  *  - lock holds a nonce but `.compact-manifest-<nonce>` is absent or
  *    lacks the trailing COMMIT sentinel: died mid-write or
  *    mid-manifest; its partial `compact-<nonce>-*` copies, staging
  *    dir and torn manifest are deleted (every original is still
  *    present — a complete manifest, which alone gates any commit, was
  *    never durably written). ROLL BACK.
  *  - lock nonce + a manifest ending in the COMMIT sentinel (written
  *    last, so its presence proves the manifest complete): the write
  *    phase finished; the commit may have partially run. The copies
  *    hold every snapshot row, so recovery deletes whatever snapshot
  *    files remain, then the lock, then the manifest. ROLL FORWARD.
  *  - complete manifest with NO lock: a commit crashed between
  *    releasing the lock and the manifest — finish it (delete any
  *    listed snapshot files that remain, drop the manifest). ROLL
  *    FORWARD. A TORN manifest without a lock is unreachable by any
  *    crash (the lock always outlives an incomplete manifest — both
  *    the commit and the in-process undo delete the lock only after
  *    the manifest); it is handled defensively as `dropped` (manifest
  *    removed, copies untouched) rather than risking a copy delete.
  * Until [[recover]] runs, the locked unit is simply skipped by later
  * compactions and the window dedup keeps readers exact. Only run
  * [[recover]] when no live compactor holds the locks — the caller
  * owns knowing the compactor is dead (same as any single-writer
  * maintenance lease). [[recover]] is itself idempotent at every one
  * of its own crash points (each branch deletes data files before
  * control files, and re-classification after a partial pass lands in
  * the same branch).
  *
  * 100 TB shape: each unit directory is an independent compaction
  * unit — compaction parallelizes and interleaves with ingest at unit
  * granularity, and a scheduler can spread units over maintenance
  * windows.
  */
object Compaction {

  private val LockName = ".compact-lock"
  private val ManifestPrefix = ".compact-manifest-"
  private val ManifestMark = "COMMIT"
  /** Size of one compacted output file. */
  private val TargetBytes = 128L << 20

  /** Compact `dir` and commit immediately: with `partitionPrefix` set,
    * every subdirectory whose name starts with it is an independent
    * unit; otherwise the directory itself is one flat unit. Returns
    * the number of files replaced. See the object doc for when an
    * immediate commit is safe; concurrent long reads want
    * [[compactWrite]] + a deferred [[PendingCompaction.commit]]. */
  def compact(spark: SparkSession, dir: String,
      partitionPrefix: Option[String] = None): Int = {
    val pending = compactWrite(spark, dir, partitionPrefix)
    compactCommit(spark, pending)
    pending.size
  }

  /** Phase 1: returns the pending compaction (the input to
    * [[compactCommit]] / [[PendingCompaction.commit]]). Units whose
    * lock is already held by another compactor are skipped. All or
    * nothing: an exception mid-call undoes every unit this call
    * staged (copies, manifests, locks) before propagating. */
  private[graft] def compactWrite(spark: SparkSession, dir: String,
      partitionPrefix: Option[String]): PendingCompaction = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return PendingCompaction(dir, Seq.empty, Seq.empty, Seq.empty)
    val units = partitionPrefix match {
      case Some(pre) => fs.listStatus(root).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(pre))
        .map(_.getPath)
      case None => Seq(root)
    }
    def write(p: Path, content: String): Unit = {
      val out = fs.create(p, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val replaced = Seq.newBuilder[String]
    val locks = Seq.newBuilder[String]
    val manifests = Seq.newBuilder[String]
    // units this call has started on, for the all-or-nothing undo:
    // (unit dir, nonce, lock path)
    val inFlight = scala.collection.mutable.ArrayBuffer
      .empty[(Path, Long, Path)]
    try units.foreach { d =>
      def dataFiles(): Array[FileStatus] = fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      def outFiles(files: Array[FileStatus]): Long = math.max(1L,
        (files.map(_.getLen).sum + TargetBytes - 1) / TargetBytes)
      val probe = dataFiles()
      if (probe.length > outFiles(probe)) {
        val lock = new Path(d, LockName)
        // exclusive create — lose the race, skip the unit (fail fast,
        // never interleave two compactions of the same unit)
        if (scala.util.Try(fs.createNewFile(lock)).getOrElse(false)) {
          // re-list under the lock: a compactor that committed between
          // our probe listing and the lock acquire changed the files
          val files = dataFiles()
          if (files.length > outFiles(files)) {
            locks += lock.toString
            // the cycle nonce names this cycle's staging dir, copies
            // and manifest, so a mid-write crash is undoable; it is
            // the lock's ONLY content, written once, never rewritten
            val nonce = System.nanoTime()
            inFlight += ((d, nonce, lock))
            write(lock, s"$nonce\n")
            val df = spark.read.parquet(files.map(_.getPath.toString): _*)
            val tmp = new Path(d, s".compact-tmp-$nonce")
            df.coalesce(outFiles(files).toInt)
              .write.mode("overwrite").parquet(tmp.toString)
            fs.listStatus(tmp)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .zipWithIndex.foreach { case (f, i) =>
                fs.rename(f.getPath,
                  new Path(d, s"compact-$nonce-$i.parquet"))
              }
            fs.delete(tmp, true)
            // the snapshot manifest: a fresh write-once file, SENTINEL
            // LAST — a torn write leaves no trailing COMMIT line, so
            // recovery can only roll forward from a manifest that is
            // provably complete (its presence is what authorizes a
            // commit). The lock is NOT rewritten — it can never
            // transit through an empty state while copies exist.
            val snap = files.map(_.getPath.toString)
            val manifest = new Path(d, s"$ManifestPrefix$nonce")
            write(manifest,
              s"$nonce\n${snap.mkString("\n")}\n$ManifestMark\n")
            manifests += manifest.toString
            snap.foreach(replaced += _)
          } else {
            // the race winner already consolidated this unit: release
            // the lock NOW — a deferred commit must not block the
            // unit's future cycles for a no-op
            fs.delete(lock, false)
          }
        }
      }
    } catch { case e: Throwable =>
      // in-process failure: undo every unit this call touched so the
      // caller never needs recover() for a call that merely THREW —
      // every original is still present, so deleting this call's
      // copies, manifests and locks is a clean no-trace undo. Order
      // per unit: MANIFEST FIRST, then copies/tmp, then lock — if
      // this undo itself dies (or a delete throws, swallowed by the
      // Try) after removing copies, a surviving COMPLETE manifest
      // would otherwise make recover() roll FORWARD and delete
      // originals whose copies are already gone; with the manifest
      // gone first, every partial-undo crash state is (lock, maybe
      // copies, no manifest) = ROLL BACK, which is always safe.
      inFlight.foreach { case (d, nonce, lock) =>
        scala.util.Try {
          fs.delete(new Path(d, s"$ManifestPrefix$nonce"), false)
          fs.listStatus(d).foreach { f =>
            val n = f.getPath.getName
            if (n.startsWith(s"compact-$nonce-") ||
              n == s".compact-tmp-$nonce")
              fs.delete(f.getPath, true)
          }
          fs.delete(lock, false)
        }
      }
      throw e
    }
    PendingCompaction(dir, replaced.result(), locks.result(),
      manifests.result())
  }

  /** Phase 2: drop exactly the snapshot files phase 1 replaced, then
    * release the unit locks, then the manifests — strictly in that
    * order: a crash at any point leaves either (lock + complete
    * manifest) or (complete manifest alone), both of which [[recover]]
    * rolls FORWARD; deleting a manifest while its lock remained would
    * instead misroute recovery into rolling back copies whose
    * originals are already gone. Read the object doc before calling
    * this with reads in flight — deletion is what breaks late
    * readers. */
  private[graft] def compactCommit(spark: SparkSession,
      pending: PendingCompaction): Unit = {
    val fs = new Path(pending.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pending.replaced.foreach(p => fs.delete(new Path(p), false))
    pending.locks.foreach(p => fs.delete(new Path(p), false))
    pending.manifests.foreach(p => fs.delete(new Path(p), false))
  }

  /** Crash recovery: finish or undo every dead compactor under `dir`
    * (recursive) from its lock + manifest WAL — see the object doc's
    * crash contract for the unit states. Roll-forward deletes original
    * files, so it carries the commit phase's read-horizon contract.
    * Only run this when no live compactor holds the locks — the
    * caller owns knowing the compactor is dead (same as any
    * single-writer maintenance lease). */
  def recover(spark: SparkSession, dir: String): Recovery = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Recovery(0, 0, 0)
    var forward = 0
    var back = 0
    var dropped = 0
    def readAll(p: Path, len: Int): String = {
      // readFully, not a single read(): a short read that truncated
      // the manifest would misroute a completed write to ROLL BACK —
      // deleting copies whose originals an interrupted commit may
      // already have removed
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try { if (len > 0) in.readFully(0, buf) } finally in.close()
      new String(buf, StandardCharsets.UTF_8)
    }
    def manifestLines(unit: Path, nonce: String): Option[Seq[String]] = {
      val m = new Path(unit, s"$ManifestPrefix$nonce")
      if (!fs.exists(m)) None
      else Some(readAll(m, fs.getFileStatus(m).getLen.toInt)
        .split("\n").toSeq.filter(_.nonEmpty))
    }
    // roll forward ONLY on a provably complete manifest: the COMMIT
    // sentinel is written last, so a torn write cannot masquerade as
    // one
    def complete(lines: Seq[String]): Boolean =
      lines.size >= 2 && lines.last == ManifestMark
    def rollForward(unit: Path, nonce: String, lines: Seq[String],
        lock: Option[Path]): Unit = {
      // the copies hold every snapshot row — finish the interrupted
      // commit (snapshot files, then lock, then manifest: recovery's
      // own crash points re-classify as roll-forward too)
      lines.slice(1, lines.size - 1)
        .foreach(f => fs.delete(new Path(f), false))
      lock.foreach(l => fs.delete(l, false))
      fs.delete(new Path(unit, s"$ManifestPrefix$nonce"), false)
      forward += 1
    }
    def rollBack(unit: Path, nonce: String, lock: Path): Unit = {
      // died mid-write (or mid-manifest): undo this cycle's partial
      // copies and torn manifest; every original is still present
      fs.listStatus(unit).foreach { f =>
        val n = f.getPath.getName
        if (n.startsWith(s"compact-$nonce-") ||
          n == s".compact-tmp-$nonce" || n == s"$ManifestPrefix$nonce")
          fs.delete(f.getPath, true)
      }
      fs.delete(lock, false)
      back += 1
    }
    def sweep(p: Path): Unit = {
      val entries = fs.listStatus(p)
      // the lock's nonce (empty string for an empty lock), used to
      // tell THIS cycle's manifest from an orphan of an OLDER cycle:
      // a lock for cycle N2 must not shield cycle N1's leftover
      // manifest from the orphan sweep, or the unit needs two
      // recover passes to converge
      val lockNonce: Option[String] = entries
        .find(s => !s.isDirectory && s.getPath.getName == LockName)
        .map(s => readAll(s.getPath, s.getLen.toInt)
          .split("\n").toSeq.filter(_.nonEmpty)
          .headOption.getOrElse(""))
      entries.foreach { s =>
        val name = s.getPath.getName
        // dot-dirs (`.compact-tmp-*` staging) are never units, and a
        // roll-back earlier in this very listing may already have
        // deleted them — don't recurse into them
        if (s.isDirectory) { if (!name.startsWith(".")) sweep(s.getPath) }
        else if (name == LockName) {
          val unit = s.getPath.getParent
          val lines = readAll(s.getPath, s.getLen.toInt)
            .split("\n").toSeq.filter(_.nonEmpty)
          lines.headOption match {
            case None =>
              // empty lock: died between createNewFile and the nonce
              // write; the nonce write precedes all staging, so
              // nothing of this cycle exists — release the lock only
              fs.delete(s.getPath, false)
              dropped += 1
            case Some(nonce) =>
              manifestLines(unit, nonce) match {
                case Some(m) if complete(m) =>
                  rollForward(unit, nonce, m, Some(s.getPath))
                case _ =>
                  rollBack(unit, nonce, s.getPath)
              }
          }
        } else if (name.startsWith(ManifestPrefix) &&
            !lockNonce.contains(name.stripPrefix(ManifestPrefix))) {
          // orphan manifest: no lock holds ITS nonce — either the
          // lock is gone (a commit or undo crashed after releasing
          // it) or a NEWER cycle has since locked the unit, which
          // must not shield the older leftover. Complete → finish the
          // commit; torn (unreachable by any crash, defensively
          // handled) → drop the manifest, never touch copies.
          val unit = s.getPath.getParent
          val nonce = name.stripPrefix(ManifestPrefix)
          val lines = readAll(s.getPath, s.getLen.toInt)
            .split("\n").toSeq.filter(_.nonEmpty)
          if (complete(lines)) rollForward(unit, nonce, lines, None)
          else { fs.delete(s.getPath, false); dropped += 1 }
        }
      }
    }
    sweep(root)
    Recovery(forward, back, dropped)
  }

  /** Pinned listing of `dir`'s parquet data files (recursive; hidden
    * and `_`-prefixed names pruned, like Spark's own file index), plus
    * whether the compaction double-visibility window is OPEN — i.e.
    * whether any single unit directory currently holds both compacted
    * (`compact-*`) and original files. Readers that scan exactly the
    * returned files make the window test and the scan see the SAME
    * listing (no list-then-relist race), so the dedup that absorbs the
    * window can be applied only while it is open instead of on every
    * read — the window tolerance priced as a transient cost, not a
    * permanent one. */
  private[graft] def pinnedListing(spark: SparkSession, dir: String)
      : (Seq[String], Boolean) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (Seq.empty, false)
    val leaves = Seq.newBuilder[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      val name = s.getPath.getName
      if (s.isFile) {
        if (name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_")) leaves += s
      } else if (!name.startsWith(".") && !name.startsWith("_"))
        walk(s.getPath)
    }
    walk(root)
    val files = leaves.result()
    // per-UNIT window test: the adopters' unit dirs are immutable once
    // written (appends land in NEW version dirs), so a unit holding
    // files of more than one GENERATION — raw originals plus a
    // compaction cycle's `compact-<nonce>-*` copies, or two cycles'
    // nonces (a recompaction of an already-compacted unit) — is
    // exactly a unit inside the write→commit window. Post-commit a
    // unit holds one generation and the dedup cost drops back to zero;
    // a global both-kinds test would instead flag the steady state
    // where some units are compacted and others fresh, forever.
    val windowOpen = files.groupBy(_.getPath.getParent).values.exists {
      unit =>
        val gens = unit.map { f =>
          val n = f.getPath.getName
          if (n.startsWith("compact-"))
            n.split("-").take(2).mkString("-")
          else "raw"
        }.toSet
        gens.size > 1 && gens.exists(_ != "raw")
    }
    (files.map(_.getPath.toString), windowOpen)
  }
}
