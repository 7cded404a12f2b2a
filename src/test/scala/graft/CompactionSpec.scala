package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Compaction, Recovery}

/** Property pin for the generic two-phase compaction helper
  * ([[graft.operators.Compaction]]) that the vector index, the CDC
  * table, and the streaming pair table all adopt (their concrete
  * mid-compaction tests live in StreamingSpec). The helper itself is
  * swept here over random layouts:
  *
  *  - multiset equality: after a full compact() the table holds
  *    exactly the original rows, for any (units, files/unit,
  *    rows/file) regime, flat or partition-prefixed;
  *  - file consolidation actually happens: every unit ends at one
  *    file at the default target size, and the returned replaced
  *    count covers exactly the multi-file units' files;
  *  - the window contract: between compactWrite and compactCommit
  *    the ONLY anomaly is double-visibility of snapshot rows — a
  *    reader deduping a unique key sees exactly the original table;
  *  - appends landing inside the window are never lost, and never
  *    deleted by the commit (the snapshot-scoped delete).
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  /** Write `ids` as ONE parquet file appended to `dir`. */
  private def appendFile(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("id").coalesce(1).write.mode("append").parquet(dir)
  }

  private def readIds(dir: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(dir).select("id").as[Long].collect().toSeq.sorted
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else d.listFiles.toSeq.filter(f =>
      f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
  }

  test("property: multiset equality + consolidation over random layouts") {
    import org.scalacheck.Gen
    val regime = for {
      units <- Gen.chooseNum(1, 3)
      files <- Gen.listOfN(units, Gen.chooseNum(1, 5))
      flat <- Gen.oneOf(true, false)
    } yield (files, units == 1 && flat)
    def sample(): (List[Int], Boolean) =
      Iterator.continually(regime.sample).flatten.next()

    for (trial <- 1 to 12) {
      val (filesPerUnit, flat) = sample()
      val root = GraftTestSpark.tmpDir(s"compactprop$trial")
      var next = 0L
      val unitDirs =
        if (flat) Seq(root)
        else filesPerUnit.indices.map(u => s"$root/u=$u")
      unitDirs.zip(filesPerUnit).foreach { case (d, nf) =>
        (0 until nf).foreach { _ =>
          appendFile(d, Seq(next, next + 1)); next += 2
        }
      }
      val before = readIds(root)
      val replaced = Compaction.compact(spark, root,
        partitionPrefix = if (flat) None else Some("u="))
      val after = readIds(root)
      assert(after == before,
        s"trial $trial: rows changed (files=$filesPerUnit flat=$flat)")
      unitDirs.foreach { d =>
        assert(parquetFiles(d).size == 1,
          s"trial $trial: unit $d not consolidated to one file")
      }
      val expectedReplaced = filesPerUnit.filter(_ > 1).sum
      assert(replaced == expectedReplaced,
        s"trial $trial: replaced $replaced, expected $expectedReplaced " +
          s"(files=$filesPerUnit)")
    }
  }

  test("window contract: dedup reader sees the original; mid-window " +
      "appends survive the commit") {
    val root = GraftTestSpark.tmpDir("compactwin")
    (0 until 4).foreach(i => appendFile(root, Seq(i * 2L, i * 2L + 1)))
    val before = readIds(root)

    val snapshot = Compaction.compactWrite(spark, root, None)
    assert(snapshot.size == 4, "all four fragments in the snapshot")
    // inside the window: snapshot rows visible twice; the adopters'
    // unique-key dedup restores the original view
    assert(readIds(root) == (before ++ before).sorted)
    assert(spark.read.parquet(root).dropDuplicates("id")
      .count() == before.size)

    // an append lands between the phases (not in the snapshot)
    appendFile(root, Seq(100L, 101L))

    Compaction.compactCommit(spark, snapshot)
    assert(readIds(root) == (before ++ Seq(100L, 101L)).sorted,
      "commit deleted exactly the snapshot; the mid-window append survived")
  }

  test("unit lock: a concurrent compaction of a locked unit skips it " +
      "(fail-safe, no interleaving); the lock releases on commit") {
    val root = GraftTestSpark.tmpDir("compactlock")
    (0 until 3).foreach(i => appendFile(root, Seq(i * 2L, i * 2L + 1)))
    val before = readIds(root)

    val first = Compaction.compactWrite(spark, root, None)
    assert(first.size == 3 && first.locks.size == 1)
    // a second compactor racing into the same unit mid-window: the
    // exclusive lock makes it a no-op instead of a double-delete
    val second = Compaction.compactWrite(spark, root, None)
    assert(second.isEmpty && second.locks.isEmpty,
      "locked unit must be skipped, not compacted twice")
    Compaction.compactCommit(spark, second)

    Compaction.compactCommit(spark, first)
    assert(readIds(root) == before, "rows intact after the race")
    assert(parquetFiles(root).size == 1, "still consolidated to one file")
    // lock released: a later compaction cycle can take the unit again
    appendFile(root, Seq(50L, 51L))
    val third = Compaction.compact(spark, root)
    assert(third == 2 && readIds(root) == (before ++ Seq(50L, 51L)).sorted)
  }

  test("crash contract: recover rolls an interrupted commit FORWARD " +
      "from the lock WAL (copies hold every row; stale originals drop)") {
    val root = GraftTestSpark.tmpDir("compactfwd")
    (0 until 3).foreach(i => appendFile(root, Seq(i * 2L, i * 2L + 1)))
    val before = readIds(root)
    // write phase completed, commit never ran (the crash): lock holds
    // nonce + manifest, rows visible twice
    val crashed = Compaction.compactWrite(spark, root, None)
    assert(crashed.nonEmpty)
    assert(Compaction.compact(spark, root) == 0,
      "unit stays locked after the crash (skip, don't interleave)")
    assert(Compaction.recover(spark, root) == Recovery(1, 0, 0))
    assert(readIds(root) == before,
      "roll-forward finishes the commit: exactly the original rows")
    assert(parquetFiles(root).size == 1 &&
      parquetFiles(root).forall(_.startsWith("compact-")))
    // the unit is unlocked and fully maintainable again
    appendFile(root, Seq(50L, 51L))
    assert(Compaction.compact(spark, root) == 2)
    assert(readIds(root) == (before ++ Seq(50L, 51L)).sorted)
  }

  test("crash contract: recover rolls a mid-write crash BACK (partial " +
      "copies drop; every original survives)") {
    val root = GraftTestSpark.tmpDir("compactbck")
    (0 until 3).foreach(i => appendFile(root, Seq(i * 2L, i * 2L + 1)))
    val before = readIds(root)
    val originals = parquetFiles(root).toSet
    // simulate the mid-write crash state: lock holds only the nonce,
    // one partial copy landed, no manifest
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nonce = 12345L
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root, ".compact-lock"), true)
    out.write(s"$nonce\n".getBytes("UTF-8")); out.close()
    appendFile(root, Seq(0L, 1L)) // stand-in rows for the partial copy
    val partial = (parquetFiles(root).toSet -- originals).head
    fs.rename(new org.apache.hadoop.fs.Path(root, partial),
      new org.apache.hadoop.fs.Path(root, s"compact-$nonce-0.parquet"))

    assert(Compaction.recover(spark, root) == Recovery(0, 1, 0))
    assert(readIds(root) == before,
      "roll-back drops the partial copy; originals intact")
    assert(parquetFiles(root).toSet == originals)

    // a TORN manifest (file list present but no trailing COMMIT
    // sentinel) must also roll back — only a provably complete
    // manifest may authorize deleting originals
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(root, ".compact-lock"), true)
    out2.write(s"$nonce\n".getBytes("UTF-8"))
    out2.close()
    val out3 = fs.create(
      new org.apache.hadoop.fs.Path(root, s".compact-manifest-$nonce"),
      true)
    out3.write(s"$nonce\nfile:$root/${originals.head}\n".getBytes("UTF-8"))
    out3.close()
    assert(Compaction.recover(spark, root) == Recovery(0, 1, 0))
    assert(parquetFiles(root).toSet == originals,
      "a torn manifest must never delete the listed originals")

    // an EMPTY lock (died between createNewFile and the nonce write;
    // nothing staged by construction) is a drop-only release, and the
    // accounting says so — it is NOT a roll-back
    fs.create(new org.apache.hadoop.fs.Path(root, ".compact-lock"), true)
      .close()
    assert(Compaction.recover(spark, root) == Recovery(0, 0, 1))
    assert(parquetFiles(root).toSet == originals)

    assert(Compaction.compact(spark, root) == 3,
      "the unit compacts normally after recovery")
    assert(readIds(root) == before)
  }

  test("all-or-nothing: an in-process failure mid-call undoes every " +
      "unit this call staged — no locks, manifests or copies remain, " +
      "and the table is untouched and immediately maintainable") {
    import org.apache.hadoop.fs.Path
    val root = GraftTestSpark.tmpDir("compactundo")
    // unit A compacts cleanly; unit B's data is CORRUPT, so the read
    // throws after A has already been fully staged (copies+manifest)
    (0 until 3).foreach(i => appendFile(s"$root/u=a", Seq(i * 2L, i * 2L + 1)))
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$root/u=b"))
    (0 until 2).foreach { i =>
      val out = fs.create(new Path(s"$root/u=b/garbage-$i.parquet"), true)
      out.write(s"not parquet $i".getBytes("UTF-8")); out.close()
    }
    val before = readIds(s"$root/u=a")
    intercept[Throwable] {
      Compaction.compactWrite(spark, root, Some("u="))
    }
    // unit A's staging is fully undone: originals only, no control
    // files anywhere, and recover() finds nothing to do
    assert(readIds(s"$root/u=a") == before)
    assert(parquetFiles(s"$root/u=a").forall(!_.startsWith("compact-")),
      "unit A's staged copies must be rolled back")
    Seq("u=a", "u=b").foreach { u =>
      assert(!fs.exists(new Path(s"$root/$u/.compact-lock")),
        s"$u lock must be released by the undo")
      assert(fs.listStatus(new Path(s"$root/$u")).forall(s =>
        !s.getPath.getName.startsWith(".compact-manifest-")),
        s"$u manifest must be removed by the undo")
    }
    assert(Compaction.recover(spark, root) == Recovery(0, 0, 0),
      "a failed in-process call must not leave recovery work behind")
    // and the table is immediately maintainable once B is repaired
    fs.listStatus(new Path(s"$root/u=b")).foreach(s =>
      fs.delete(s.getPath, false))
    appendFile(s"$root/u=b", Seq(50L, 51L))
    appendFile(s"$root/u=b", Seq(52L, 53L))
    assert(Compaction.compact(spark, root, Some("u=")) == 5)
    assert(readIds(root) == (before ++ Seq(50L, 51L, 52L, 53L)).sorted)
  }

  test("crash contract: an orphan manifest of an OLDER cycle is not " +
      "shielded by a NEWER cycle's lock — one recover pass converges " +
      "both") {
    import org.apache.hadoop.fs.Path
    val root = GraftTestSpark.tmpDir("compact2nonce")
    (0 until 3).foreach(i => appendFile(root, Seq(i * 2L, i * 2L + 1)))
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(name: String, content: String): Unit = {
      val out = fs.create(new Path(root, name), true)
      out.write(content.getBytes("UTF-8")); out.close()
    }
    val originals = parquetFiles(root)
    // cycle N1: commit crashed after releasing the lock — a COMPLETE
    // orphan manifest remains, its copy present, one snapshot file
    // still undeleted
    appendFile(root, Seq(100L, 101L))
    val n1copy = (parquetFiles(root).toSet -- originals).head
    fs.rename(new Path(root, n1copy),
      new Path(root, "compact-111-0.parquet"))
    write(".compact-manifest-111",
      s"111\nfile:$root/${originals.head}\nCOMMIT\n")
    // cycle N2: a newer compactor took the lock and died mid-write
    write(".compact-lock", "222\n")
    appendFile(root, Seq(200L, 201L))
    val n2copy = (parquetFiles(root).toSet -- originals
      - "compact-111-0.parquet").head
    fs.rename(new Path(root, n2copy),
      new Path(root, "compact-222-0.parquet"))

    // ONE pass: N1's orphan rolls forward (its listed snapshot file
    // drops, manifest gone), N2 rolls back (partial copy drops)
    assert(Compaction.recover(spark, root) == Recovery(1, 1, 0))
    val after = parquetFiles(root).toSet
    assert(!after.contains(originals.head),
      "N1's listed snapshot file must drop (roll forward)")
    assert(after.contains("compact-111-0.parquet"),
      "N1's committed copy survives")
    assert(!after.contains("compact-222-0.parquet"),
      "N2's partial copy must drop (roll back)")
    assert(!fs.exists(new Path(root, ".compact-manifest-111")) &&
      !fs.exists(new Path(root, ".compact-lock")))
    assert(Compaction.recover(spark, root) == Recovery(0, 0, 0),
      "converged in ONE pass — idempotent thereafter")
  }

  test("property: recover converges from ANY crash point — random " +
      "lock/manifest truncations + copy/original subsets, flat (CDC) " +
      "and bucket= (pair-table) layouts, ~100 unit states") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(GraftTestSpark.tmpDir("crashseed"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rnd = new scala.util.Random(42)

    def readBytes(p: Path): Array[Byte] = {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try { if (len > 0) in.readFully(0, buf) } finally in.close()
      buf
    }
    def writeBytes(p: Path, b: Array[Byte]): Unit = {
      val out = fs.create(p, true)
      try out.write(b) finally out.close()
    }
    def truncate(p: Path, k: Int): Unit =
      writeBytes(p, readBytes(p).take(k))
    def listNames(d: Path): Seq[String] =
      fs.listStatus(d).map(_.getPath.getName).toSeq
    def controlFiles(root: Path): Seq[String] = {
      val acc = Seq.newBuilder[String]
      def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory) { if (n.startsWith(".compact-tmp-")) acc += n
          else walk(s.getPath) }
        else if (n == ".compact-lock" || n.startsWith(".compact-manifest-"))
          acc += n
      }
      walk(root); acc.result()
    }

    var stateCount = 0
    var fwdSeen = 0
    var backSeen = 0
    for (trial <- 1 to 60) { // 40×2 + 20×1 = 100 random unit states
      val buckets = trial % 3 != 0 // 2/3 of trials: pair-table layout
      val root = GraftTestSpark.tmpDir(s"crashprop$trial")
      val unitDirs =
        if (buckets) Seq(s"$root/bucket=0", s"$root/bucket=1")
        else Seq(root)
      var next = trial * 1000L
      unitDirs.foreach { d =>
        (0 until 2).foreach { _ =>
          appendFile(d, Seq(next, next + 1)); next += 2
        }
      }
      val before = readIds(root)
      val pending = Compaction.compactWrite(spark, root,
        if (buckets) Some("bucket=") else None)
      assert(pending.locks.size == unitDirs.size)

      // per unit: pick a crash scenario, mutate the completed
      // write-phase state into one reachable by a real crash, and
      // record the expected recovery classification
      var expF = 0; var expB = 0; var expD = 0
      unitDirs.foreach { d =>
        val unit = new Path(d)
        val lock = new Path(unit, ".compact-lock")
        val nonce = new String(readBytes(lock), "UTF-8").trim
        val manifest = new Path(unit, s".compact-manifest-$nonce")
        val copies = listNames(unit)
          .filter(_.startsWith(s"compact-$nonce-"))
        val originals = listNames(unit).filter(n =>
          n.endsWith(".parquet") && !n.startsWith("compact-"))
        stateCount += 1
        rnd.nextInt(5) match {
          case 0 => // torn nonce write: nothing of the cycle staged yet
            copies.foreach(c => fs.delete(new Path(unit, c), false))
            fs.delete(manifest, false)
            val k = rnd.nextInt(nonce.length + 1) // 0..len (no newline)
            truncate(lock, k)
            if (k == 0) expD += 1 else expB += 1
          case 1 => // died mid-stage: random copy subset, no manifest
            fs.delete(manifest, false)
            copies.foreach { c =>
              if (rnd.nextBoolean()) fs.delete(new Path(unit, c), false)
            }
            if (rnd.nextBoolean()) { // leftover staging dir
              val junk = new Path(unit, s".compact-tmp-$nonce/part-junk")
              writeBytes(junk, Array[Byte](1, 2, 3))
            }
            expB += 1
          case 2 => // torn manifest: truncated at an arbitrary byte
            val len = readBytes(manifest).length
            val k = rnd.nextInt(len)
            truncate(manifest, k)
            // complete iff only the final newline was cut — the
            // sentinel line itself survives any shorter prefix only
            // as a non-matching fragment
            val lines = new String(readBytes(manifest), "UTF-8")
              .split("\n").toSeq.filter(_.nonEmpty)
            if (lines.size >= 2 && lines.last == "COMMIT") expF += 1
            else expB += 1
          case 3 => // commit died mid-snapshot-delete (lock still held)
            originals.foreach { o =>
              if (rnd.nextBoolean()) fs.delete(new Path(unit, o), false)
            }
            expF += 1
          case 4 => // commit died after releasing the lock
            originals.foreach { o =>
              if (rnd.nextBoolean()) fs.delete(new Path(unit, o), false)
            }
            fs.delete(lock, false)
            expF += 1
        }
      }

      val rec = Compaction.recover(spark, root.toString)
      assert(rec == Recovery(expF, expB, expD),
        s"trial $trial: got $rec, expected " +
          s"Recovery($expF, $expB, $expD)")
      fwdSeen += expF; backSeen += expB
      assert(readIds(root) == before,
        s"trial $trial: reader-visible rows changed across recovery")
      assert(controlFiles(new Path(root)).isEmpty,
        s"trial $trial: control files left behind")
      assert(Compaction.recover(spark, root) == Recovery(0, 0, 0),
        s"trial $trial: recover not idempotent")
      // converged units must be all-originals or all-compacted, and
      // stay fully maintainable: a fresh cycle compacts cleanly
      unitDirs.foreach { d =>
        val gens = parquetFiles(d).map(n =>
          if (n.startsWith("compact-")) "c" else "r").toSet
        assert(gens.size == 1, s"trial $trial: mixed generations in $d")
      }
      appendFile(unitDirs.head, Seq(next, next + 1))
      Compaction.compact(spark, root,
        if (buckets) Some("bucket=") else None)
      assert(readIds(root) == (before ++ Seq(next, next + 1)).sorted,
        s"trial $trial: post-recovery compaction broke the table")
    }
    assert(stateCount >= 100 && fwdSeen > 0 && backSeen > 0,
      s"sweep breadth: $stateCount states ($fwdSeen fwd, $backSeen back)")
  }

  test("scoped window dedup: CdcStream readers pay the dedup only " +
      "while the double-visibility window is open") {
    import org.apache.spark.sql.functions._
    val tableDir = GraftTestSpark.tmpDir("compactscope")
    val base = spark.range(0, 64).select(col("id").as("doc_id"),
      concat(lit("d"), col("id")).as("text")).repartition(4)
    graft.streaming.CdcStream.init(base, tableDir)
    def snap() = graft.streaming.CdcStream.readSnapshot(spark, tableDir)
    def hasDedup(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("Deduplicate")

    assert(!hasDedup(snap()),
      "no compaction yet: the read must not plan a dedup shuffle")
    assert(snap().count() == 64)

    val pending = graft.streaming.CdcStream.compactCurrentDeferred(
      spark, tableDir)
    assert(pending.nonEmpty)
    assert(hasDedup(snap()),
      "window open: the pinned listing must trigger the dedup")
    assert(snap().count() == 64, "window dedup restores the exact view")

    pending.commit(spark)
    assert(!hasDedup(snap()),
      "window closed: the dedup cost must drop back to zero")
    assert(snap().count() == 64)
  }
}
