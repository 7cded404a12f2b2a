package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bloom, Skew}
import graft.sources.{FileManifest, Writers}

/** Scale-shape checks: salted join equivalence, bucketed-table join
  * shuffle elimination, SQL registration of native functions. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("salted join returns exactly the plain join's rows") {
    val big = Seq.tabulate(100)(i => (i % 3, i)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c"), (7, "zz")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
      .as[(Int, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, factor = 4,
      saltSource = Seq("v")).select("k", "v", "name")
      .as[(Int, Int, String)].collect().toSet
    assert(salted === plain)
    assert(salted.size === 100)
  }

  test("bucketed tables join without a shuffle exchange") {
    val a = Seq.tabulate(50)(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = Seq.tabulate(50)(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Writers.bucketedTable(a, "bkt_a", Seq("k"), 4, Seq("k"))
    Writers.bucketedTable(b, "bkt_b", Seq("k"), 4, Seq("k"))
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === 50)
    spark.sql("DROP TABLE bkt_a"); spark.sql("DROP TABLE bkt_b")
  }

  test("materialized pair tables are bucketed: id_a derivations plan with no Exchange") {
    val dir = "/root/testdata/sf0.001"
    val pairs = graft.operators.PairTable.pairs(spark, dir)
    // the canonical derivation key: per-doc pair aggregation (cluster
    // labels / survivor picks / q110-q113 all start here) must read
    // the bucketed layout as already-hash-partitioned input
    val agg = pairs.groupBy($"id_a").agg(count(lit(1)).as("n_pairs"))
    val aplan = agg.queryExecution.executedPlan.toString
    assert(!aplan.contains("Exchange hashpartitioning"),
      s"bucketed pair-table aggregation should not shuffle:\n$aplan")
    assert(agg.count() > 0)
    // derivation-joins-derivation (survivor pick against per-doc max)
    // co-locates too — force the sort-merge path so the assertion is
    // about bucketing, not about a broadcast hiding the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val best = pairs.groupBy($"id_a").agg(max($"jaccard").as("best"))
      val joined = pairs.join(best, Seq("id_a"))
      val jplan = joined.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange hashpartitioning"),
        s"bucketed pair-table self-derivation join should not shuffle:\n$jplan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the embedding pair table shares the layout contract
    val embed = graft.operators.PairTable.embedPairs(spark, dir)
    val eplan = embed.groupBy($"id_a").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!eplan.contains("Exchange hashpartitioning"),
      s"bucketed embed-pair aggregation should not shuffle:\n$eplan")
  }

  test("range-clustered write: disjoint per-file key ranges, tight stats") {
    import org.apache.spark.sql.functions.{col, input_file_name, max => fmax, min => fmin}
    val dir = GraftTestSpark.tmpDir("graftrange")
    val df = Seq.tabulate(1000)(i => ((i * 7919) % 1000).toLong -> s"v$i")
      .toDF("k", "v")
    Writers.rangeClusteredParquet(df, s"$dir/out", Seq("k"), nFiles = 4)
    val perFile = spark.read.parquet(s"$dir/out")
      .groupBy(input_file_name().as("f"))
      .agg(fmin(col("k")).as("lo"), fmax(col("k")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length === 4)
    // ranges must be disjoint and ordered: file N's max < file N+1's min
    perFile.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: ${perFile.toSeq}")
    }
    assert(spark.read.parquet(s"$dir/out").count() === 1000)
  }

  test("dynamic partition pruning: a filtered dim prunes the fact " +
      "scan's partitions at runtime") {
    // the 100 TB star-join shape: the fact table is storage-partitioned
    // on the join key, the dim filter is only known at runtime, and
    // Catalyst injects a dynamicpruning subquery that reuses the dim's
    // broadcast to skip fact partitions entirely — scan cost tracks the
    // SELECTED partitions, not the table
    val dir = GraftTestSpark.tmpDir("graftdpp")
    val tt = Tables(spark, "/root/testdata/sf0.001")
    tt.lineitem.select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .write.partitionBy("l_returnflag").parquet(s"$dir/fact")
    // dim must come from storage: a filter over an in-memory
    // LocalRelation is constant-folded away before the pruning rule
    // looks for a selective predicate
    Seq(("A", "keep"), ("N", "drop"), ("R", "drop"))
      .toDF("l_returnflag", "category")
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val q = fact.join(broadcast(dim.where($"category" === "keep")),
      Seq("l_returnflag"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")
    // and the pruning is real: the result equals the one selected
    // partition, computed without DPP for comparison
    val expected = fact.where($"l_returnflag" === "A").count()
    assert(q.count() === expected)
  }

  test("native functions are callable from SQL after registration") {
    Seq((1L, "The Fast key the fast")).toDF("id", "text")
      .createOrReplaceTempView("sqldocs")
    val r = spark.sql(
      """SELECT tokenize(text) AS toks,
        |word_shingles(text, 2) AS sh,
        |simhash_bits(tokenize(text)) AS bits FROM sqldocs""".stripMargin)
      .head()
    assert(r.getSeq[String](0) === Seq("the", "fast", "key", "the", "fast"))
    assert(r.getSeq[String](1) ===
      Seq("the fast", "fast key", "key the")) // distinct, first-occurrence
    assert(r.getString(2).length === 64)
  }

  test("skew workload: salting spreads the hot key across shuffle partitions") {
    // hot-key workload: 90% of the big side is key 7 (the shape AQE
    // can't split in a shuffled-hash build side)
    val big = Seq.tabulate(2000)(i =>
      (if (i % 10 == 0) i.toLong % 50 else 7L, i)).toDF("k", "v")
    val small = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "name")

    // plain shuffle join: every hot-key output row lands in ONE
    // hash(k) partition; salted: hot key spans min(factor, partitions)
    def hotPartitions(df: DataFrame): Long = df
      .where($"k" === 7L)
      .select(spark_partition_id().as("p")).distinct().count()

    val plain = big.repartition(8, $"k")
    val salted = big
      .withColumn("_salt", pmod(hash($"v"), lit(8)))
      .repartition(8, $"k", $"_salt")
    assert(hotPartitions(plain) === 1L)
    assert(hotPartitions(salted) > 1L)

    // and the full salted join still returns exactly the plain rows
    val plainRows = big.join(small, Seq("k"))
      .select("k", "v", "name").as[(Long, Int, String)].collect().toSet
    val saltedRows = Skew.saltedJoin(big, small, factor = 8,
        saltSource = Seq("v"))
      .select("k", "v", "name").as[(Long, Int, String)].collect().toSet
    assert(saltedRows === plainRows)
  }

  test("AQE skew join engages: the hot partition is split at runtime") {
    // the README claims AQE as the runtime skew mitigation for big
    // sort-merge joins; prove the OptimizeSkewedJoin rule actually
    // fires on a hot-key workload under forced-low thresholds
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // force a sort-merge join (broadcast would dodge the skew path)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = Seq.tabulate(20000)(i =>
        (if (i % 10 == 0) i.toLong % 50 else 7L, s"payload-$i")).toDF("k", "v")
      val right = Seq.tabulate(2000)(i => (i.toLong % 50, i)).toDF("k", "w")
      val joined = big.join(right, Seq("k"))
      // execute THIS dataset's queryExecution (df.count() would build
      // a separate one and leave this plan un-finalized) without
      // collecting ~720k join rows to the driver
      assert(joined.queryExecution.toRdd.count() > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("bloom-pruned semi join returns exactly the plain semi join's rows") {
    val big = Seq.tabulate(1000)(i => (i.toLong % 250, i)).toDF("k", "v")
    val small = Seq(3L, 17L, 99L, 4096L).toDF("sk")
    val plain = big.join(small, big("k") === small("sk"), "left_semi")
      .as[(Long, Int)].collect().toSet
    val pruned = Bloom.bloomPrunedSemiJoin(big, small, "k", "sk", 100L)
      .as[(Long, Int)].collect().toSet
    assert(pruned === plain)
    assert(plain.size === 12) // 3 matching keys × 4 copies each
    // the sketch itself never false-negatives a present key
    val sketch = Bloom.bloomOf(small, "sk", 100L)
    val probed = small.where(Bloom.mightContain(sketch, $"sk")).count()
    assert(probed === 4)
  }

  test("GraftExtensions injects the native SQL surface at session construction") {
    import org.apache.spark.sql.SparkSession
    spark.sparkContext // ensure the shared context exists first
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      // reuses the live SparkContext; extensions apply to the NEW
      // session. (`spark.sql.extensions=graft.GraftExtensions` is the
      // spark-submit equivalent — a STATIC conf, so in-JVM with a
      // shared context the builder hook is the testable path.)
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT size(winnow_fingerprints('a b c a b c a b c', 8, 4)) AS n,
          |tokenize('X y') AS t""".stripMargin).head()
      assert(r.getInt(0) > 0)
      assert(r.getSeq[String](1) === Seq("x", "y"))
      // derived sessions inherit the surface (temp functions would not)
      assert(s2.newSession()
        .sql("SELECT hamming_dist('ab', 'ac')").head().getInt(0) === 1)
      // zorder_key: 3=(bits 0,1)→even positions {0,2}=5; 5=(bits 0,2)
      // →odd positions {1,5}=34; 5|34=39
      assert(s2.sql("SELECT zorder_key(3L, 5L)").head().getLong(0) === 39L)

      // injected optimizer rule: levenshtein(a,b) <= k rewrites to the
      // banded O(n·k) threshold form, results unchanged. (A parquet
      // scan — a literal relation would be constant-folded away.)
      import s2.implicits._
      val probe = lit("key agg row scan slow fast")
      val docs = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val filtered = docs.where(levenshtein($"text", probe) <= 20)
      val plan = filtered.queryExecution.optimizedPlan.toString
      assert(plan.matches("(?s).*levenshtein\\([^)]*Some\\(20\\)\\) >= 0.*"),
        s"bounded levenshtein should appear in the plan:\n$plan")
      // same rows as the unbounded distance computed on the JVM, where
      // no optimizer rule can rewrite it
      import org.apache.spark.unsafe.types.UTF8String
      val probeUtf8 = UTF8String.fromString("key agg row scan slow fast")
      val expected = docs.select($"text").as[String].collect()
        .count(t => t != null &&
          UTF8String.fromString(t).levenshteinDistance(probeUtf8) <= 20)
      assert(filtered.count() === expected)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  test("native expressions run under forced whole-stage codegen (no fallback)") {
    import graft.expressions.{TextExpressions => TE, VectorExpressions => VE}
    // CODEGEN_ONLY + fallback=false: a doGenCode failure throws instead
    // of silently dropping the projection to interpreted mode
    val conf = spark.conf
    val oldFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val oldFallback = conf.get("spark.sql.codegen.fallback", "true")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = Seq(("a b c a", Array(1.0, 0.0), Array(0.6, 0.8)))
        .toDF("text", "va", "vb")
        .select(
          TE.tokenize($"text").as("toks"),
          TE.wordShingles($"text", 2).as("sh"),
          TE.simhashBits(TE.tokenize($"text")).as("bits"),
          VE.cosineSim($"va", $"vb").as("cos"))
        .select(size($"toks"), size(TE.minhashSig($"sh", 2)),
          TE.hammingDist($"bits", $"bits"), $"cos",
          size(TE.winnowFingerprints(lit("a b c a b c a b c a b c"), 8, 4)))
        .head()
      assert(row.getInt(0) === 4)
      assert(row.getInt(1) === 2)
      assert(row.getInt(2) === 0)
      assert(math.abs(row.getDouble(3) - 0.6) < 1e-12)
      assert(row.getInt(4) > 0)
    } finally {
      conf.set("spark.sql.codegen.factoryMode", oldFactory)
      conf.set("spark.sql.codegen.fallback", oldFallback)
    }
  }

  // ---- Z-order clustered layout (q140's write path) ----

  /** Per-file (user_id min/max, value min/max) from the parquet
    * footers — the statistics a scan's row-group/file pruning actually
    * consults, read directly so the assertion is about the LAYOUT, not
    * about any particular reader's pruning implementation. */
  private def footerStats(dir: String)
      : Seq[(Long, Long, Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          var uMin = Long.MaxValue; var uMax = Long.MinValue
          var vMin = Double.MaxValue; var vMax = -Double.MaxValue
          r.getRowGroups.forEach { bm =>
            bm.getColumns.forEach { cm =>
              cm.getPath.toDotString match {
                case "user_id" =>
                  val st = cm.getStatistics
                    .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
                  uMin = math.min(uMin, st.getMin); uMax = math.max(uMax, st.getMax)
                case "value" =>
                  val st = cm.getStatistics
                    .asInstanceOf[org.apache.parquet.column.statistics.DoubleStatistics]
                  vMin = math.min(vMin, st.getMin); vMax = math.max(vMax, st.getMax)
                case _ =>
              }
            }
          }
          (uMin, uMax, vMin, vMax)
        } finally r.close()
      }
  }

  test("zorder kernel: interleave pins and 16-bit masking") {
    import graft.expressions.ZOrderKernels.interleave16
    assert(interleave16(0xFFFFL, 0L) === 0x55555555L)
    assert(interleave16(0L, 0xFFFFL) === 0xAAAAAAAAL)
    assert(interleave16(0xFFFFL, 0xFFFFL) === 0xFFFFFFFFL)
    assert(interleave16(3L, 5L) === 39L)
    // only the low 16 bits participate
    assert(interleave16(0x10003L, 0x20005L) === interleave16(3L, 5L))
  }

  test("z-order layout bounds BOTH dimensions' file stats; single-column sort leaves the other at full width") {
    // hash-repartition first: repartitionByRange SAMPLES per input
    // partition, so the range bounds (and thus per-file stat spans)
    // depend on the ambient file-split layout — in the shared test
    // JVM that drifts with suite order and left this assertion
    // straddling its threshold. A deterministic key repartition pins
    // the partition contents and with them the sampled bounds.
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      .select($"event_id", $"user_id", $"value")
      .repartition(8, $"event_id")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder_").toFile
    val sDir = java.nio.file.Files.createTempDirectory("graft_usort_").toFile
    graft.operators.TempDirs.deleteRecursivelyOnExit(zDir)
    graft.operators.TempDirs.deleteRecursivelyOnExit(sDir)
    val nFiles = 16
    // quant16 scaling gives both dimensions equal weight in
    // the curve (raw values would let the wide `value` range dominate
    // the key's high bits and the narrow user_id would not cluster)
    Writers.zorderedParquet(ev, zDir.getAbsolutePath,
      graft.expressions.ZOrderExpressions.quant16($"user_id", 150),
      graft.expressions.ZOrderExpressions.quant16($"value", 491), nFiles)
    Writers.rangeClusteredParquet(ev, sDir.getAbsolutePath,
      Seq("user_id"), nFiles)
    // layout must not change the data
    assert(spark.read.parquet(zDir.getAbsolutePath).count() === ev.count())

    val zStats = footerStats(zDir.getAbsolutePath)
    val sStats = footerStats(sDir.getAbsolutePath)
    assert(zStats.size === nFiles && sStats.size === nFiles)

    def touchedByValue(stats: Seq[(Long, Long, Double, Double)],
        lo: Double, hi: Double): Int =
      stats.count { case (_, _, vMin, vMax) => vMax >= lo && vMin <= hi }
    def touchedByUser(stats: Seq[(Long, Long, Double, Double)],
        lo: Long, hi: Long): Int =
      stats.count { case (uMin, uMax, _, _) => uMax >= lo && uMin <= hi }

    // a value-dimension box: the user_id-sorted layout cannot prune at
    // all (every file's value span is ~full width), the z-ordered one
    // skips most files
    val sTouched = touchedByValue(sStats, 100.0, 120.0)
    val zTouched = touchedByValue(zStats, 100.0, 120.0)
    assert(sTouched === nFiles,
      s"user_id-sorted layout unexpectedly clusters value: $sTouched")
    assert(zTouched < nFiles / 2,
      s"z-order should prune most files on the value dim, touched $zTouched/$nFiles")
    // and the z-order still prunes on user_id too — both dimensions
    // are bounded, which is the whole point vs a single-column sort
    val zUser = touchedByUser(zStats, 10L, 20L)
    assert(zUser < nFiles,
      s"z-order should also prune on user_id, touched $zUser/$nFiles")
  }

  test("file manifest: footer-stats skipping shrinks the file list, result rows unchanged") {
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      .select($"event_id", $"user_id", $"value")
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_").toFile
    graft.operators.TempDirs.deleteRecursivelyOnExit(dir)
    Writers.zorderedParquet(ev, dir.getAbsolutePath,
      graft.expressions.ZOrderExpressions.quant16($"user_id", 150),
      graft.expressions.ZOrderExpressions.quant16($"value", 491), 16)
    FileManifest.write(spark, dir.getAbsolutePath, Seq("user_id", "value"))

    val pruned = FileManifest.prunedRead(spark, dir.getAbsolutePath,
        100.0, 120.0)
      .where($"value" >= 100.0 && $"value" <= 120.0)
    val full = spark.read.parquet(dir.getAbsolutePath)
      .where($"value" >= 100.0 && $"value" <= 120.0)
    // same rows, fewer files even opened
    assert(pruned.select($"event_id").as[Long].collect().sorted.toSeq ===
      full.select($"event_id").as[Long].collect().sorted.toSeq)
    assert(pruned.inputFiles.length < 16,
      s"expected file skipping, read ${pruned.inputFiles.length}/16")
    // a range outside every file's span reads nothing at all
    val none = FileManifest.prunedRead(spark, dir.getAbsolutePath,
      1e6, 2e6)
    assert(none.count() === 0L)
  }
}
