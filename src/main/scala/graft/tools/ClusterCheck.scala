package graft.tools

import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftExtensions
import graft.expressions.TextKernels
import graft.operators.{Analytics, Similarity}
import graft.plans.SimJoinRegime

/** Multi-JVM execution check: `ClusterCheck [sfDir]` runs the
  * engine's custom operators on a REAL multi-executor master —
  * `local-cluster[2,4,2048]`, which forks two separate executor JVMs
  * through the standalone Worker launch path — and compares every
  * result against a driver-local single-threaded reference.
  *
  * What this pins that `local[n]` cannot: in local mode the driver and
  * executors share one JVM, so broadcast values are never actually
  * serialized, custom `SparkPlan`s / `TypedImperativeAggregate`
  * buffers never cross a process boundary, and a non-serializable
  * capture or a broken `serialize`/`deserialize` pair stays invisible.
  * Here every check forces the full distribution layer: task binaries
  * and broadcasts ship over the block manager to remote JVMs, shuffle
  * rows cross processes, and imperative aggregation buffers round-trip
  * through their byte codecs.
  *
  * The SEMANTICS of each operator are already oracle-checked against
  * DuckDB (CORRECTNESS gate); this tool's contract is narrower and
  * complementary — distributed execution ≡ local reference. Every
  * reference is a plain driver-side Scala loop over collected rows.
  * Two rows drive the engine's own scalar kernels from those loops
  * (`jaccard_rewrite`: [[TextKernels.jaccardSim]]; `zorder_key`:
  * `ZOrderKernels.interleave16`), so a divergence there is
  * attributable to the distribution layer, not to semantic drift. The
  * others are independent of the engine's kernels: the cosine rows
  * (`simjoin_exact`, `cosine_rewrite`, `simjoin_banded_stable`,
  * `simjoin_wide_banded_stable`) and `lev_rewrite` use this tool's own
  * `cosine`/`lev` loops, and the rest fold collected rows directly
  * (sums, maxima, as-of picks, prefix sums, key sets, counts);
  * `constraint_merge` also compares its merged state with the engine's
  * one-shot batch run.
  *
  * Prints one JSON line per check (`{"tool":"clustercheck",...}`) and
  * a summary line; exits 1 if any check fails. BASELINE.md pins the
  * table.
  *
  * Launch via `sbt "runMain graft.tools.ClusterCheck <sfDir>"` (or
  * any launcher that applies build.sbt's JDK-17 `--add-opens` set —
  * spark-submit injects the same list): a bare `java` driver dies in
  * Kryo's eager class registration (`Unable to create serializer …
  * java.nio.HeapByteBuffer`) as soon as a primitive-keyed shuffle
  * auto-picks Kryo, before any check's own code runs. The Worker adds
  * the flags to executor JVMs itself. A check that throws reports
  * its root cause on its JSON line and its stack on stderr.
  */
object ClusterCheck {

  private var failures = 0

  private def check(name: String)(body: => (Boolean, String)): Unit = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try body
      catch {
        case e: Throwable =>
          e.printStackTrace()
          (false, s"threw ${ExceptionUtils.getRootCauseMessage(e)}")
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (!ok) failures += 1
    println(f"""{"tool":"clustercheck","check":"$name","status":"${if (ok) "pass" else "FAIL"}","secs":$secs%.1f,"detail":${graft.Verify.jsonString(detail)}}""")
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def lev(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // executors are SEPARATE JVMs launched by the standalone Worker
    // from SPARK_HOME — they need this build's classes on their own
    // classpath. The driver's java.class.path carries exactly that,
    // but may hold RELATIVE entries (java -cp target/...), which the
    // executor would resolve against ITS cwd (the per-executor work
    // dir) — the classes then silently vanish remotely and every
    // graft closure deserializes to a raw SerializedLambda CCE.
    // Absolutize every entry against the driver's cwd first.
    val execCp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .filter(_.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val spark = GraftExtensions.session("local-cluster[2,4,2048]", 8,
      "spark.app.name" -> "graft-cluster-check",
      "spark.executor.extraClassPath" -> execCp,
      // the Worker builds the executor launch command through the
      // launcher library, whose scala-version probe needs this when
      // the JVM wasn't started by load-spark-env.sh (as under sbt)
      "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13")

    // wait for both executor JVMs so every check actually distributes
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.nanoTime() < deadline) Thread.sleep(200)
    val execs = spark.sparkContext.getExecutorMemoryStatus.size - 1
    println(s"""{"tool":"clustercheck","check":"executors_up","status":"${if (execs >= 2) "pass" else "FAIL"}","secs":0.0,"detail":"$execs remote executor JVMs"}""")
    if (execs < 2) { spark.stop(); sys.exit(1) }

    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val events = spark.read.parquet(s"$dir/events.parquet").cache()
    val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")

    // ---- 1. shuffle + broadcast sanity: grouped agg across JVMs ----
    check("shuffle_agg") {
      val got = lineitem.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
      val rows = lineitem.select("l_returnflag", "l_quantity").collect()
      val ref = rows.groupBy(_.getString(0)).map { case (k, rs) =>
        (k, (rs.map(_.getDouble(1)).sum, rs.length.toLong))
      }
      val ok = got.size == ref.size && ref.forall { case (k, (s, n)) =>
        got.get(k).exists { case (gs, gn) =>
          math.abs(gs - s) < 1e-6 && gn == n }
      }
      (ok, s"${got.size} groups over ${rows.length} rows")
    }

    // driver-side copies for the pairwise references
    val vecs: Array[(Long, Array[Double])] = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

    // ---- 2. custom exec: broadcast-gate cosine join ≡ reference ----
    val embA = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .where(col("id_a") < 50)
    val embB = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    lazy val cosineRef = (for {
      (ia, va) <- vecs if ia < 50
      (ib, vb) <- vecs if ia != ib
      if cosine(va, vb) >= 0.35
    } yield (ia, ib)).toSet
    check("simjoin_exact") {
      val got = Similarity.cosineJoin(embA, embB, "va", "vb", 0.35, SimJoinRegime.Exact)
        .where(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got == cosineRef, s"${got.size} pairs (ref ${cosineRef.size})")
    }

    // ---- 2b. naive SQL cosine join → broadcast-gate exec ≡ ref ----
    check("cosine_rewrite") {
      embA.createOrReplaceTempView("cc_emb_a")
      embB.createOrReplaceTempView("cc_emb_b")
      val q = spark.sql(
        """SELECT a.id_a, b.id_b
          |FROM cc_emb_a a JOIN cc_emb_b b
          |  ON cosine_sim(CAST(a.va AS ARRAY<DOUBLE>),
          |                CAST(b.vb AS ARRAY<DOUBLE>)) >= 0.35D
          | AND a.id_a <> b.id_b""".stripMargin)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hasExec = q.queryExecution.executedPlan.toString
        .contains("SimilarityBroadcastGate")
      (got == cosineRef && hasExec,
        s"${got.size} pairs (ref ${cosineRef.size}), customExec=$hasExec")
    }

    // ---- 3. banded regime: identical sets under different ----------
    // ---- partitionings (integer signatures must be JVM-stable), ----
    // ---- and a subset of the exact reference ----------------------
    check("simjoin_banded_stable") {
      def run(pa: Int, pb: Int) = Similarity.cosineJoin(
        emb.select(col("vec_id").as("id_a"), col("embedding").as("va")).repartition(pa),
        emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")).repartition(pb),
        "va", "vb", 0.35, SimJoinRegime.Banded, bands = 8, bandBits = 8)
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val g1 = run(7, 3)
      val g2 = run(2, 8)
      val exact = (for {
        (ia, va) <- vecs; (ib, vb) <- vecs
        if ia < ib && cosine(va, vb) >= 0.35
      } yield (ia, ib)).toSet
      (g1 == g2 && g1.subsetOf(exact),
        s"${g1.size} banded pairs, ${exact.size} exact, repartition-stable=${g1 == g2}")
    }

    // ---- 3b. WIDE (>64-bit) banded geometry: the Array[Long] ------
    // ---- signature words must survive the cross-JVM shuffle codec --
    // ---- and word-straddling band extraction must be JVM-stable ----
    check("simjoin_wide_banded_stable") {
      def run(pa: Int, pb: Int) = Similarity.cosineJoin(
        emb.select(col("vec_id").as("id_a"), col("embedding").as("va")).repartition(pa),
        emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")).repartition(pb),
        "va", "vb", 0.35, SimJoinRegime.Banded, bands = 26, bandBits = 7)
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val g1 = run(7, 3)
      val g2 = run(2, 8)
      val exact = (for {
        (ia, va) <- vecs; (ib, vb) <- vecs
        if ia < ib && cosine(va, vb) >= 0.35
      } yield (ia, ib)).toSet
      (g1 == g2 && g1.subsetOf(exact) && g1.nonEmpty,
        s"${g1.size} wide-banded pairs, ${exact.size} exact, " +
          s"repartition-stable=${g1 == g2}")
    }

    // ---- 4. naive SQL jaccard join → inverted-index exec ≡ ref ----
    check("jaccard_rewrite") {
      docs.select(col("doc_id"), col("text")).createOrReplaceTempView("cc_docs")
      val q = spark.sql(
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |FROM cc_docs a JOIN cc_docs b
          |  ON jaccard_sim(a.text, b.text, 3) >= 0.5D
          | AND a.doc_id < b.doc_id""".stripMargin)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hasExec = q.queryExecution.executedPlan.toString
        .contains("JaccardInvertedJoin")
      val texts = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val ref = (for {
        (ia, ta) <- texts; (ib, tb) <- texts
        if ia < ib && ta != null && tb != null
        if TextKernels.jaccardSim(UTF8String.fromString(ta),
          UTF8String.fromString(tb), 3) >= 0.5
      } yield (ia, ib)).toSet
      (got == ref && hasExec,
        s"${got.size} pairs (ref ${ref.size}), customExec=$hasExec")
    }

    // ---- 5. naive levenshtein join → segment-pigeonhole exec ≡ ref ----
    check("lev_rewrite") {
      val vocab = docs
        .select(explode(split(lower(col("text")), "\\s+")).as("term"))
        .where(length(col("term")) >= 3)
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 5)
        .select("term").cache()
      val terms = vocab.collect().map(_.getString(0))
      vocab.createOrReplaceTempView("cc_vocab")
      val q = spark.sql(
        """SELECT a.term AS term_a, b.term AS term_b
          |FROM cc_vocab a JOIN cc_vocab b
          |  ON levenshtein(a.term, b.term) <= 2
          | AND a.term < b.term""".stripMargin)
      val got = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      val hasExec = q.queryExecution.executedPlan.toString
        .contains("LevenshteinSegmentJoin")
      val ref = (for {
        ta <- terms; tb <- terms
        if ta < tb && lev(ta, tb) <= 2
      } yield (ta, tb)).toSet
      vocab.unpersist()
      (got == ref && hasExec,
        s"${got.size} pairs over ${terms.length} terms, customExec=$hasExec")
    }

    // ---- 6. as-of join: custom merge exec ≡ window compose ≡ ref ----
    check("asof_exec") {
      // epoch-micros longs sidestep the TIMESTAMP vs TIMESTAMP_NTZ
      // collect-type split (the UTC session makes the cast stable);
      // the exec's ordering is type-generic either way
      val evNorm = events.withColumn("tsm",
        expr("unix_micros(cast(ts as timestamp))"))
      val purchases = evNorm.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsm").as("ts"))
      val views = evNorm.where(col("event_type") === "view")
        .select(col("user_id"), col("tsm").as("v_ts"),
          col("event_id").as("view_id"))
      def key(df: DataFrame) = df
        .select("event_id", "asof_view_id")
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toMap
      val gotExec = key(Analytics.asofJoinExec(
        purchases, views, "user_id", "ts", "v_ts", Seq("view_id")))
      val pRows = purchases.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val vRows = views.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val ref = pRows.map { case (eid, uid, ts) =>
        val prior = vRows.getOrElse(uid, Array.empty)
          .filter(v => v._2 <= ts)
        // inclusive <=, max payload at equal timestamps
        (eid, if (prior.isEmpty) None
        else Some(prior.maxBy(v => (v._2, v._3))._3.toString))
      }.toMap
      (gotExec == ref, s"${ref.size} purchases, ${ref.count(_._2.isDefined)} matched")
    }

    // ---- 7. imperative HLL register aggregate: buffer codec + ----
    // ---- cross-JVM merge ≡ declarative per-bucket max ----
    check("hll_register_agg") {
      import graft.expressions.SketchAggs
      val ranked = docs.select(col("source"),
        md5(concat_ws("|", lit("hll"), col("doc_id"))).as("h"))
        .select(col("source"),
          conv(substring(col("h"), 1, 2), 16, 10).cast("int").as("b"),
          substring(col("h"), 3, 12).as("h12"))
        .select(col("source"), col("b"),
          length(regexp_extract(col("h12"), "^(0*)", 1)).as("zc"),
          col("h12"))
        .select(col("source"), col("b"),
          when(col("zc") === 12, lit(49L))
            .otherwise((col("zc") * 4 + expr(
              "CASE substring(h12, zc + 1, 1)" +
                " WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2" +
                " WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1" +
                " WHEN '7' THEN 1 ELSE 0 END") + 1).cast("long")).as("r"))
      val imp = ranked.repartition(16, col("b"))
        .groupBy(col("source"))
        .agg(SketchAggs.hllRegisterMax(col("b"), col("r"), 256).as("arr"))
        .collect().map(r => (r.getString(0), r.getSeq[Long](1).toArray)).toMap
      val dec = ranked.groupBy(col("source"), col("b"))
        .agg(max(col("r")).as("mr"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val ref = dec.groupBy(_._1).map { case (s, rs) =>
        val arr = new Array[Long](256)
        rs.foreach { case (_, b, mr) => arr(b) = mr }
        (s, arr)
      }
      val ok = imp.size == ref.size && ref.forall { case (s, arr) =>
        imp.get(s).exists(_.sameElements(arr)) }
      (ok, s"${imp.size} groups x 256 registers")
    }

    // ---- 8. bloom-pruned semi join: the sketch bytes build ----
    // ---- distributed, land on the driver, and ship back out as ----
    // ---- a foldable Literal inside codegen — result must be ----
    // ---- EXACTLY the unpruned semi join ----
    check("bloom_semi") {
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .where(col("c_acctbal") > 9000).select(col("c_custkey"))
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val got = graft.operators.Bloom.bloomPrunedSemiJoin(
        orders, cust, "o_custkey", "c_custkey", expectedItems = 1000L)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val keys = cust.collect().map(_.getLong(0)).toSet
      val ref = orders.select("o_orderkey", "o_custkey").collect()
        .filter(r => keys(r.getLong(1))).map(_.getLong(0)).toSet
      (got == ref,
        s"${got.size} orders (ref ${ref.size}) via ${keys.size}-key sketch")
    }

    // ---- 9. native z-order expression: executor-side codegen ----
    // ---- must reach the kernel class on the executor classpath ----
    check("zorder_key") {
      import graft.expressions.{ZOrderExpressions, ZOrderKernels}
      val got = events.select(col("event_id"),
        ZOrderExpressions.zorderKey(
          col("event_id") % 65536, col("user_id") % 65536).as("zk"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val ref = events.select("event_id", "user_id").collect().map { r =>
        (r.getLong(0), ZOrderKernels.interleave16(
          r.getLong(0) % 65536, r.getLong(1) % 65536))
      }.toMap
      (got == ref, s"${got.size} morton keys")
    }

    // ---- 9b. two-phase global running decomposition: the range ----
    // ---- partitioner samples across remote JVMs, the tracked ------
    // ---- persist pins blocks on executor block managers, and the --
    // ---- pid-offset broadcast join crosses process boundaries; ----
    // ---- result must equal a driver-side sequential prefix sum ----
    // ---- exactly (long sums — no float-order ambiguity) -----------
    check("global_running") {
      val got =
        try Analytics.globalRunning(
            docs.select(col("doc_id"), col("n_chars")),
            Seq(col("n_chars"), col("doc_id")), // total order: unique tiebreak
            rankOut = Some("rnk"),
            runningSums = Seq("n_chars" -> "cum"))
          .select(col("doc_id"), col("rnk"), col("cum"))
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
          .toMap
        finally graft.operators.Caches.releaseAll()
      val rows = docs.select("doc_id", "n_chars").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, n) => (n, id) }
      var cum = 0L
      val ref = rows.zipWithIndex.map { case ((id, n), i) =>
        cum += n; (id, (i + 1L, cum))
      }.toMap
      (got == ref, s"${got.size} ranked rows, exact prefix sums")
    }

    // ---- 10. constraint monoid: per-half states built in remote ----
    // ---- JVMs, merged (register-wise max + bin-count sum + ----
    // ---- scalar sums), must equal the one-pass batch suite AND ----
    // ---- the exact scalars a driver loop computes ----
    check("constraint_merge") {
      import graft.operators.{ApproxUniqueRatio, Completeness, Constraints,
        MaxBound, MinBound, QuantileBound, SizeMin}
      val cs = Seq(
        Completeness("text", 0.5), MinBound("n_chars", 0.0),
        MaxBound("n_chars", 1e6), ApproxUniqueRatio("doc_id", 0.5),
        QuantileBound("n_chars", Seq(100.0, 300.0, 600.0), 5000, 0.0, ">="),
        SizeMin(1.0))
      val halves = Seq(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 =!= 0))
      val states = halves.map(h => Constraints.state(h, cs))
        .reduce(_ unionByName _)
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0) + ":" + r.getString(1),
          (r.getDouble(2), r.getBoolean(4)))).toMap
      val merged = keyed(Constraints.report(
        Constraints.mergeStates(states, cs), cs))
      val full = keyed(Constraints.run(docs, cs))
      val rows = docs.select("text", "n_chars").collect()
      val nChars = rows.map(_.getLong(1))
      val comp = rows.count(_.getString(0) != null).toDouble / rows.length
      val scalarsOk =
        merged("completeness:text")._1 == comp &&
        merged("min_bound:n_chars")._1 == nChars.min.toDouble &&
        merged("max_bound:n_chars")._1 == nChars.max.toDouble &&
        merged("size_min:*")._1 == rows.length.toDouble
      // doc_id is unique: the HLL estimate must sit inside the
      // sketch's ~6.5% band at m=256 (3σ ≈ 20%)
      val approxOk = math.abs(merged("approx_unique_ratio:doc_id")._1 - 1.0) < 0.2
      (merged == full && scalarsOk && approxOk,
        s"${merged.size} constraints, merge==batch=${merged == full}, " +
          f"approx_unique=${merged("approx_unique_ratio:doc_id")._1}%.3f")
    }

    // ---- 11. structured streaming: executor-side state stores ----
    check("streaming_state") {
      val outDir = java.nio.file.Files.createTempDirectory("ccstream").toString
      events.select("event_type", "user_id", "ts")
        .write.mode("overwrite").parquet(s"$outDir/in")
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$outDir/in").schema)
        .parquet(s"$outDir/in")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q = stream.writeStream
        .format("memory").queryName("cc_counts")
        .outputMode("complete")
        .option("checkpointLocation", s"$outDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.table("cc_counts")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val ref = events.select("event_type").collect()
        .groupBy(_.getString(0)).map { case (k, v) => (k, v.length.toLong) }
      (got == ref, s"${got.size} event types, ${ref.values.sum} rows")
    }

    // ---- 12. streaming checkpoint RESTART across JVMs: a windowed ----
    // ---- aggregation processes half the input, the query stops, ----
    // ---- a second incarnation restarts from the SAME checkpoint ----
    // ---- (state-store partials + source offsets restored into ----
    // ---- fresh executor JVMs), and the appended output must be ----
    // ---- the batch formulation EXACTLY ONCE — StreamingSpec ----
    // ---- proves this in local[4], where state never crosses a ----
    // ---- process boundary; here both incarnations distribute ----
    check("streaming_restart") {
      import org.apache.spark.sql.streaming.Trigger
      val base = java.nio.file.Files.createTempDirectory("ccrestart").toString
      val src = s"$base/in"
      val ev = events.select(expr("cast(ts as timestamp)").as("ets"),
        col("event_type"), col("event_id"))
      ev.where(col("event_id") % 2 === 0).repartition(2)
        .write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      // watermark delay > the data's full time span: no row is ever
      // late (the halves are an id-parity split, so both cover the
      // whole span), nothing finalizes until the flush sentinel —
      // EVERY window is half-built state that must survive the
      // restart into fresh executor JVMs
      val (minTs, maxTs) = {
        val r = ev.agg(min(col("ets")), max(col("ets"))).head()
        (r.getTimestamp(0), r.getTimestamp(1))
      }
      val delayDays =
        (maxTs.getTime - minTs.getTime) / 86400000L + 2
      def run(): Long = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .withWatermark("ets", s"$delayDays days")
          .groupBy(window(col("ets"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/chk")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(s"$base/out").count()
      }
      val emitted1 = run() // first incarnation: half the input, then stops
      // half 2 plus a watermark-flush sentinel land as NEW files in the
      // live source dir (the T11 file-source pattern, parquet form); the
      // sentinel sits past max + delay so the restarted run's watermark
      // finalizes every real window, while its own window stays
      // un-emitted (the watermark never passes it)
      val flushTs = new java.sql.Timestamp(
        maxTs.getTime + (delayDays + 2) * 86400000L)
      ev.where(col("event_id") % 2 =!= 0)
        .unionByName(spark.range(1).select(lit(flushTs).as("ets"),
          lit("flush").as("event_type"), lit(-1L).as("event_id")))
        .repartition(2).write.mode("overwrite").parquet(s"$base/h2")
      new java.io.File(s"$base/h2").listFiles()
        .filter(_.getName.startsWith("part-"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          new java.io.File(src, "h2-" + f.getName).toPath))
      val emittedTotal = run() // restart from the same checkpoint
      // multiset compare (a Set would mask duplicate emissions)
      val got = spark.read.parquet(s"$base/out")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      val ref = ev.select("ets", "event_type").collect()
        .map(r => (r.getTimestamp(0).getTime
          - Math.floorMod(r.getTimestamp(0).getTime, 86400000L),
          r.getString(1)))
        .groupBy(identity).map { case ((ws, t), rs) =>
          (ws, t, rs.length.toLong) }
        .toSeq.sortBy(t => (t._1, t._2))
      (got == ref && emitted1 < emittedTotal,
        s"run1 emitted $emitted1, after restart $emittedTotal " +
          s"(ref ${ref.size} windows), exactly_once=${got == ref}")
    }

    spark.stop()
    println(s"""{"tool":"clustercheck","summary":true,"failures":$failures}""")
    if (failures > 0) sys.exit(1)
  }
}
