package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.VectorExpressions
import graft.operators.Similarity
import graft.plans.{SimilarityBandedJoinExec, SimilarityBroadcastGateExec, SimilarityJoinKernels, SimilarityJoinRewrite, SimJoinRegime}

/** The cosine-threshold join extension: logical node + stats-driven
  * strategy + two physical regimes + the naive-SQL rewrite rule. */
class SimilarityJoinSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** 60 deterministic 8-dim vectors: 10 tight clusters of 4 near-dup
    * vectors (planted pairs, within-cluster cosine ≈ 1) + 20 spread
    * singletons. No RNG — integer formulas only. */
  private def vecs(idCol: String, vecCol: String): DataFrame = {
    val rows = (0 until 60).map { i =>
      val arr: Array[Float] =
        if (i < 40) {
          val cluster = i / 4
          val jitter = (i % 4).toFloat / 50f
          Array.tabulate(8)(d =>
            (((cluster * 7 + d * 3) % 11).toFloat - 5f) + jitter * (d % 3))
        } else {
          Array.tabulate(8)(d => (((i * 13 + d * 5) % 17).toFloat - 8f))
        }
      (i.toLong, arr)
    }
    rows.toDF(idCol, vecCol)
  }

  private def exactPairs(t: Double): Set[(Long, Long)] = {
    val l = vecs("id_a", "va")
    val r = vecs("id_b", "vb")
    l.crossJoin(r)
      .where(VectorExpressions.cosineSim(
        col("va").cast("array<double>"),
        col("vb").cast("array<double>")) >= t && col("id_a") < col("id_b"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
  }

  private def collectPairs(df: DataFrame): Seq[(Long, Long)] =
    df.where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq

  private def findExec[T <: SparkPlan](df: DataFrame)(
      pf: PartialFunction[SparkPlan, T]): Seq[T] =
    df.queryExecution.executedPlan.collect(pf)

  test("broadcast gate regime is exact and plans as the custom exec") {
    val out = Similarity.cosineJoin(vecs("id_a", "va"), vecs("id_b", "vb"),
      "va", "vb", 0.9, SimJoinRegime.Exact)
    assert(findExec(out) {
      case e: SimilarityBroadcastGateExec => e
    }.nonEmpty)
    val got = collectPairs(out)
    assert(got.toSet === exactPairs(0.9))
    assert(got.size === got.toSet.size) // no duplicate emissions
  }

  test("banded regime: subset of exact, no duplicates, high recall on " +
      "planted near-dups, stable under repartitioning") {
    val banded = Similarity.cosineJoin(
      vecs("id_a", "va"), vecs("id_b", "vb"),
      "va", "vb", 0.9, SimJoinRegime.Banded)
    assert(findExec(banded) {
      case e: SimilarityBandedJoinExec => e
    }.nonEmpty)
    val got = collectPairs(banded)
    assert(got.size === got.toSet.size,
      "first-common-band dedup must prevent duplicate pair emissions")
    val exact = exactPairs(0.9)
    assert(got.toSet.subsetOf(exact), "banded may miss pairs, never invent")
    // planted within-cluster pairs are near-identical → their band
    // signatures collide; demand ≥ 80% of the exact set
    assert(got.size >= (exact.size * 8) / 10,
      s"recall too low: ${got.size} of ${exact.size}")
    // determinism across partitionings (integer signatures)
    val repart = Similarity.cosineJoin(
      vecs("id_a", "va").repartition(7), vecs("id_b", "vb").repartition(3),
      "va", "vb", 0.9, SimJoinRegime.Banded)
    assert(collectPairs(repart).toSet === got.toSet)
  }

  test("auto regime picks broadcast for a small side, banded when " +
      "nothing is broadcastable") {
    val small = Similarity.cosineJoin(vecs("id_a", "va"),
      vecs("id_b", "vb"), "va", "vb", 0.9)
    assert(findExec(small) {
      case e: SimilarityBroadcastGateExec => e
    }.nonEmpty)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val large = Similarity.cosineJoin(vecs("id_a", "va"),
        vecs("id_b", "vb"), "va", "vb", 0.9)
      assert(findExec(large) {
        case e: SimilarityBandedJoinExec => e
      }.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("naive cosine_sim >= t join condition rewrites to the exact " +
      "operator, residual conjuncts survive as a filter") {
    val cond = VectorExpressions.cosineSim(
      col("va").cast("array<double>"),
      col("vb").cast("array<double>")) >= lit(0.9) &&
      col("id_a") < col("id_b")
    val naive = vecs("id_a", "va").join(vecs("id_b", "vb"), cond)
    assert(findExec(naive) {
      case e: SimilarityBroadcastGateExec => e
    }.nonEmpty, "rewrite must fire on the naive join condition")
    assert(findExec(naive) {
      case e: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => e
    }.isEmpty, "the O(n·m) BNLJ shape must be gone")
    val got = naive.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === exactPairs(0.9))
  }

  test("large-large naive join: default keeps the cartesian the user " +
      "wrote; the session flag opts into the banded operator; an " +
      "invalid flag value fails the query") {
    def naive = {
      val cond = VectorExpressions.cosineSim(
        col("va").cast("array<double>"),
        col("vb").cast("array<double>")) >= lit(0.9) &&
        col("id_a") < col("id_b")
      vecs("id_a", "va").join(vecs("id_b", "vb"), cond)
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // default (conf unset): the rewrite declines — the user's
      // literal plan shape (BNLJ/cartesian under the hood) survives
      assert(findExec(naive) {
        case e: SimilarityBandedJoinExec => e
      }.isEmpty, "without the flag the rewrite must decline")
      assert(findExec(naive) {
        case e: SimilarityBroadcastGateExec => e
      }.isEmpty, "neither side broadcasts — no gate either")

      spark.conf.set(SimilarityJoinRewrite.LargeLargeConf, "banded")
      val banded = naive
      assert(findExec(banded) {
        case e: SimilarityBandedJoinExec => e
      }.nonEmpty, "flag=banded must plan the banded operator")
      val got = banded.select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet
      val exact = exactPairs(0.9)
      assert(got.subsetOf(exact), "banded may miss pairs, never invent")
      // derived geometry guarantees ≥ 0.9 recall AT the threshold; the
      // planted near-dup pairs sit far above it — demand ≥ 80% overall
      assert(got.size >= (exact.size * 8) / 10,
        s"recall too low: ${got.size} of ${exact.size}")

      spark.conf.set(SimilarityJoinRewrite.LargeLargeConf, "bogus")
      val err = intercept[Exception](naive.collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(
        _.contains(SimilarityJoinRewrite.LargeLargeConf)),
        s"error must name the conf: $err")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset(SimilarityJoinRewrite.LargeLargeConf)
    }
  }

  test("auto band geometry: derive meets the S-curve target with the " +
      "widest bands that fit the 64-bit budget") {
    import graft.plans.BandGeometry._
    // high threshold → wide selective bands suffice
    assert(derive(0.9) === ((8, 8)))
    // low threshold → narrow bands, many of them
    assert(derive(0.35) === ((16, 4)))
    // widest-that-fits: one band wider and the target is missed
    assert(recallAt(0.9, 64 / 9, 9) < 0.9 && recallAt(0.9, 8, 8) >= 0.9)
    assert(recallAt(0.35, 12, 5) < 0.9 && recallAt(0.35, 16, 4) >= 0.9)
    // degenerate thresholds still yield a legal geometry
    val (b0, r0) = derive(0.0)
    assert(b0 > 0 && r0 > 0 && b0 * r0 <= 64)
    val (b1, r1) = derive(0.9999, targetRecall = 0.999999)
    assert(b1 > 0 && r1 > 0 && b1 * r1 <= 64)
  }

  test("minhash band geometry: cheapest (bands, rows) meeting the " +
      "jaccard S-curve target; q23's 4x2 is the derived default") {
    import graft.plans.BandGeometry._
    assert(deriveMinhash(0.7, 0.9) === ((4, 2)))
    // the derived geometry really meets the target, one band fewer misses
    def recall(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    assert(recall(0.7, 4, 2) >= 0.9 && recall(0.7, 3, 2) < 0.9)
    // higher sim target → cheaper geometry; never a single-hash band
    val (b9, r9) = deriveMinhash(0.9, 0.9)
    assert(b9 * r9 < 8 && r9 >= 2 && recall(0.9, b9, r9) >= 0.9)
    // unreachable target fails loudly instead of silently degrading
    intercept[IllegalArgumentException] {
      deriveMinhash(0.05, 0.999, maxHashes = 16)
    }
  }

  test("auto-derived geometry recovers planted moderate-sim pairs on " +
      "heavy-tailed vectors; a fixed wide-band 8x8 drops them") {
    // 40 planted pairs at cosine ≈ cos(50°) ≈ 0.643 — well above the
    // 0.35 threshold but far below the near-dup regime the tight
    // clusters exercise — over 32-dim heavy-tailed 1/(d+1) component
    // magnitudes (the realistic embedding shape: a few dominant
    // dimensions; 32 dims keeps the fixed hyperplane bits from
    // degenerating into full correlation, which an 8-dim fixture
    // measurably does). S-curve at 0.643 with the derived (16, 4):
    // ≈ 0.99 expected recall; with the old fixed (8, 8): ≈ 0.46.
    val theta = math.toRadians(50.0)
    val dims = 32
    // a real avalanche mix — a linear-congruence formula here makes u
    // and x near-parallel (constant offset mod m), which degenerates
    // the Gram-Schmidt plane into structured axes the fixed hyperplane
    // family resolves badly
    def pseudo(k: Int, d: Int, salt: Int): Double = {
      var h = k * 1000003 + d * 10007 + salt * 999983
      h = (h ^ (h >>> 13)) * 0x5bd1e995
      h = h ^ (h >>> 15)
      ((h & 0xfffff) / 1048576.0 - 0.5) / math.sqrt(d + 1.0)
    }
    val rows: Seq[(Long, Array[Double])] = (0 until 40).flatMap { k =>
      val u = Array.tabulate(dims)(d => pseudo(k, d, 1))
      val x = Array.tabulate(dims)(d => pseudo(k, d, 2))
      // Gram-Schmidt: w ⟂ u, then v = cosθ·û + sinθ·ŵ so cos(u,v)=cosθ
      val uu = u.map(a => a * a).sum
      val xu = x.zip(u).map { case (a, b) => a * b }.sum
      val w = x.zip(u).map { case (a, b) => a - b * xu / uu }
      val un = math.sqrt(uu)
      val wn = math.sqrt(w.map(a => a * a).sum)
      val v = Array.tabulate(dims)(d =>
        math.cos(theta) * u(d) / un + math.sin(theta) * w(d) / wn)
      Seq((2L * k, u), (2L * k + 1, v))
    } ++ (0 until 40).map { j =>
      (1000L + j, Array.tabulate(dims)(d => pseudo(j + 500, d, 3)))
    }
    def side(idCol: String, vecCol: String): DataFrame =
      rows.toDF(idCol, vecCol)
    val plantedPairs = (0 until 40).map(k => (2L * k, 2L * k + 1)).toSet

    val auto = Similarity.cosineJoin(side("id_a", "va"), side("id_b", "vb"),
      "va", "vb", 0.35, SimJoinRegime.Banded)
    val geom = findExec(auto) { case e: SimilarityBandedJoinExec => e }
    assert(geom.map(e => (e.bands, e.bandBits)) === Seq((16, 4)),
      "strategy must derive (16, 4) from threshold 0.35")
    val autoHits = collectPairs(auto).toSet intersect plantedPairs
    assert(autoHits.size >= 36, // target recall 0.9 on 40 planted pairs
      s"auto geometry recall ${autoHits.size}/40 below the 0.9 target")

    val fixed = Similarity.cosineJoin(side("id_a", "va"), side("id_b", "vb"),
      "va", "vb", 0.35, SimJoinRegime.Banded, bands = 8, bandBits = 8)
    val fixedHits = collectPairs(fixed).toSet intersect plantedPairs
    assert(fixedHits.size < autoHits.size,
      s"fixed 8x8 (${fixedHits.size}/40) should trail the derived " +
        s"geometry (${autoHits.size}/40) at moderate similarity")
  }

  test("hot-bucket grid split: output identical to the unsplit plan, " +
      "no duplicate emissions, split + skew metrics populated") {
    // metrics live on the plan INSTANCE that executed — collect the
    // join df itself (a derived .where() df would execute a fresh
    // copy of the exec and leave this one's accumulators empty)
    def runJoin(): (Seq[(Long, Long)], SimilarityBandedJoinExec) = {
      val df = Similarity.cosineJoin(
        vecs("id_a", "va"), vecs("id_b", "vb"),
        "va", "vb", 0.9, SimJoinRegime.Banded)
      val ia = df.schema.fieldIndex("id_a")
      val ib = df.schema.fieldIndex("id_b")
      val pairs = df.collect().toSeq
        .map(r => (r.getLong(ia), r.getLong(ib)))
        .filter(p => p._1 < p._2)
      (pairs, findExec(df) { case e: SimilarityBandedJoinExec => e }.head)
    }
    val (basePairsSeq, baseExec) = runJoin()
    val basePairs = basePairsSeq.toSet
    val baseMax = baseExec.maxCellPairs
    assert(baseMax > 0, "unsplit run must record its largest bucket")
    assert(baseExec.metrics("candPairs").value >= basePairs.size,
      "every output pair was a gated candidate")
    assert(baseExec.metrics("splitBuckets").value === 0)
    spark.conf.set(SimilarityBandedJoinExec.MaxBucketPairsConf, "4")
    try {
      val (got, exec) = runJoin()
      // a pair meets in exactly ONE cell of its first common band —
      // the grid must not re-introduce duplicate emissions
      assert(got.size === got.toSet.size,
        "grid split re-emitted a pair from multiple cells")
      assert(got.toSet === basePairs,
        "split plan must produce the identical pair set")
      assert(exec.metrics("splitBuckets").value > 0,
        "the tiny bound must have split the planted-cluster buckets")
      // content-hash block assignment is balls-into-bins, so the cell
      // bound is approximate — but the skew metric must drop well
      // below the unsplit hot bucket
      assert(exec.maxCellPairs < baseMax,
        s"split did not reduce the largest cell: " +
          s"${exec.maxCellPairs} vs unsplit $baseMax")
    } finally {
      spark.conf.unset(SimilarityBandedJoinExec.MaxBucketPairsConf)
    }
  }

  test("kernels: quantize rounds half away from zero; signature is " +
      "invariant to array copies; firstCommonBand finds the lowest") {
    assert(SimilarityJoinKernels.quantize(1e-6) === 1L)
    assert(SimilarityJoinKernels.quantize(-1e-6) === -1L)
    assert(SimilarityJoinKernels.quantize(0.0) === 0L)
    // half-away-from-zero is symmetric (Math.round's half-UP is not)
    val half = 12.5 / 1e6
    assert(SimilarityJoinKernels.quantize(half) ===
      -SimilarityJoinKernels.quantize(-half))
    val v = Array(0.25, -1.5, 3.75, 0.0)
    assert(SimilarityJoinKernels.signature(v, 64) ===
      SimilarityJoinKernels.signature(v.clone(), 64))
    // bands are byte-wide here: a/b agree on band 0, a/c first on band 2
    val a = 0x0000000011_00_22L
    val b = 0x0000000011_99_22L
    assert(SimilarityJoinKernels.firstCommonBand(a, b, 8, 8) === 0)
    val c = 0x0000000011_99_33L
    assert(SimilarityJoinKernels.firstCommonBand(a, c, 8, 8) === 2)
    assert(SimilarityJoinKernels.firstCommonBand(1L, 2L, 1, 8) === -1)
  }

  test("wide kernels: signatureWords extends signature bit-for-bit, " +
      "bandOf handles word-straddling bands, firstCommonBandWords " +
      "matches the one-long form on a 64-bit budget") {
    import SimilarityJoinKernels._
    val v = Array(0.25, -1.5, 3.75, 0.125, -0.875, 2.0, -3.25, 1.0)
    for (n <- Seq(1, 37, 64)) {
      val words = signatureWords(v, n)
      assert(words.length === (n + 63) / 64)
      assert(words(0) === signature(v, n),
        s"word 0 must equal the one-long signature at $n bits")
    }
    // 64-bit budget: bandOf ≡ the legacy shift-mask band extraction
    val sig64 = signature(v, 64)
    val w64 = signatureWords(v, 64)
    for ((bands, r) <- Seq((16, 4), (8, 8), (4, 16)); b <- 0 until bands)
      assert(bandOf(w64, b, r) === ((sig64 >>> (b * r)) & ((1L << r) - 1)),
        s"band $b of ${bands}x$r")
    // straddle: 128 bits at r=9 — band 7 spans bit positions [63, 72),
    // crossing the word boundary; reconstruct from per-bit reads
    val w128 = signatureWords(v, 128)
    def bitAt(ws: Array[Long], i: Int): Long = (ws(i >> 6) >>> (i & 63)) & 1L
    for (b <- 0 until 14) {
      var expect = 0L
      for (k <- 0 until 9) expect |= bitAt(w128, b * 9 + k) << k
      assert(bandOf(w128, b, 9) === expect, s"straddling band $b")
    }
    // firstCommonBandWords ≡ firstCommonBand when everything fits a long
    val v2 = v.map(x => -x)
    val s1 = signatureWords(v, 64)
    val s2 = signatureWords(v2, 64)
    assert(firstCommonBandWords(s1, s2, 8, 8) ===
      firstCommonBand(s1(0), s2(0), 8, 8))
    assert(firstCommonBandWords(s1, s1, 8, 8) === 0)
  }

  test("wide kernels property: random geometry, random vectors — " +
      "bandOf over signatureWords reconstructs every band bit-for-bit " +
      "from independent per-bit reads, and firstCommonBandWords agrees " +
      "with a scalar reference") {
    import SimilarityJoinKernels._
    import org.scalacheck.Gen
    def sampleSure[T](g: Gen[T]): T =
      Iterator.continually(g.sample).flatten.next()
    val geomGen = for {
      r <- Gen.chooseNum(1, 16)
      b <- Gen.chooseNum(1, 1024 / r)
    } yield (b, r)
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1000, 1000))
      .map(_.map(_ / 37.0).toArray)
    def bitAt(ws: Array[Long], i: Int): Long = (ws(i >> 6) >>> (i & 63)) & 1L
    for (_ <- 1 to 40) {
      val (bands, r) = sampleSure(geomGen)
      val nbits = bands * r
      val v1 = sampleSure(vecGen)
      val v2 = sampleSure(vecGen)
      val w1 = signatureWords(v1, nbits)
      val w2 = signatureWords(v2, nbits)
      assert(w1.length === (nbits + 63) / 64)
      var refFirst = -1
      for (b <- 0 until bands) {
        var e1 = 0L; var e2 = 0L
        for (k <- 0 until r) {
          e1 |= bitAt(w1, b * r + k) << k
          e2 |= bitAt(w2, b * r + k) << k
        }
        assert(bandOf(w1, b, r) === e1, s"geometry ${bands}x$r band $b")
        assert(bandOf(w2, b, r) === e2, s"geometry ${bands}x$r band $b")
        if (refFirst < 0 && e1 == e2) refFirst = b
      }
      assert(firstCommonBandWords(w1, w2, bands, r) === refFirst,
        s"geometry ${bands}x$r")
    }
  }

  test("deriveWide: widest band width whose minimal band count fits " +
      "the budget; meets the recall target; 64-bit budget never does " +
      "more work than derive") {
    import graft.plans.BandGeometry._
    // the q225 geometry: 256 bits at 0.6 → 26 bands × 7 bits
    assert(deriveWide(0.6, budgetBits = 256) === ((26, 7)))
    for (t <- Seq(0.35, 0.5, 0.6, 0.7, 0.8, 0.9);
         budget <- Seq(64, 128, 256, 512)) {
      val (b, r) = deriveWide(t, budgetBits = budget)
      assert(b * r <= budget, s"budget overrun at t=$t budget=$budget")
      assert(r <= 16)
      assert(recallAt(t, b, r) >= DefaultTargetRecall,
        s"recall miss at t=$t budget=$budget: ($b, $r)")
      // minimal band count: one band fewer misses the target
      if (b > 1) assert(recallAt(t, b - 1, r) < DefaultTargetRecall,
        s"bands not minimal at t=$t budget=$budget: ($b, $r)")
      // vs derive under the same 64-bit budget: same width or wider,
      // never more bands at the same width
      if (budget == 64) {
        val (db, dr) = derive(t)
        assert(r >= dr, s"deriveWide narrower than derive at t=$t")
        if (r == dr) assert(b <= db)
      }
    }
    intercept[IllegalArgumentException] { deriveWide(0.6, budgetBits = 8) }
    intercept[IllegalArgumentException] {
      deriveWide(0.6, budgetBits = 2048)
    }
  }

  test("wide-geometry banded join: >64-bit signature executes, subset " +
      "of exact, no duplicates, stable under repartitioning; the " +
      "signatureBits session conf steers derived geometry") {
    // explicit 26×7 (the deriveWide(0.6, 256) geometry) on the fixture
    val wide = Similarity.cosineJoin(
      vecs("id_a", "va"), vecs("id_b", "vb"),
      "va", "vb", 0.6, SimJoinRegime.Banded, bands = 26, bandBits = 7)
    val execs = findExec(wide) { case e: SimilarityBandedJoinExec => e }
    assert(execs.nonEmpty && execs.head.bands * execs.head.bandBits === 182)
    val got = collectPairs(wide)
    assert(got.size === got.toSet.size,
      "first-common-band dedup must hold across word-straddling bands")
    val exact = exactPairs(0.6)
    assert(got.toSet.subsetOf(exact), "banded may miss pairs, never invent")
    assert(got.size >= (exact.size * 8) / 10,
      s"recall too low: ${got.size} of ${exact.size}")
    val repart = Similarity.cosineJoin(
      vecs("id_a", "va").repartition(7), vecs("id_b", "vb").repartition(3),
      "va", "vb", 0.6, SimJoinRegime.Banded, bands = 26, bandBits = 7)
    assert(collectPairs(repart).toSet === got.toSet)
    // conf path: signatureBits=256 makes the DERIVED geometry wide
    val confKey = graft.plans.SimilarityJoinStrategy.SignatureBitsConf
    try {
      spark.conf.set(confKey, "256")
      val derived = Similarity.cosineJoin(
        vecs("id_a", "va"), vecs("id_b", "vb"),
        "va", "vb", 0.6, SimJoinRegime.Banded)
      val de = findExec(derived) { case e: SimilarityBandedJoinExec => e }
      assert(de.head.bands === 26 && de.head.bandBits === 7)
      assert(collectPairs(derived).toSet === got.toSet,
        "conf-derived geometry must equal the explicit 26x7 run")
    } finally spark.conf.unset(confKey)
    // conf unset (default 0): classic 64-bit derive — unchanged plans
    val legacy = Similarity.cosineJoin(
      vecs("id_a", "va"), vecs("id_b", "vb"),
      "va", "vb", 0.6, SimJoinRegime.Banded)
    val le = findExec(legacy) { case e: SimilarityBandedJoinExec => e }
    assert((le.head.bands, le.head.bandBits) ===
      graft.plans.BandGeometry.derive(0.6))
  }

  test("signatureBits conf is validated at the strategy boundary: " +
      "each bad-value class fails planning naming the conf key") {
    val confKey = graft.plans.SimilarityJoinStrategy.SignatureBitsConf
    // planning happens at executedPlan access — no execution needed
    def plan(): Unit = Similarity.cosineJoin(
      vecs("id_a", "va"), vecs("id_b", "vb"),
      "va", "vb", 0.6, SimJoinRegime.Banded)
      .queryExecution.executedPlan
    // below the 16-bit floor (1..15 used to fall through to
    // deriveWide's require, which names its PARAMETER, not the conf)
    for (bad <- Seq("1", "15")) {
      try {
        spark.conf.set(confKey, bad)
        val e = intercept[Exception](plan())
        assert(e.getMessage.contains(confKey),
          s"'$bad' must fail naming $confKey, got: ${e.getMessage}")
      } finally spark.conf.unset(confKey)
    }
    // above the 1024-bit cap
    try {
      spark.conf.set(confKey, "2048")
      val e = intercept[Exception](plan())
      assert(e.getMessage.contains(confKey))
    } finally spark.conf.unset(confKey)
    // non-numeric (used to surface as a bare NumberFormatException)
    try {
      spark.conf.set(confKey, "wide")
      val e = intercept[Exception](plan())
      assert(e.getMessage.contains(confKey))
    } finally spark.conf.unset(confKey)
    // negative
    try {
      spark.conf.set(confKey, "-64")
      val e = intercept[Exception](plan())
      assert(e.getMessage.contains(confKey))
    } finally spark.conf.unset(confKey)
    // boundary values that must PASS validation: 0 (classic), 16, 1024
    for (ok <- Seq("0", "16", "1024")) {
      try { spark.conf.set(confKey, ok); plan() }
      finally spark.conf.unset(confKey)
    }
  }

  test("hot-bucket sizing pass stays consistent under a " +
      "non-deterministic child (chaos: rows differ per traversal)") {
    // the chaos udf returns a SPREAD vector the first time it sees a
    // row id and the dense CLUSTER vector on any re-evaluation — so
    // if the sizing pass and the join pass each traverse the child,
    // the sizing sees spread data (no splits needed), the join sees
    // one giant bucket, and the conf's per-cell bound is violated by
    // ~40×. The exec must detect the non-deterministic subtree and
    // persist ONE materialization for both passes.
    SimJoinChaos.seen.clear()
    val n = 2000
    val chaotic = udf((id: Long) => SimJoinChaos.vecFor(id))
      .asNondeterministic()
    val leftDf = spark.range(n)
      .select(col("id").as("id_a"), chaotic(col("id")).as("va"))
    val rightDf = spark.range(n).select((col("id") + 10000).as("id_b"),
      array(SimJoinChaos.cluster.toSeq.map(lit): _*).as("vb"))
    val bound = 50000L
    val confKey = SimilarityBandedJoinExec.MaxBucketPairsConf
    try {
      spark.conf.set(confKey, bound.toString)
      val df = Similarity.cosineJoin(leftDf, rightDf, "va", "vb", 0.9,
        SimJoinRegime.Banded, bands = 4, bandBits = 4)
      val exec = findExec(df) { case e: SimilarityBandedJoinExec => e }.head
      df.collect()
      assert(exec.maxCellPairs >= 0, "join must have executed")
      // grid cells are ⌈c/√bound⌉ blocks, so a cell tops out under
      // ~2× the conf; a stale sizing pass leaves the 2000×2000-pair
      // cluster bucket (≈4e6 candidates, 80× the conf) unsplit
      assert(exec.maxCellPairs <= 2 * bound,
        s"stale sizing: one cell held ${exec.maxCellPairs} candidate " +
          s"pairs against a $bound bound — the sizing pass and the " +
          "join pass saw different data")
    } finally spark.conf.unset(confKey)
  }
}

/** JVM-wide state for the sizing-consistency chaos test: vectors flip
  * from spread to clustered on RE-evaluation of the same row id, the
  * sharpest possible traversal-count probe (local[*] tasks share the
  * singleton). */
object SimJoinChaos {
  val seen =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
  val cluster: Array[Float] = Array.tabulate(8)(d => (d + 1).toFloat)
  def vecFor(id: Long): Array[Float] =
    if (seen.putIfAbsent(id, java.lang.Boolean.TRUE) == null)
      Array.tabulate(8)(d => (((id * 13 + d * 5) % 17).toFloat - 8f))
    else cluster
}
