package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.util.AccumulatorV2

/** max-merge long accumulator (Spark ships sum/avg only): records the
  * LARGEST single-bucket candidate-pair count an execution saw, so a
  * driver (BandSoak, a monitoring harness) can read the hot-bucket
  * skew of a banded join as one number instead of mining task logs. */
class MaxLongAccumulator extends AccumulatorV2[Long, Long] {
  private var _v = 0L
  override def isZero: Boolean = _v == 0L
  override def copy(): MaxLongAccumulator = {
    val a = new MaxLongAccumulator; a._v = _v; a
  }
  override def reset(): Unit = _v = 0L
  override def add(v: Long): Unit = if (v > _v) _v = v
  override def merge(o: AccumulatorV2[Long, Long]): Unit =
    _v = math.max(_v, o.value)
  override def value: Long = _v
}

/** Shared kernels for the two similarity-join operators. All
  * signature arithmetic is integer (quantized 1e-6 fixed point,
  * half-away-from-zero rounding — the same quantization contract as
  * `Similarity.fitCentroids` and DuckDB's `round()`), so signatures
  * are bit-identical across engines and partitionings — the property
  * that makes the banded operator's output oracle-checkable even
  * though it is an approximation.
  */
object SimilarityJoinKernels {

  /** Half-away-from-zero rounding of `v * 1e6` — matches Spark SQL's
    * and DuckDB's `round()` (java's `Math.round` is half-UP, which
    * disagrees on negative half-quanta). */
  def quantize(v: Double): Long =
    if (v >= 0) math.floor(v * 1e6 + 0.5).toLong
    else math.ceil(v * 1e6 - 0.5).toLong

  /** Rademacher hyperplane entry for (bit, dim): a deterministic
    * Wang-hash avalanche mix, +1 or -1. Kept to ^, *, %, >>, & with
    * every intermediate below 2^62 so the DuckDB oracle can replay it
    * verbatim in signed-64 SQL (DuckDB errors on BIGINT overflow
    * rather than wrapping — max product here is 2^32 · 668265261 ≈
    * 2.9e18 < 2^63).
    *
    * Why avalanche and not a one-step LCG: consecutive (bit, dim)
    * seeds differ by 1, and one LCG step maps consecutive seeds to
    * strongly related outputs — measured on the previous family: only
    * 46 of the 64 hyperplane sign patterns were distinct in 32 dims
    * and mean |inter-plane correlation| was 0.49 (random expectation
    * 0.14), so ~18 signature bits carried no information and banded
    * recall at cos 0.77 with (16, 4) was 0.82 where the S-curve
    * predicts 0.9997. The Wang mix measures 64/64 distinct planes,
    * 0.14 mean |correlation|, and empirical recall matching the
    * S-curve — which is what lets [[graft.plans.BandGeometry]] derive
    * geometry from the curve and trust the result. */
  def hyperplaneSign(bit: Int, dim: Int): Long = {
    val m32 = 4294967296L
    val s = bit * 1000003L + dim
    val x1 = (s ^ 61L) ^ (s >> 16)
    val x2 = (x1 * 9L) % m32
    val x3 = x2 ^ (x2 >> 4)
    val x4 = (x3 * 668265261L) % m32
    val x5 = x4 ^ (x4 >> 15)
    if (((x5 >> 16) & 1L) == 1L) 1L else -1L
  }

  /** nbits-bit random-hyperplane signature of `vec` (bit i set iff the
    * quantized projection onto hyperplane i is strictly positive).
    * Integer accumulation → order-independent → engine-portable. */
  def signature(vec: Array[Double], nbits: Int): Long = {
    var sig = 0L
    var i = 0
    while (i < nbits) {
      var acc = 0L
      var d = 0
      while (d < vec.length) {
        acc += hyperplaneSign(i, d) * quantize(vec(d))
        d += 1
      }
      if (acc > 0L) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** The lowest band index on which the two signatures agree, or -1.
    * Distributed dedup: a pair colliding in several bands is emitted
    * only by the bucket of its FIRST common band — no post-shuffle
    * distinct needed. */
  def firstCommonBand(sigA: Long, sigB: Long, bands: Int,
      bandBits: Int): Int = {
    val mask = (1L << bandBits) - 1L
    var b = 0
    while (b < bands) {
      val shift = b * bandBits
      if (((sigA >> shift) & mask) == ((sigB >> shift) & mask)) return b
      b += 1
    }
    -1
  }

  /** `⌈nbits/64⌉`-word generalization of [[signature]] for budgets
    * beyond one long ([[BandGeometry.deriveWide]] geometries): word w
    * holds bits [64w, 64w+64) with the SAME bit/hyperplane indexing,
    * so for nbits ≤ 64 `signatureWords(v, n)(0) == signature(v, n)`
    * bit-for-bit — the wide path is a superset, not a fork, and the
    * DuckDB replay (one hyperplane row per bit index) covers both. */
  def signatureWords(vec: Array[Double], nbits: Int): Array[Long] = {
    val words = new Array[Long]((nbits + 63) / 64)
    var i = 0
    while (i < nbits) {
      var acc = 0L
      var d = 0
      while (d < vec.length) {
        acc += hyperplaneSign(i, d) * quantize(vec(d))
        d += 1
      }
      if (acc > 0L) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** Band `b`'s packed bits — bit string positions [b·r, b·r+r) — out
    * of a [[signatureWords]] array, handling bands that straddle a
    * word boundary (any r not dividing 64). r ≤ 16 < 64, so a band
    * spans at most two words. */
  def bandOf(words: Array[Long], b: Int, bandBits: Int): Long = {
    val lo = b * bandBits
    val w = lo >> 6
    val off = lo & 63
    val mask = (1L << bandBits) - 1L
    val first = (words(w) >>> off) & mask
    if (off + bandBits <= 64) first
    else first | ((words(w + 1) << (64 - off)) & mask)
  }

  /** [[firstCommonBand]] over word arrays. */
  def firstCommonBandWords(a: Array[Long], b: Array[Long], bands: Int,
      bandBits: Int): Int = {
    var i = 0
    while (i < bands) {
      if (bandOf(a, i, bandBits) == bandOf(b, i, bandBits)) return i
      i += 1
    }
    -1
  }

  /** dot / (||a||·||b||) with precomputed norms (callers hoist the
    * norms so each vector's self-product is computed once, not once
    * per candidate pair — the constant-factor point of these operators
    * over BroadcastNestedLoopJoin re-evaluating full cosine_sim). Dot
    * is the same sequential fold as [[graft.expressions.VectorKernels
    * .cosine]], so gate decisions are bit-identical to the naive
    * plan's. */
  def gatedSim(a: Array[Double], b: Array[Double], normA: Double,
      normB: Double): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    dot / (normA * normB)
  }

  def norm(a: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }
}

/** A row decoded once: the original row plus its extracted vector and
  * hoisted norm. */
private[plans] final case class VecRow(row: UnsafeRow, vec: Array[Double],
    norm: Double) extends Serializable

/** Exact cosine-threshold join, broadcast regime: collect the build
  * side (chosen by statistics — the smaller side), decode each build
  * vector and its norm ONCE, broadcast, and stream the other side
  * with its own per-row norm hoisted. vs the BroadcastNestedLoopJoin
  * Spark would otherwise plan: same asymptotics, but cosine_sim there
  * re-walks both arrays (dot + both self-products) per PAIR — this
  * operator does one array walk per pair (the dot), norms amortized.
  *
  * 100 TB shape: the streamed side is never shuffled or collected;
  * driver memory is bounded by the build side exactly as for any
  * broadcast join.
  */
case class SimilarityBroadcastGateExec(
    left: SparkPlan, right: SparkPlan,
    leftVec: Expression, rightVec: Expression,
    threshold: Double, buildRight: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SimilarityBroadcastGateExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    import SimilarityJoinKernels._
    val (build, stream) = if (buildRight) (right, left) else (left, right)
    val (buildVecE, streamVecE) =
      if (buildRight) (rightVec, leftVec) else (leftVec, rightVec)

    val buildVecProj = UnsafeProjection.create(Seq(buildVecE), build.output)
    val buildRows: Array[VecRow] = build.executeCollect().map { r =>
      val u = r.asInstanceOf[UnsafeRow]
      val arr = buildVecProj(u).getArray(0)
      val vec =
        if (arr == null) Array.emptyDoubleArray else arr.toDoubleArray()
      VecRow(u, vec, norm(vec))
    }
    val bc = sparkContext.broadcast(buildRows)
    val t = threshold
    val bRight = buildRight
    val streamOut = stream.output
    val outAttrs = output

    stream.execute().mapPartitions { iter =>
      val vecProj = UnsafeProjection.create(Seq(streamVecE), streamOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val builds = bc.value
      iter.flatMap { row =>
        val arr = vecProj(row).getArray(0)
        if (arr == null) Iterator.empty
        else {
          val vec = arr.toDoubleArray()
          val nrm = norm(vec)
          builds.iterator.collect {
            case b if gatedSim(vec, b.vec, nrm, b.norm) >= t =>
              resultProj(
                if (bRight) joined(row, b.row) else joined(b.row, row))
          }
        }
      }
    }
  }
}

/** Approximate cosine-threshold join, banded LSH regime — the
  * large-large shape where neither side fits a broadcast: each row
  * computes one signature (bands × bandBits hyperplane bits packed in
  * ⌈bits/64⌉ longs — one for the classic 64-bit budget, more under a
  * [[BandGeometry.deriveWide]] geometry), replicates itself `bands`
  * times keyed by (band, band-signature), the shuffle co-locates band
  * collisions, and only
  * same-bucket cross pairs are scored with the exact cosine gate.
  * Deterministic recall < 1: a qualifying pair appears iff it collides
  * in ≥ 1 band (probability rises with similarity — the standard
  * signed-random-projection LSH contract; band geometry is
  * caller-tunable: more/wider bands per the corpus size and
  * threshold).
  *
  * Scale shape: shuffle volume is bands × (sig, projected row); with
  * 2^bandBits buckets per band the per-bucket pairing is
  * |bucket_l| × |bucket_r| gated dots, and the first-common-band rule
  * dedups WITHOUT a global distinct. No O(n·m) stage anywhere.
  */
case class SimilarityBandedJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftVec: Expression, rightVec: Expression,
    threshold: Double, bands: Int, bandBits: Int) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SimilarityBandedJoinExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "candPairs" -> SQLMetrics.createMetric(sparkContext,
      "candidate pairs gated"),
    "numBuckets" -> SQLMetrics.createMetric(sparkContext,
      "non-empty bucket cells"),
    "splitBuckets" -> SQLMetrics.createMetric(sparkContext,
      "oversized buckets split"))

  /** Largest single bucket-cell candidate-pair count the last
    * execution saw (the task-skew number — a cell is the unit of
    * sequential work); -1 before any execution. With the split conf
    * off (default) a cell IS a bucket. */
  def maxCellPairs: Long = Option(maxAcc).map(_.value).getOrElse(-1L)
  @transient private var maxAcc: MaxLongAccumulator = _

  /** (bucketKey, cellKey) → (signature words, row) with bands-fold
    * replication. bucketKey packs (band, band-signature) into one
    * long; cellKey is 0 except in `hot` buckets, which are split into
    * a kL×kR grid of cells — each left row lands in ONE deterministic
    * row-block i (content hash) and replicates across the kR column
    * blocks, each right row symmetrically, so a pair meets in exactly
    * one cell and the per-task pairing cost is bounded by
    * maxBucketPairs instead of |bucket_l|×|bucket_r|. */
  private def keyed(rdd: RDD[InternalRow],
      planOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      vecE: Expression, isLeft: Boolean,
      hotBc: org.apache.spark.broadcast.Broadcast[Map[Long, (Int, Int)]])
      : RDD[((Long, Long), (Array[Long], UnsafeRow))] = {
    val nbits = bands * bandBits
    val nBands = bands
    val nBandBits = bandBits
    rdd.mapPartitions { iter =>
      val vecProj = UnsafeProjection.create(Seq(vecE), planOut)
      val hot = hotBc.value
      iter.flatMap { row =>
        val arr = vecProj(row).getArray(0)
        if (arr == null) Iterator.empty
        else {
          val sig = SimilarityJoinKernels.signatureWords(
            arr.toDoubleArray(), nbits)
          val copy = row.asInstanceOf[UnsafeRow].copy()
          (0 until nBands).iterator.flatMap { b =>
            val bucket = (b.toLong << nBandBits) |
              SimilarityJoinKernels.bandOf(sig, b, nBandBits)
            hot.get(bucket) match {
              case None =>
                Iterator(((bucket, 0L), (sig, copy)))
              case Some((kL, kR)) =>
                // UnsafeRow.hashCode is Murmur3 over the row BYTES —
                // content-derived, so the block assignment is
                // partition-invariant (the simjoin_banded_stable
                // ClusterCheck contract)
                if (isLeft) {
                  val i = java.lang.Math.floorMod(copy.hashCode, kL).toLong
                  (0 until kR).iterator.map(j =>
                    ((bucket, (i << 32) | j.toLong), (sig, copy)))
                } else {
                  val j = java.lang.Math.floorMod(copy.hashCode, kR).toLong
                  (0 until kL).iterator.map(i =>
                    ((bucket, (i.toLong << 32) | j), (sig, copy)))
                }
            }
          }
        }
      }
    }
  }

  /** Per-bucket row counts from a signature-only pass (shuffles
    * (long, long) pairs — tiny next to the join shuffle). Used only
    * when the split conf is on; costs one extra traversal of the
    * child. */
  private def bucketCounts(rdd: RDD[InternalRow],
      planOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      vecE: Expression): RDD[(Long, Long)] = {
    val nbits = bands * bandBits
    val nBands = bands
    val nBandBits = bandBits
    rdd.mapPartitions { iter =>
      val vecProj = UnsafeProjection.create(Seq(vecE), planOut)
      iter.flatMap { row =>
        val arr = vecProj(row).getArray(0)
        if (arr == null) Iterator.empty
        else {
          val sig = SimilarityJoinKernels.signatureWords(
            arr.toDoubleArray(), nbits)
          (0 until nBands).iterator.map { b =>
            ((b.toLong << nBandBits) |
              SimilarityJoinKernels.bandOf(sig, b, nBandBits), 1L)
          }
        }
      }
    }.reduceByKey(_ + _)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    import SimilarityJoinKernels._
    val t = threshold
    val nBands = bands
    val nBandBits = bandBits
    val outAttrs = output
    val lOut = left.output
    val rOut = right.output
    val lVecE = leftVec
    val rVecE = rightVec
    val numOut = longMetric("numOutputRows")
    val candMetric = longMetric("candPairs")
    val bucketMetric = longMetric("numBuckets")
    val maxPairs = conf.getConfString(
      SimilarityBandedJoinExec.MaxBucketPairsConf, "0").toLong
    maxAcc = new MaxLongAccumulator
    sparkContext.register(maxAcc, "max bucket-cell candidate pairs")
    val maxAccL = maxAcc

    // self-join detection must be exprId-free: the two sides carry
    // distinct attribute ids even when they plan the same scan, so
    // compare the vec expressions bound to their own side's output
    // ordinals (BoundReference is canonical by position)
    val selfJoin = left.sameResult(right) &&
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(lVecE, left.output) ==
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(rVecE, right.output)
    // sizing-pass consistency: with the split conf on, the bucket
    // sizing pass and the join pass traverse each child TWICE. For a
    // deterministic child the recompute is identical and free of
    // state; a NON-deterministic child (rand()/udf-nondet/monotonic
    // id anywhere in the subtree) could produce different rows per
    // traversal, so the sizing would split stale buckets and the one
    // shape this conf exists to bound — an oversized cell — could
    // sail through unsplit. Such children are persisted ONCE (rows
    // copied first: execute() reuses mutable UnsafeRows) and both
    // passes read the same materialization; a sameResult self-join
    // shares the single persisted RDD across both sides (positional
    // binding is valid by sameResult). The cached RDD is released by
    // the ContextCleaner when the plan's RDDs are collected.
    val stabilize = maxPairs > 0 &&
      (left.find(_.expressions.exists(!_.deterministic)).isDefined ||
        right.find(_.expressions.exists(!_.deterministic)).isDefined)
    def childRdd(p: SparkPlan): RDD[InternalRow] =
      if (!stabilize) p.execute()
      else p.execute().map(_.copy())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lRdd = childRdd(left)
    val rRdd = if (selfJoin && stabilize) lRdd else childRdd(right)

    // opt-in hot-bucket mitigation: size every bucket first (an extra
    // signature pass — ONE for a self-join, where both children plan
    // the same scan, two otherwise), then grid-split any bucket whose
    // cross product exceeds the bound. Only the hot buckets —
    // typically none — reach the driver or pay replication.
    val hot: Map[Long, (Int, Int)] =
      if (maxPairs <= 0) Map.empty
      else {
        val cell = math.max(1L,
          math.ceil(math.sqrt(maxPairs.toDouble)).toLong)
        def blocks(c: Long): Int = ((c + cell - 1) / cell).toInt
        // the split predicate is division, not lc * rc > maxPairs: at
        // the corpus sizes this mitigation exists for the product
        // overflows Long (lc = rc ≈ 3.04e9 wraps negative) and the
        // overflow would silently skip splitting exactly the hottest
        // buckets
        if (selfJoin)
          // self-join (every canonical caller): per bucket lc == rc,
          // so ONE signature pass sizes both sides — the join of two
          // independently recomputed count RDDs would scan twice
          bucketCounts(lRdd, lOut, leftVec)
            .filter { case (_, c) => c > maxPairs / c }
            .collect()
            .map { case (bucket, c) => (bucket, (blocks(c), blocks(c))) }
            .toMap
        else
          bucketCounts(lRdd, lOut, leftVec)
            .join(bucketCounts(rRdd, rOut, rightVec))
            .filter { case (_, (lc, rc)) => lc > maxPairs / rc }
            .collect()
            .map { case (bucket, (lc, rc)) =>
              (bucket, (blocks(lc), blocks(rc)))
            }.toMap
      }
    if (hot.nonEmpty) {
      val m = longMetric("splitBuckets")
      m.add(hot.size)
      val execId = sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
      SQLMetrics.postDriverMetricUpdates(sparkContext, execId, Seq(m))
    }
    val hotBc = sparkContext.broadcast(hot)

    keyed(lRdd, lOut, leftVec, isLeft = true, hotBc)
      .cogroup(keyed(rRdd, rOut, rightVec, isLeft = false, hotBc),
        conf.numShufflePartitions)
      .mapPartitions { buckets =>
        val lProj = UnsafeProjection.create(Seq(lVecE), lOut)
        val rProj = UnsafeProjection.create(Seq(rVecE), rOut)
        val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val log = org.slf4j.LoggerFactory.getLogger(
          classOf[SimilarityBandedJoinExec])
        buckets.flatMap { case ((bucket, cell), (ls, rs)) =>
          if (ls.isEmpty || rs.isEmpty) Iterator.empty
          else {
            val band = (bucket >> nBandBits).toInt
            // decode vectors + norms once per bucket entry, then the
            // bucket-local pairing is pure gated dot products
            val lRows = ls.iterator.map { case (sig, row) =>
              val vec = lProj(row).getArray(0).toDoubleArray()
              (sig, VecRow(row, vec, norm(vec)))
            }.toArray
            val rRows = rs.iterator.map { case (sig, row) =>
              val vec = rProj(row).getArray(0).toDoubleArray()
              (sig, VecRow(row, vec, norm(vec)))
            }.toArray
            val cand = lRows.length.toLong * rRows.length
            candMetric.add(cand)
            bucketMetric.add(1)
            maxAccL.add(cand)
            if (cand > SimilarityBandedJoinExec.WarnPairs)
              log.warn(s"banded similarity join: bucket $bucket cell " +
                s"$cell pairs ${lRows.length}x${rRows.length} = $cand " +
                "candidates in ONE task (warn bound " +
                s"${SimilarityBandedJoinExec.WarnPairs}) — set " +
                s"${SimilarityBandedJoinExec.MaxBucketPairsConf} to " +
                "grid-split oversized buckets")
            lRows.iterator.flatMap { case (lSig, l) =>
              rRows.iterator.collect {
                case (rSig, r)
                    if firstCommonBandWords(lSig, rSig, nBands,
                      nBandBits) == band &&
                      gatedSim(l.vec, r.vec, l.norm, r.norm) >= t =>
                  numOut.add(1)
                  resultProj(joined(l.row, r.row))
              }
            }
          }
        }
      }
  }
}

object SimilarityBandedJoinExec {
  /** Oversized-bucket WARNING bound (candidate pairs in one bucket
    * cell; 1e9 ≈ a minute of sequential gated dots): exceeding it logs
    * an executor-side warning naming the bucket and the mitigation
    * conf. Observation only — the plan is unchanged. */
  val WarnPairs = 1000000000L

  /** Opt-in hot-bucket mitigation bound: when > 0, buckets whose
    * |left|×|right| cross product exceeds it are grid-split into
    * ⌈l/√bound⌉ × ⌈r/√bound⌉ cells (left rows replicate across column
    * blocks, right rows across row blocks; a pair meets in exactly one
    * cell, so the OUTPUT is identical to the unsplit plan) — per-task
    * work is then bounded by ~the conf value regardless of how skewed
    * the signature distribution is. Costs one extra signature pass
    * over both children (bucket sizing) plus replication inside the
    * hot buckets only. 0 (default) = off. */
  val MaxBucketPairsConf = "spark.graft.similarityJoin.maxBucketPairs"
}
