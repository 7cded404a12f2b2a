package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThanOrEqual, Levenshtein, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.storage.StorageLevel

/** Segment-extraction kernels for [[LevenshteinSegmentJoinExec]].
  *
  * Everything operates on CODEPOINT arrays — Spark's `levenshtein`
  * counts edits in codepoints, so blocking must measure lengths,
  * positions and slices in the same unit or a surrogate pair would
  * shift every window by one and break the no-false-negative proof.
  *
  * Even-split convention (both sides must agree): a length-L string
  * splits into m segments where the FIRST `m - L%m` segments have
  * floor(L/m) codepoints and the rest have one more. */
private[graft] object LevenshteinJoinKernels {

  def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0; var i = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      out(i) = cp; i += 1
      ci += Character.charCount(cp)
    }
    out
  }

  def segLen(total: Int, i: Int, m: Int): Int = {
    val base = total / m
    if (i < m - total % m) base else base + 1
  }

  def segStart(total: Int, i: Int, m: Int): Int = {
    val base = total / m
    val nShort = m - total % m
    if (i <= nShort) i * base
    else nShort * base + (i - nShort) * (base + 1)
  }

  /** FNV-1a 64 over the codepoint slice, seeded with the segment
    * ordinal and the indexed-side length — (i, L, content) is the
    * blocking key, packed into one long. */
  def segKey(cps: Array[Int], from: Int, len: Int, i: Int, l: Int): Long = {
    var h = 0xcbf29ce484222325L
    h ^= i; h *= 0x100000001b3L
    h ^= l; h *= 0x100000001b3L
    var j = from
    val until = from + len
    while (j < until) { h ^= cps(j); h *= 0x100000001b3L; j += 1 }
    h
  }

  /** Index-side keys: all m segment keys of this string — m = k+1 in
    * the baseline PassJoin regime, any m ≥ k+1 in the multi-segment
    * regime. k edits destroy at most k of the m segments, so ≥ m−k
    * survive verbatim (within the ±k probe window) — which is what
    * lets the exec INDEX only the k+1 lowest-df segments per row and
    * stay lossless: any k+1 of them still contain ≥ 1 survivor by the
    * same pigeonhole. */
  def postingKeysM(cps: Array[Int], m: Int): Array[Long] = {
    val l = cps.length
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = segKey(cps, segStart(l, i, m), segLen(l, i, m), i, l)
      i += 1
    }
    out
  }

  /** Probe-side keys for m segments: for every candidate indexed
    * length L ∈ [|b|−k, |b|+k] and segment i < m, the substrings of b
    * with segment i's length starting within ±k of segment i's
    * position — if lev(a, b) ≤ k then some segment of a survives
    * verbatim in b (pigeonhole: k edits destroy ≤ k of the m ≥ k+1
    * segments) and the ≤ k edits before it shift its start by ≤ k, so
    * the window is complete. O(k²·m) keys per row — O(k³) at m = k+1,
    * constant for the small k an edit-distance join means. Zero-length
    * segments (strings shorter than m) probe the empty slice once per
    * (i, L): an empty segment is trivially preserved, keeping short
    * strings inside the same lossless key space rather than a
    * special-cased short-bucket cross. */
  def probeKeysM(cps: Array[Int], k: Int, m: Int): Array[Long] = {
    val nb = cps.length
    // exact upper bound: (2k+1) lengths × m segments × (2k+1) window
    // positions — primitive array, no boxing in the per-row hot path
    val out = new Array[Long]((2 * k + 1) * m * (2 * k + 1))
    var n = 0
    var l = math.max(0, nb - k)
    while (l <= nb + k) {
      var i = 0
      while (i < m) {
        val sl = segLen(l, i, m)
        if (sl == 0) { out(n) = segKey(cps, 0, 0, i, l); n += 1 }
        else {
          val p = segStart(l, i, m)
          var q = math.max(0, p - k)
          val qMax = math.min(nb - sl, p + k)
          while (q <= qMax) {
            out(n) = segKey(cps, q, sl, i, l)
            n += 1
            q += 1
          }
        }
        i += 1
      }
      l += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}

/** Exact edit-distance-threshold join via segment-pigeonhole blocking
  * (the PassJoin shape — Li et al., PVLDB 2011) + banded-DP
  * verification.
  *
  * Four keyed stages, no O(n·m) anywhere — the [[InvertedIndexJoin]]
  * pipeline [[JaccardInvertedJoinExec]] also runs, with segment keys
  * in place of shingle keys. This exec keeps the keys, the df
  * escalation, the widths and the verify expression:
  *
  *  1. index: persisted synthetic rowIds ([[InvertedIndexJoin.indexed]]);
  *  2. keys: left rows emit their k+1 segment keys, right rows emit
  *     the O(k³) probe-window keys (see
  *     [[LevenshteinJoinKernels.probeKeysM]]); 8-byte packed
  *     (ordinal, length, content-hash) keys — never the string;
  *  3. candidates: cogroup by key, emit (lid, rid) co-occurrences,
  *     dedup in the hybrid packed-primitive grouping
  *     ([[InvertedIndexJoin.pairs]] at t = 0 — a run of equal pairs
  *     emits once, with the same in-memory/spill-file memory bound
  *     the jaccard exec measured at 1.15B occurrences);
  *  4. join-back + verify: the (small) candidate set joins each side
  *     by rowId and each pair runs ONE banded O(len·k) Levenshtein
  *     (the [[BoundLevenshteinRule]] kernel: `levenshtein(a, b, k)`
  *     early-exits and returns −1 past the bound). False positives
  *     die here; stage 2's pigeonhole guarantees no false negatives.
  *
  * A hot segment key (e.g. a shared prefix across a generated id
  * column at one length) would cost |L|·|R| candidate rows for that
  * key under the baseline m = k+1 split, so the exec measures the
  * segment-key df distribution first (one bounded aggregation) and
  * escalates hot inputs to the MULTI-SEGMENT regime (the standard
  * PassJoin extension): split into m = 2(k+1), 4(k+1), ... segments,
  * index each row under only its k+1 lowest-df segment keys (any k+1
  * segments still contain ≥ 1 edit-survivor by pigeonhole — exact,
  * never approximate), probe all m ordinals' windows. Doubling stops
  * when the selected postings' max df clears the hot bound or at
  * 16(k+1) segments; content whose diversity k+1 short segments
  * cannot reach keeps the residual hot cost as the documented honest
  * price, and the approximate mining paths (Dedup.editDistancePairs'
  * winnow blocking) remain the operator API for corpora where even
  * that is unacceptable.
  *
  * 100 TB shape: every stage shuffles on a key (segment hash, pair,
  * rowId); rows ship through exactly two shuffles; candidate volume
  * is bounded by key co-occurrence, not |L|×|R|; verification is
  * O(candidates · len · k), never O(candidates · len²).
  */
case class LevenshteinSegmentJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftText: Expression, rightText: Expression,
    k: Int) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): LevenshteinSegmentJoinExec =
    copy(left = newLeft, right = newRight)

  private def keyed(idx: RDD[(Long, UnsafeRow)], textE: Expression,
      attrs: Seq[Attribute], kk: Int, m: Int, probe: Boolean)
      : RDD[(Long, Long)] =
    idx.mapPartitions { iter =>
      val proj = UnsafeProjection.create(Seq(textE), attrs)
      iter.flatMap { case (id, row) =>
        val projected = proj(row)
        if (projected.isNullAt(0)) Iterator.empty // null text: predicate null
        else {
          val cps = LevenshteinJoinKernels.codePoints(
            projected.getUTF8String(0).toString)
          val keys =
            if (probe) LevenshteinJoinKernels.probeKeysM(cps, kk, m)
            else LevenshteinJoinKernels.postingKeysM(cps, m)
          keys.iterator.map(key => (key, id))
        }
      }
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val kk = k
    val lOut = left.output
    val rOut = right.output
    val lTextE = leftText
    val rTextE = rightText
    val nPart = conf.numShufflePartitions

    val lIdx = InvertedIndexJoin.indexed(left)
    val rIdx = InvertedIndexJoin.indexed(right)
    val capWidth = InvertedIndexJoin.cogroupCap(nPart, lIdx, rIdx)

    // ---- segment-df regime choice (multi-segment PassJoin) ----
    // The baseline m = k+1 segmentation degrades to n² candidates on
    // low-diversity content: a shared prefix at one length makes
    // segment 0's posting ONE hot key. The stats that reveal it are
    // the segment-key dfs themselves, so measure them (one bounded
    // reduceByKey over the k+1 posting keys per row) and, when a key
    // is hot, escalate to m = 2(k+1), 4(k+1), ... segments, indexing
    // each row under only its k+1 LOWEST-df segment keys. Lossless by
    // the same pigeonhole: ≤ k of any k+1 chosen segments are
    // destroyed by k edits, so ≥ 1 survives verbatim inside the probe
    // window — and the probe side enumerates windows for ALL m
    // ordinals, so the survivor's key is always probed. Each doubling
    // shortens segments, pushing more of them into the content's
    // diverse region until the SELECTED postings' max df clears the
    // bound (or the doubling cap is hit — the residual hot cost is
    // then the documented honest price).
    val m0 = kk + 1
    val keys0 = keyed(lIdx, lTextE, lOut, kk, m0, probe = false)
    val df0 = keys0.mapValues(_ => 1L).reduceByKey(_ + _)
    val (sum0, max0) = df0.aggregate((0L, 0L))(
      (a, kv) => (a._1 + kv._2, math.max(a._2, kv._2)),
      (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    val nEst = math.max(1L, sum0 / m0)
    val hotBound = math.max(256L, 8L * math.round(math.sqrt(nEst.toDouble)))

    // Volume-aware widths: the df pass measured the TRUE posting
    // volume before any wide shuffle runs, so widths derive from it
    // instead of the input partition count alone (which over-widths
    // small inputs into empty-task scheduling — 128 near-empty tasks
    // per stage for a 20k-key soak input). The cogroup targets ~125k
    // left-posting keys per partition (its read-side map holds every
    // distinct key of a partition; the probe side adds the same-order
    // (2k+1)-window expansion), floored at the session width and
    // capped by the input-derived policy so a 100 TB input still
    // widens with its data.
    val volWidth = (sum0 / 125000L + 1L).toInt
    val cogroupWidth = math.min(capWidth, math.max(nPart, volWidth))
    // the stats/selection shuffles carry one (key, id) pair per
    // posting key — narrower still (~2M pairs per partition)
    val statsWidth = math.max(8L,
      math.min(cogroupWidth.toLong, sum0 / 2000000L + 1L)).toInt

    var lPost: RDD[(Long, Long)] = keys0
    var probeM = m0
    if (max0 > hotBound) {
      var m = m0
      var selMax = max0
      while (selMax > hotBound && m < 16 * m0) {
        m *= 2
        val keysM = keyed(lIdx, lTextE, lOut, kk, m, probe = false)
        val dfM = keysM.mapValues(_ => 1L).reduceByKey(_ + _, statsWidth)
        // per-row k+1 lowest-df segment keys, ties by key — a bounded
        // m-entry list per row, deterministic under any merge order
        val selected = keysM.join(dfM, statsWidth)
          .map { case (key, (lid, df)) => (lid, (df, key)) }
          .aggregateByKey(List.empty[(Long, Long)], statsWidth)(
            (acc, v) => v :: acc, _ ::: _)
          .flatMap { case (lid, entries) =>
            entries.sorted.take(kk + 1)
              .map { case (_, key) => (key, lid) }
          }
          // persisted: the selMax action below materializes it, and
          // the main cogroup reuses it instead of recomputing the
          // join+aggregate chain (ContextCleaner unpersists once the
          // reference drops — InvertedIndexJoin.indexed's pattern)
          .persist(StorageLevel.MEMORY_AND_DISK)
        // the cost that matters is the df of the keys actually KEPT
        selMax = selected.mapValues(_ => 1L).reduceByKey(_ + _, statsWidth)
          .aggregate(0L)((a, kv) => math.max(a, kv._2), math.max)
        // the superseded iteration's posting set is dead the moment
        // the new selection materializes (the action above) — drop it
        // eagerly instead of waiting on the ContextCleaner, so peak
        // storage during escalation holds ONE posting set, not one per
        // doubling (keys0 itself is never persisted)
        if (lPost ne keys0) lPost.unpersist(blocking = false)
        lPost = selected
        probeM = m
      }
    }

    // dedup candidates in the packed-primitive hybrid grouping: with
    // the overlap metric and sizes (1, 1) a run of ANY length scores
    // run/min(1,1) = run >= 1 > t = 0, so every distinct (lid, rid)
    // emits exactly once regardless of how many segment keys the pair
    // met on (the jaccard metric would go negative past runs of 2 —
    // s/(2-s) — and silently drop the pair)
    val candidates = InvertedIndexJoin.pairs(lPost,
      keyed(rIdx, rTextE, rOut, kk, probeM, probe = true), cogroupWidth,
      0.0, overlap = true)((id: Long) => (id, 1))
    // ONE banded DP per candidate: levenshtein(a, b, k) >= 0 is the
    // user's predicate exactly (BoundLevenshteinRule's equivalence)
    InvertedIndexJoin.joinBack(candidates, lIdx, rIdx, nPart, output,
      verify = Some(GreaterThanOrEqual(
        Levenshtein(lTextE, rTextE, Some(Literal(kk))), Literal(0))))
  }
}
