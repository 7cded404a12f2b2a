package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

import graft.expressions.TextKernels

/** Primitive-array kernel for the pair-count stage: an in-place
  * 3-column quicksort ordering (lids, rids, sizes) by (lid, rid).
  * Exists because the quadratic occurrence slice must live as packed
  * longs, never as boxed records in a Spark-tracked collection (see
  * [[InvertedIndexJoin.pairs]]'s memory note). */
private[graft] object JaccardJoinKernels {
  def sortByPair(l: Array[Long], r: Array[Long], s: Array[Long],
      lo: Int, hi: Int): Unit = {
    if (lo >= hi) return
    // median-of-three pivot guards the sorted/reverse-sorted inputs a
    // hash-partitioned stream can approximate
    val mid = lo + (hi - lo) / 2
    if (less(l, r, mid, lo)) swap(l, r, s, lo, mid)
    if (less(l, r, hi, lo)) swap(l, r, s, lo, hi)
    if (less(l, r, hi, mid)) swap(l, r, s, mid, hi)
    val pl = l(mid); val pr = r(mid)
    var i = lo; var j = hi
    while (i <= j) {
      while (l(i) < pl || (l(i) == pl && r(i) < pr)) i += 1
      while (l(j) > pl || (l(j) == pl && r(j) > pr)) j -= 1
      if (i <= j) { swap(l, r, s, i, j); i += 1; j -= 1 }
    }
    sortByPair(l, r, s, lo, j)
    sortByPair(l, r, s, i, hi)
  }
  private def less(l: Array[Long], r: Array[Long], a: Int, b: Int): Boolean =
    l(a) < l(b) || (l(a) == l(b) && r(a) < r(b))
  private def swap(l: Array[Long], r: Array[Long], s: Array[Long],
      a: Int, b: Int): Unit = {
    val tl = l(a); l(a) = l(b); l(b) = tl
    val tr = r(a); r(a) = r(b); r(b) = tr
    val ts = s(a); s(a) = s(b); s(b) = ts
  }

  /** Records an in-memory buffer may hold before the task switches to
    * sub-bucket spill files (~96 MB of packed columns). */
  val MaxInMemoryRecords: Int = 4 << 20

  /** Sort a (lids, rids, sizes) block by pair and emit the pairs whose
    * run length (= exact intersection) meets the metric threshold —
    * jaccard `shared/(na+nb-shared)` or overlap `shared/min(na,nb)`. */
  private def countRuns(l: Array[Long], r: Array[Long], s: Array[Long],
      count: Int, t: Double, overlap: Boolean): Iterator[(Long, Long)] = {
    sortByPair(l, r, s, 0, count - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < count) {
      var j = i + 1
      while (j < count && l(j) == l(i) && r(j) == r(i)) j += 1
      val shared = j - i
      val na = (s(i) >>> 32).toInt
      val nb = (s(i) & 0xffffffffL).toInt
      val score =
        if (overlap) shared.toDouble / math.min(na, nb)
        else shared.toDouble / (na + nb - shared)
      if (score >= t) out += ((l(i), r(i)))
      i = j
    }
    out.iterator
  }

  /** The hybrid per-partition grouping (see [[InvertedIndexJoin.pairs]]'s
    * comment): in-memory up to [[MaxInMemoryRecords]], task-local
    * sub-bucket spill files past it. */
  def groupAndFilter(iter: Iterator[((Long, Long), Long)], t: Double,
      max: Int = MaxInMemoryRecords,
      overlap: Boolean = false): Iterator[(Long, Long)] = {
    var l = new Array[Long](1024)
    var r = new Array[Long](1024)
    var s = new Array[Long](1024)
    var n = 0
    var spilled = false
    var result: Iterator[(Long, Long)] = Iterator.empty
    while (iter.hasNext && !spilled) {
      val ((lid, rid), packed) = iter.next()
      if (n >= max) spilled = true
      else if (n == l.length) {
        val cap = math.max(math.min(max, n * 2), n + 1)
        l = java.util.Arrays.copyOf(l, cap)
        r = java.util.Arrays.copyOf(r, cap)
        s = java.util.Arrays.copyOf(s, cap)
      }
      if (!spilled) { l(n) = lid; r(n) = rid; s(n) = packed; n += 1 }
      else {
        // flush the buffered prefix + the rest of the stream to files
        import java.io._
        val SubBuckets = 16
        val files = Array.fill(SubBuckets)(
          File.createTempFile("graft_jaccard_occ", ".bin"))
        // failure-safe cleanup: files die with the task, not the JVM
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => files.foreach(_.delete())))
        val outs = files.map(f => new DataOutputStream(
          new BufferedOutputStream(new FileOutputStream(f), 1 << 16)))
        def write(lid: Long, rid: Long, packed: Long): Unit = {
          val h = (java.lang.Long.hashCode(lid) * 31
            + java.lang.Long.hashCode(rid)) & (SubBuckets - 1)
          val o = outs(h)
          o.writeLong(lid); o.writeLong(rid); o.writeLong(packed)
        }
        var i = 0
        while (i < n) { write(l(i), r(i), s(i)); i += 1 }
        write(lid, rid, packed)
        iter.foreach { case ((il, ir), p) => write(il, ir, p) }
        outs.foreach(_.close())
        result = files.iterator.flatMap { f =>
          val count = (f.length() / 24).toInt
          val fl = new Array[Long](count)
          val fr = new Array[Long](count)
          val fs = new Array[Long](count)
          val in = new DataInputStream(
            new BufferedInputStream(new FileInputStream(f), 1 << 16))
          var i = 0
          while (i < count) {
            fl(i) = in.readLong(); fr(i) = in.readLong()
            fs(i) = in.readLong(); i += 1
          }
          in.close()
          f.delete(): Unit
          countRuns(fl, fr, fs, count, t, overlap)
        }
      }
    }
    if (!spilled) countRuns(l, r, s, n, t, overlap) else result
  }
}

/** Exact jaccard-threshold join via a shingle inverted index — the
  * distributed shape of [[graft.operators.Dedup.jaccardPairs]] applied
  * to two arbitrary row streams inside the planner (q22 operates on an
  * id + text table; this exec carries whole rows and needs no id
  * column).
  *
  * Four keyed stages, no O(n·m) anywhere. Stages 1, 3 and 4 are
  * [[InvertedIndexJoin]]'s; this exec keeps the postings and the
  * threshold:
  *
  *  1. index: each side's rows get a persisted synthetic rowId
  *     ([[InvertedIndexJoin.indexed]]).
  *  2. postings: (shingleKey → (rowId, setSize)) — 64-bit xxhash64
  *     keys and two scalars per posting, never the shingle string and
  *     never the row (the same slim-shuffle contract as q22).
  *  3. pair counts: cogroup postings by shingle key; a pair sharing k
  *     shingles meets in exactly k buckets, so its co-occurrence count
  *     IS the exact intersection size — computed by streaming the
  *     occurrences through a buffer-free shuffle write, then sorting
  *     each partition's slice in packed primitive long columns and
  *     counting consecutive (lId, rId) runs (never a boxed hash or
  *     tracked sorter over the quadratic candidate set; see the
  *     [[InvertedIndexJoin.pairs]] memory note). jaccard = shared / (na + nb − shared),
  *     filter ≥ threshold — identical integer arithmetic to
  *     [[graft.expressions.TextKernels.jaccardSim]], so the boundary
  *     double compares equal and the rewrite is semantics-preserving.
  *  4. join-back: the (small) qualifying pair set joins each indexed
  *     side by rowId to emit the joined rows.
  *
  * There is deliberately NO stop-shingle df cap here: a cap drops true
  * pairs, and this exec implements the user's literal predicate. A hot
  * shingle in f docs costs f² pair-count rows — the honest price of
  * the declared semantics (the capped, approximate mining path stays
  * on the operator API: Dedup.jaccardPairs / minhashLshPairs).
  *
  * 100 TB shape: every stage shuffles on a key (shingle hash, pair id,
  * rowId); rows ship through exactly two shuffles (index → join-back),
  * postings are 24-byte records, and the pair-count frame is bounded
  * by co-occurrence, not by |L|×|R|.
  */
case class JaccardInvertedJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftText: Expression, rightText: Expression,
    n: Int, threshold: Double,
    metric: SetSimMetric = SetSimMetric.Jaccard) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): JaccardInvertedJoinExec =
    copy(left = newLeft, right = newRight)

  private def postings(idx: RDD[(Long, UnsafeRow)], textE: Expression,
      attrs: Seq[Attribute], shingleN: Int): RDD[(Long, (Long, Int))] =
    idx.mapPartitions { iter =>
      val proj = UnsafeProjection.create(Seq(textE), attrs)
      iter.flatMap { case (id, row) =>
        val projected = proj(row)
        if (projected.isNullAt(0)) Iterator.empty // null text: predicate null
        else {
          val keys = TextKernels.shingleHashKeys(
            projected.getUTF8String(0), shingleN)
          val sz = keys.length
          keys.iterator.map(k => (k, (id, sz)))
        }
      }
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val lIdx = InvertedIndexJoin.indexed(left)
    val rIdx = InvertedIndexJoin.indexed(right)
    val nPart = conf.numShufflePartitions
    val qualifying = InvertedIndexJoin.pairs(
      postings(lIdx, leftText, left.output, n),
      postings(rIdx, rightText, right.output, n),
      InvertedIndexJoin.cogroupCap(nPart, lIdx, rIdx), threshold,
      overlap = metric == SetSimMetric.Overlap)(identity)
    InvertedIndexJoin.joinBack(qualifying, lIdx, rIdx, nPart, output,
      verify = None)
  }
}
