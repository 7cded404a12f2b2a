package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, JoinedRow, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.storage.StorageLevel

/** The inverted-index pipeline [[JaccardInvertedJoinExec]] and
  * [[LevenshteinSegmentJoinExec]] share. An exec indexes each side's
  * rows ([[indexed]]), turns them into postings keyed by a 64-bit key,
  * reduces the postings to the (lid, rid) pairs that meet on a key
  * ([[pairs]]) and joins those pairs back to their rows
  * ([[joinBack]]).
  *
  * What each exec keeps: the jaccard exec its shingle postings and its
  * threshold; the levenshtein exec its segment keys, its df escalation,
  * its volume-aware widths and the banded-DP verify expression it
  * hands to [[joinBack]].
  */
private[plans] object InvertedIndexJoin {

  /** A side's rows with a synthetic id unique within the side:
    * (partitionId << 33) | ordinal. 33 bits of ordinal per partition;
    * a partition crossing 2^33 rows would collide ids — at the
    * 128 MiB-split sizing the engine uses, partitions are orders of
    * magnitude below that.
    *
    * Persisted (MEMORY_AND_DISK) because it is consumed twice —
    * postings first, row payloads at join-back — and a recomputation
    * between those two uses could reorder rows under a shuffling
    * child, silently remapping ids (the classic zipWithIndex hazard).
    * ContextCleaner unpersists it when the RDD is garbage-collected
    * after the job. */
  def indexed(child: SparkPlan): RDD[(Long, UnsafeRow)] =
    child.execute().mapPartitionsWithIndex { (pid, iter) =>
      var i = 0L
      iter.map { row =>
        val id = (pid.toLong << 33) | i
        i += 1
        (id, row.asInstanceOf[UnsafeRow].copy())
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** The widest cogroup an exec may use: its read-side
    * ExternalAppendOnlyMap holds every distinct key of a partition
    * (46M distinct shingle keys at 1M heavy-tailed docs — 1.4M keys of
    * CompactBuffers per task at `nPart` OOM'd; wider bounds it). The
    * width scales with the INPUT's partition count, so a small join
    * doesn't pay 450 tasks of scheduling (a fixed nPart*8 + 200
    * measured 2.5× slower than necessary at sf0.1) while a
    * corpus-scale one still fans out. */
  def cogroupCap(nPart: Int, lIdx: RDD[_], rIdx: RDD[_]): Int = {
    val inParts = math.max(lIdx.getNumPartitions, rIdx.getNumPartitions)
    math.max(nPart, math.min(nPart * 8, inParts * 4))
  }

  /** The (lid, rid) pairs whose key co-occurrences pass
    * [[JaccardJoinKernels.groupAndFilter]] at `t`: postings cogroup by
    * key on `cogroupWidth` partitions; every co-occurrence is emitted
    * as (lid, rid) packed with the two set sizes `posting` reads off a
    * posting, (na << 32) | nb. A pair sharing s keys meets in exactly
    * s buckets, so its run length is its exact intersection.
    *
    * The co-occurrence stream is QUADRATIC in per-key df (the driver
    * data measures 100× candidate growth for 10× docs while true
    * pairs stay linear — 237M occurrences at 50k docs on a hot closed
    * vocabulary), so it must never sit in a tracked Spark collection:
    * both a reduceByKey's combiner maps and a repartitionAndSort's
    * ExternalSorter OOM'd an 8 GB local[32] heap — SizeEstimator
    * undercounts boxed nested tuples, so 32 concurrent tasks legally
    * acquire more execution memory than the heap physically holds
    * before any spill triggers. The shape that survives:
    *  (a) the shuffle WRITE streams — the pair partitioner stays at or
    *      below spark.shuffle.sort.bypassMergeThreshold's default
    *      (200), so BypassMergeSortShuffleWriter writes records straight
    *      to per-partition files with zero buffering;
    *  (b) the per-partition grouping runs in packed primitive long
    *      columns (24 bytes/record, no estimator in the loop) with a
    *      HYBRID memory bound: up to 4M records (~96 MB) sort in
    *      memory; past that, everything streams to 16 task-local
    *      sub-bucket spill files by pair hash and each sub-bucket
    *      loads, sorts and run-counts ALONE — peak task memory is then
    *      slice/16 regardless of corpus (1.15B occurrences at 1M
    *      heavy-tailed docs ÷ 200 partitions ÷ 16 ≈ 9 MB loads; the
    *      unchunked version held the whole 140 MB slice × 32
    *      concurrent tasks and OOM'd on allocation transients, while
    *      the always-spill version taxed the common small case). */
  def pairs[V: ClassTag](lPost: RDD[(Long, V)], rPost: RDD[(Long, V)],
      cogroupWidth: Int, t: Double, overlap: Boolean)(
      posting: V => (Long, Int)): RDD[(Long, Long)] =
    lPost.cogroup(rPost, cogroupWidth)
      .flatMap { case (_, (ls, rs)) =>
        if (ls.isEmpty || rs.isEmpty) Iterator.empty
        else {
          val la = ls.iterator.map(posting).toArray
          rs.iterator.flatMap { rv =>
            val (rid, nb) = posting(rv)
            la.iterator.map { case (lid, na) =>
              ((lid, rid), (na.toLong << 32) | (nb.toLong & 0xffffffffL))
            }
          }
        }
      }
      .partitionBy(new HashPartitioner(math.min(200, cogroupWidth)))
      .mapPartitions { iter =>
        JaccardJoinKernels.groupAndFilter(iter, t, overlap = overlap)
      }

  /** Joins each (lid, rid) pair to its two indexed rows by id on
    * `nPart` partitions and emits the joined row (`output` = left
    * output ++ right output) — only where `verify`, a predicate over
    * the joined row, holds, when one is given. */
  def joinBack(pairs: RDD[(Long, Long)], lIdx: RDD[(Long, UnsafeRow)],
      rIdx: RDD[(Long, UnsafeRow)], nPart: Int, output: Seq[Attribute],
      verify: Option[Expression]): RDD[InternalRow] =
    pairs
      .join(lIdx, nPart)
      .map { case (_, (rid, lRow)) => (rid, lRow) }
      .join(rIdx, nPart)
      .mapPartitions { iter =>
        val joined = new JoinedRow
        val keep = verify.map(Predicate.create(_, output))
        val proj = UnsafeProjection.create(output, output)
        iter.map { case (_, (lRow, rRow)) => joined(lRow, rRow) }
          .filter(jr => keep.forall(_.eval(jr)))
          .map(proj)
      }
}
