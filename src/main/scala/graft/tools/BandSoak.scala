package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.{SimilarityBandedJoinExec, SimJoinRegime}

/** Banded-similarity-join hot-bucket soak:
  * `BandSoak <sfDir> [thresholds csv] [maxBucketPairs] [sigBits csv]`
  *
  * Measures the scale caveat `BandGeometry.derive` documents — a low
  * threshold forces narrow bands (0.35 → 4-bit bands = 16 coarse
  * buckets per band), and coarse buckets mean large within-bucket
  * cross products — as NUMBERS instead of prose: for each threshold
  * the self-join runs with threshold-derived geometry and one JSON
  * line reports the bucket-count / candidate-pair / largest-bucket /
  * max-task-time profile straight off the exec's SQL metrics and the
  * [[graft.plans.MaxLongAccumulator]] skew accumulator.
  *
  * An optional third arg re-runs every threshold with the grid-split
  * mitigation bound (`spark.graft.similarityJoin.maxBucketPairs`)
  * set, so the pinned table shows mitigation effect + overhead on the
  * same data. An optional fourth arg re-runs every threshold under
  * each signature-bit budget (`signatureBits` conf →
  * [[graft.plans.BandGeometry.deriveWide]]), measuring what a wider
  * budget buys at mid thresholds where the 64-bit derive is stuck on
  * coarse 4-bit bands. BASELINE.md records the 200k-vector tables
  * (GenData mult=100 embeddings).
  *
  * `<sfDir>` may instead be `skew:<n>[:<blobPct>]` — a deterministic
  * SKEWED corpus: blobPct% of the n vectors (default 10%) are a dense
  * cluster around one fixed centroid (±0.02 jitter on ±0.5 components
  * → intra-blob cosine ≈ 0.998), the rest iid uniform (the GenData
  * recipe). This is the mitigation's MOTIVATING case: every band maps
  * the whole blob into ONE bucket, so the unsplit join has a single
  * cell holding (n·blobPct/100)² candidate pairs regardless of how
  * the uniform mass spreads — the profile the uniform table cannot show,
  * where the grid split is the difference between one multi-minute
  * task and a parallel bounded fan. */
object BandSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val thresholds =
      if (args.length > 1) args(1).split(",").toSeq.map(_.toDouble)
      else Seq(0.35, 0.6, 0.8)
    val splitBound = if (args.length > 2) args(2).toLong else 0L
    val sigBitsList =
      if (args.length > 3) args(3).split(",").toSeq.map(_.toInt)
      else Seq.empty[Int]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // AQE off so the executed plan IS the exec node we read
    // metrics from (no AdaptiveSparkPlanExec indirection)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt,
      "spark.sql.adaptive.enabled" -> "false")

    @volatile var maxTaskMs = 0L
    @volatile var runStartMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        // finishTime guard: the bus is async, so a straggler TaskEnd
        // from run N could otherwise land after run N+1 resets the max
        // and be misattributed to it
        if (e.taskInfo != null && e.taskInfo.finishTime >= runStartMs &&
            e.taskInfo.duration > maxTaskMs)
          maxTaskMs = e.taskInfo.duration
    })

    val emb =
      if (dir.startsWith("skew:")) {
        val spec = dir.split(":")
        val nv = spec(1).toLong
        val blobPct = if (spec.length > 2) spec(2).toInt else 10
        val dims = sequence(lit(0), lit(63))
        // GenData's deterministic uniform component — the one shared
        // definition, so the soak vectors can't drift from the
        // generator's distribution
        def comp(src: Column, j: Column, seed: Int): Column =
          GenData.uniformComp(src, j, seed)
        spark.range(nv).select(
          col("id").as("vec_id"),
          transform(dims, j =>
            when(col("id") % 100 < blobPct,
              comp(lit(-1L), j, 41) + comp(col("id"), j, 42) / 25.0)
            .otherwise(comp(col("id"), j, 43))
            .cast("float")).as("embedding"))
      } else spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))

    def run(t: Double, bound: Long, sigBits: Int = 0): Unit = {
      if (bound > 0)
        spark.conf.set(SimilarityBandedJoinExec.MaxBucketPairsConf,
          bound.toString)
      else
        spark.conf.unset(SimilarityBandedJoinExec.MaxBucketPairsConf)
      if (sigBits > 0)
        spark.conf.set(
          graft.plans.SimilarityJoinStrategy.SignatureBitsConf,
          sigBits.toString)
      else
        spark.conf.unset(
          graft.plans.SimilarityJoinStrategy.SignatureBitsConf)
      // bump runStartMs BEFORE resetting the max: a new run's tasks
      // cannot finish before the run starts, so this order is
      // race-free — reset-then-bump left a window where a straggler
      // TaskEnd from the PREVIOUS run passed the stale finishTime
      // guard and seeded the new run's max
      runStartMs = System.currentTimeMillis()
      maxTaskMs = 0L
      val t0 = System.nanoTime()
      val df = Similarity.cosineJoin(a, b, "va", "vb", t,
        SimJoinRegime.Banded)
      // execute the df's OWN plan instance (a .count() would build a
      // fresh aggregate plan with a fresh exec whose metrics we then
      // could not read)
      df.queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // the listener bus is async and a fixed sleep is racy — after a
      // multi-minute run the hottest task's end event (the one number
      // this tool exists to pin) can land late. Poll until the max is
      // stable for a full second, capped at 10 s.
      var last = maxTaskMs
      var stable = 0
      var polls = 0
      while (stable < 5 && polls < 50) {
        Thread.sleep(200)
        polls += 1
        if (maxTaskMs == last) stable += 1
        else { stable = 0; last = maxTaskMs }
      }
      val exec = df.queryExecution.executedPlan.collect {
        case e: SimilarityBandedJoinExec => e
      }.head
      println(f"""{"tool":"bandsoak","n":$n,"threshold":$t,"bands":${exec.bands},"bandBits":${exec.bandBits},"sigBits":$sigBits,"splitBound":$bound,"pairs":${exec.metrics("numOutputRows").value},"candPairs":${exec.metrics("candPairs").value},"bucketCells":${exec.metrics("numBuckets").value},"splitBuckets":${exec.metrics("splitBuckets").value},"maxCellPairs":${exec.maxCellPairs},"maxTaskSecs":${maxTaskMs / 1000.0},"secs":$secs%.1f}""")
    }

    thresholds.foreach(t => run(t, 0L))
    if (splitBound > 0) thresholds.foreach(t => run(t, splitBound))
    for (bits <- sigBitsList; t <- thresholds) {
      run(t, 0L, bits)
      // the composition row: wider buckets remove candidates, the
      // grid split bounds whatever single cell the data still packs
      // (a dense cluster lands in ONE bucket per band at ANY width)
      if (splitBound > 0) run(t, splitBound, bits)
    }
    spark.stop()
  }
}
