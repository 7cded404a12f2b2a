package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.plans.{SimilarityJoinPlan, SimJoinRegime}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (SURVEY §7.4 extension surface).
  *
  * Layout: embeddings are `array<float>`; all math is done after an
  * explicit cast to `array<double>` so the dot-product is IEEE-double
  * sequential fold — bit-reproducible across engines (oracle parity)
  * and across partitionings (zip_with + aggregate evaluate per-row,
  * no cross-row float reordering).
  *
  * Scale shape:
  *  - bruteForceTopK: queries × corpus. The query side is broadcast
  *    (small by construction); the corpus streams — no shuffle of the
  *    100 TB side, and the per-query top-k is a windowed rank that
  *    shuffles only (corpus_rows × queries) scored pairs. For large
  *    query sets switch to ivfTopK.
  *  - ivfTopK: coarse-quantizer bucketing (IVF): assign every corpus
  *    vector to its nearest of `nlist` centroid buckets, probe only
  *    the query's nearest `nprobe` buckets — turns the scan into a
  *    bucket-pruned join keyed by centroid id.
  */
object Similarity {

  /** Cosine similarity — native codegen'd expression
    * ([[graft.expressions.CosineSim]]): the sequential-fold dot product
    * over the product of the two sequential-fold L2 norms, in one
    * compiled pass (the earlier higher-order-function form re-walked
    * both arrays per element and dominated q54's pair-scoring cost). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineSim(a, b)

  /** Norm-cached cosine: `dot(a,b)/(na*nb)` where `na`/`nb` are the
    * vectors' PRECOMPUTED `l2_norm` columns. Bit-identical to
    * [[cosine]] (the kernel's accumulators fold in the same index
    * order and the final tree `dot/(sqrt·sqrt)` is unchanged), but
    * the wide stages that score each vector MANY times — the n×k
    * assignment pass, every within-bucket pair join — walk one
    * accumulator per pair instead of three. The norm costs one extra
    * 8-byte column through the join, paid once per ROW, not per
    * pair. */
  private[operators] def cosineNC(a: Column, na: Column,
      b: Column, nb: Column): Column =
    graft.expressions.VectorExpressions.dotProd(a, b) / (na * nb)

  private[operators] def withL2(df: DataFrame, vecCol: String,
      out: String): DataFrame =
    df.withColumn(out,
      graft.expressions.VectorExpressions.l2Norm(col(vecCol)))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (id, vec array<float|double>). Self-matches
    * (same id) are excluded. Similarity is rounded to 4 dp BEFORE
    * ranking so ranks are stable across engines; ties break by id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val q = withL2(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qv")), "qv", "qn")
    val c = withL2(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cv")), "cv", "cnn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineNC(col("qv"), col("qn"), col("cv"), col("cnn")), 4)
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors when the QUERY side is itself
    * data-sized (a holdout split, a full-corpus diagnostic) — the
    * regime where [[bruteForceTopK]]'s broadcast of the query side
    * stops being "small by construction". Same O(|Q|·|C|) scored
    * pairs (exactness is the point of the baseline), but decomposed
    * as a GRID equi-join instead of a broadcast nest loop: queries
    * hash into `qBlocks` row-blocks and replicate across `cBlocks`;
    * corpus hashes into `cBlocks` and replicates across `qBlocks`;
    * joining on the (block, block) cell key meets every pair exactly
    * once. The join is a shuffled hash join on the cell key — no
    * broadcast, per-task memory bounded by |Q|/qBlocks — and both
    * replication factors are knobs, so shuffle volume vs parallelism
    * tunes to the cluster. The 0 (default) block counts DERIVE from
    * the session: qBlocks = cBlocks = ⌈√(4·shuffle-partitions)⌉, so
    * the grid always offers ~4 cells per task slot and the cell count
    * SCALES with the cluster instead of capping parallelism at a
    * constant (a fixed 8×8 is 64 cells forever — at corpus scale
    * that is ~|Q|·|C|/64 sequential dots per task, the same
    * bounded-parallelism class the banded join's split exists for);
    * replication grows only as √partitions. Block counts do not
    * affect OUTPUT (every pair meets exactly once under any grid),
    * so scoring, rounding, and ranking stay bit-identical to
    * [[bruteForceTopK]]. */
  def gridTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qBlocks: Int = 0, cBlocks: Int = 0): DataFrame = {
    val auto = math.max(2, math.ceil(math.sqrt(4.0 *
      queries.sparkSession.sessionState.conf.numShufflePartitions)).toInt)
    val qb = if (qBlocks > 0) qBlocks else auto
    val cb = if (cBlocks > 0) cBlocks else auto
    val cells = (0 until cb).map(lit(_))
    val qcells = (0 until qb).map(lit(_))
    val q = withL2(queries.select(col("id").as("query_id"),
        col("vec").cast("array<double>").as("qv")), "qv", "qn")
      .withColumn("__qb", pmod(hash(col("query_id")), lit(qb)))
      .withColumn("__cb", explode(array(cells: _*)))
    val c = withL2(corpus.select(col("id").as("neighbor_id"),
        col("vec").cast("array<double>").as("cv")), "cv", "cnn")
      .withColumn("__cb", pmod(hash(col("neighbor_id")), lit(cb)))
      .withColumn("__qb", explode(array(qcells: _*)))
    val scored = c.join(q, Seq("__qb", "__cb"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineNC(col("qv"), col("qn"), col("cv"), col("cnn")), 4)
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic Lloyd's k-means for IVF centroids: init = the k
    * lowest-id vectors, fixed iteration count, mean in double with a
    * deterministic id tie-break on assignment. Each iteration is one
    * broadcast-join + groupBy — at 100 TB you fit on a sample and only
    * the final assignment pass touches the full corpus. Returns
    * (id, vec array<double>) centroids. */
  def fitCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = withL2(
      corpus.select(col("id"), col("vec").cast("array<double>").as("v")),
      "v", "vn")
    var cents = v.orderBy(col("id")).limit(k)
      .select(col("id").as("cent_id"), col("v").as("cent_v"))
    for (_ <- 1 to iters) {
      val w = Window.partitionBy(col("id"))
        .orderBy(col("cscore").desc, col("cent_id"))
      val cn = withL2(cents, "cent_v", "cn")
      val assigned = v.join(broadcast(cn))
        .select(col("id"), col("v"), col("cent_id"),
          round(cosineNC(col("v"), col("vn"), col("cent_v"), col("cn")), 6)
            .as("cscore"))
        .withColumn("crank", row_number().over(w))
        .where(col("crank") === 1)
      // mean per cluster: explode positions, average, regroup. The sum
      // runs in fixed-point (1e-6 quanta) longs: integer addition is
      // order-independent, so the mean is bit-identical under any
      // partitioning at CONSTANT row width — a collect_list mean would
      // accumulate every member value in one row and OOM at real
      // cluster sizes. (The later per-cluster collect_list is bounded
      // by the vector dimensionality, not cluster size.)
      cents = assigned
        .select(col("cent_id"), posexplode(col("v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(round(col("col") * 1e6).cast("long")).cast("double")
          / 1e6 / count(lit(1))).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cent_id"),
          transform(col("pm"), x => x.getField("m")).as("cent_v"))
    }
    cents
  }

  /** Nearest-`keep` centroid buckets per vector: broadcast the (small)
    * centroid set, score, keep the top `keep` with a deterministic
    * centroid-id tie-break. `side` is (id, vec); output is
    * (idName, v array<double>, cent_id) — one row per probe. */
  def nearestCentroids(side: DataFrame, centroids: DataFrame,
      idName: String, keep: Int): DataFrame = {
    val cents = withL2(centroids.select(col("id").as("cent_id"),
      col("vec").cast("array<double>").as("cent_v")), "cent_v", "cn")
    val v = withL2(side.select(col("id").as(idName),
      col("vec").cast("array<double>").as("v")), "v", "vn")
    val w = Window.partitionBy(col(idName))
      .orderBy(col("cscore").desc, col("cent_id"))
    v.join(broadcast(cents))
      .select(col(idName), col("v"), col("cent_id"),
        round(cosineNC(col("v"), col("vn"), col("cent_v"), col("cn")), 6)
          .as("cscore"))
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= keep)
      .drop("cscore", "crank")
  }

  /** IVF-style bucketed ANN: corpus vectors are assigned to their
    * nearest centroid (by dot product, deterministic tie-break on
    * centroid id); each query probes its `nprobe` nearest centroid
    * buckets and ranks only those vectors. Centroids are provided
    * (id, vec) — at scale they come from a sampled k-means fit. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val assigned = withL2(nearestCentroids(corpus, centroids, "neighbor_id", 1)
      .withColumnRenamed("v", "cv"), "cv", "cnn")
    val probed = withL2(nearestCentroids(queries, centroids, "query_id", nprobe)
      .withColumnRenamed("v", "qv"), "qv", "qn")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probed.join(assigned, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineNC(col("qv"), col("qn"), col("cv"), col("cnn")), 4)
          .as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Cosine-threshold join as a whole-operator Catalyst extension
    * (SURVEY §7.3 option c, the round-3 roadmap's "injected
    * SparkStrategy for similarity range joins"): emits every (l, r)
    * pair with `cosine(leftVecCol, rightVecCol) >= threshold`. The
    * planner — not this method — picks the physical shape
    * ([[graft.plans.SimilarityJoinStrategy]]):
    *
    *  - `Exact`: norm-cached broadcast gate (build side = smaller by
    *    statistics). Exact result; the regime the SQL rewrite uses.
    *  - `Banded`: banded random-hyperplane LSH bucket join — the
    *    large-large 100 TB shape; deterministic recall < 1 (pairs
    *    must collide in ≥ 1 signature band; collision probability
    *    rises with similarity). Band geometry defaults to AUTO
    *    (`bands = bandBits = 0`): the strategy derives the widest
    *    bands meeting [[graft.plans.BandGeometry.DefaultTargetRecall]]
    *    at the threshold from the S-curve; pass explicit values only
    *    to pin a specific replayable geometry (q131's oracle).
    *  - `Auto` (default): statistics decide, like BroadcastHashJoin
    *    vs SortMergeJoin — broadcast when a side fits
    *    autoBroadcastJoinThreshold, banded otherwise. Auto callers
    *    accept the documented banded recall in the large-large case
    *    (MLlib approxSimilarityJoin's contract).
    *
    * Column names must be disjoint across the two sides (rename
    * before joining — a self-join passes the same table through
    * `toDF` twice). Vector columns are cast to array<double>.
    */
  def cosineJoin(left: DataFrame, right: DataFrame,
      leftVecCol: String, rightVecCol: String, threshold: Double,
      regime: SimJoinRegime = SimJoinRegime.Auto,
      bands: Int = 0, bandBits: Int = 0): DataFrame = {
    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty,
      s"cosineJoin sides must have disjoint column names; shared: $overlap")
    val spark = left.sparkSession
    graft.GraftExtensions.ensure(spark)
    val l = left.withColumn(leftVecCol, col(leftVecCol).cast("array<double>"))
    // re-alias the right side so a self-join never carries duplicate
    // expression ids into the joined output
    val r0 = right.withColumn(rightVecCol,
      col(rightVecCol).cast("array<double>"))
    val r = r0.select(r0.columns.map(c => col(c).as(c)): _*)
    val lPlan = PlanBridge.analyzed(l)
    val rPlan = PlanBridge.analyzed(r)
    val lv = lPlan.output.find(_.name == leftVecCol).getOrElse(
      sys.error(s"no column $leftVecCol on the left side"))
    val rv = rPlan.output.find(_.name == rightVecCol).getOrElse(
      sys.error(s"no column $rightVecCol on the right side"))
    PlanBridge.ofRows(spark, SimilarityJoinPlan(lPlan, rPlan, lv, rv,
      threshold, regime, bands, bandBits))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    * SemDeDup: data-efficient learning at web-scale through semantic
    * deduplication" — public method): cluster the embedding space with
    * k-means, then compare ONLY within-cluster pairs and drop the
    * member of each semantic-duplicate pair that sits FARTHER from its
    * cluster centroid (the published keep-policy: the more central
    * exemplar is the better representative). Returns one row per
    * dropped document: (cent_id, dropped_id, kept_id, drop_sim) where
    * `kept_id` is the dropped doc's most-central qualifying duplicate.
    *
    * Scale shape: the O(n²) semantic comparison collapses to
    * Σ cluster² — k is chosen so clusters bound the pair fanout (the
    * paper uses k ≈ √n; centroids come from a SAMPLED fit at corpus
    * scale, q63's pattern). The join is keyed on cent_id (one shuffle
    * of constant-width rows), the keep-policy is a per-pair local
    * decision (no iterative connected components), and the final
    * survivor pick is a per-dropped-id window — never a global
    * structure. Determinism: centroid sim rounds to 6 dp and pair sim
    * to 4 dp BEFORE any comparison, ties break on id, so the drop set
    * is engine-portable (oracle-checked as q137). */
  /** Nearest-centroid assignment carrying the centroid similarity:
    * (id, v, vn, cent_id, cscore 6-dp) — the shared first stage of the
    * SemDeDup family ([[semanticDedupDrops]], [[semanticDedupIncrement]],
    * [[semanticPairs]]). `vn` is the vector's precomputed l2 norm,
    * carried so every downstream PAIR stage scores with the
    * norm-cached one-accumulator kernel. */
  def semanticAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = withL2(centroids.select(col("id").as("cent_id"),
      col("vec").cast("array<double>").as("cent_v")), "cent_v", "cn")
    val v = withL2(
      corpus.select(col("id"), col("vec").cast("array<double>").as("v")),
      "v", "vn")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cscore").desc, col("cent_id"))
    v.join(broadcast(cents))
      .select(col("id"), col("v"), col("vn"), col("cent_id"),
        round(cosineNC(col("v"), col("vn"), col("cent_v"), col("cn")), 6)
          .as("cscore"))
      .withColumn("crank", row_number().over(w))
      .where(col("crank") === 1)
      .drop("crank")
  }

  def semanticDedupDrops(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = Caches.persistTracked(semanticAssign(corpus, centroids))
    val a = assigned.select(col("cent_id"), col("id").as("id_a"),
      col("v").as("va"), col("vn").as("na"), col("cscore").as("ca"))
    val b = assigned.select(col("cent_id"), col("id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"), col("cscore").as("cb"))
    // oriented dropped→kept: id_b survives iff it is strictly more
    // central (cscore; id tie-break), so each qualifying pair yields
    // exactly one candidate-drop row
    val pairs = a.join(b, Seq("cent_id"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("sim",
        round(cosineNC(col("va"), col("na"), col("vb"), col("nb")), 4))
      .where(col("sim") >= threshold)
      .where(col("cb") > col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
    val wk = Window.partitionBy(col("id_a"))
      .orderBy(col("cb").desc, col("id_b"))
    pairs
      .withColumn("krank", row_number().over(wk))
      .where(col("krank") === 1)
      .select(col("cent_id"), col("id_a").as("dropped_id"),
        col("id_b").as("kept_id"), col("sim").as("drop_sim"))
  }

  /** Multi-probe SemDeDup — the boundary-recall variant of
    * [[semanticDedupDrops]]: candidate pairs come from a MULTI-probe
    * assignment ([[cosineNearDupPairs]] with `nprobe` buckets per
    * vector), so two near-duplicates split across a Voronoi boundary
    * still meet in a shared secondary bucket — the recall SemDeDup's
    * single-cluster scoping structurally loses (measured at gen10:
    * BASELINE.md round-6, drops fall 10% as k rises). Cost is ~nprobe×
    * candidates, never ×n. The keep-policy is unchanged (the member
    * closer to its PRIMARY centroid survives; id tie-break), so this
    * strictly widens the drop set. */
  def semanticDedupDropsMulti(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, nprobe: Int): DataFrame = {
    val asg = Caches.persistTracked(
      semanticAssign(corpus, centroids).select(col("id"), col("cscore")))
    val pairs = cosineNearDupPairs(corpus, centroids, threshold, nprobe)
    val cand = pairs
      .select(col("id_a").as("dropped_id"), col("id_b").as("kept_id"),
        col("sim"))
      .unionByName(pairs.select(col("id_b").as("dropped_id"),
        col("id_a").as("kept_id"), col("sim")))
      .join(asg.select(col("id").as("dropped_id"), col("cscore").as("ca")),
        Seq("dropped_id"))
      .join(asg.select(col("id").as("kept_id"), col("cscore").as("cb")),
        Seq("kept_id"))
      .where(col("cb") > col("ca") ||
        (col("cb") === col("ca") && col("kept_id") < col("dropped_id")))
    val wk = Window.partitionBy(col("dropped_id"))
      .orderBy(col("cb").desc, col("kept_id"))
    cand
      .withColumn("krank", row_number().over(wk))
      .where(col("krank") === 1)
      .select(col("dropped_id"), col("kept_id"), col("sim").as("drop_sim"))
  }

  /** Incremental SemDeDup — the ingest-time regime (the q116/q133
    * maintenance contract applied to semantic dedup): only the
    * INCOMING slice is assigned and compared, against the EXISTING
    * corpus members of its cluster, under the FIXED centroids the
    * store was built with (re-fitting would reshuffle every stored
    * assignment). An incoming doc drops when any existing member
    * clears the threshold; the keep-old policy reports the best
    * existing match (sim desc, id tie-break). Fanout is
    * |incoming| × cluster-size — never existing × existing. */
  def semanticDedupIncrement(existing: DataFrame, incoming: DataFrame,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val e = semanticAssign(existing, centroids)
      .select(col("cent_id"), col("id").as("matched_id"),
        col("v").as("ve"), col("vn").as("ne"))
    val i = semanticAssign(incoming, centroids)
      .select(col("cent_id"), col("id").as("incoming_id"),
        col("v").as("vi"), col("vn").as("ni"))
    val w = Window.partitionBy(col("incoming_id"))
      .orderBy(col("match_sim").desc, col("matched_id"))
    i.join(e, Seq("cent_id"))
      .withColumn("match_sim",
        round(cosineNC(col("vi"), col("ni"), col("ve"), col("ne")), 4))
      .where(col("match_sim") >= threshold)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("cent_id"), col("incoming_id"), col("matched_id"),
        col("match_sim"))
  }

  /** All within-cluster pairs at or above `threshold` (id_a < id_b,
    * 4-dp sim) with both members' centroid similarities — the
    * materialization a threshold SWEEP reads (q145): mined once at
    * the lowest threshold of interest, swept in pair space. */
  def semanticPairs(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = Caches.persistTracked(semanticAssign(corpus, centroids))
    val a = assigned.select(col("cent_id"), col("id").as("id_a"),
      col("v").as("va"), col("vn").as("na"))
    val b = assigned.select(col("cent_id"), col("id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"))
    a.join(b, Seq("cent_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(cosineNC(col("va"), col("na"), col("vb"), col("nb")), 4))
      .where(col("sim") >= threshold)
      .select(col("cent_id"), col("id_a"), col("id_b"), col("sim"))
  }

  /** Symmetric int8 quantization of the `v` column (q97's scheme):
    * per-vector scale = max|v_i|, q_i = clamp(round(v_i·127/scale),
    * ±127), carried as longs for exact integer dot products. Adds
    * `qv` (array<long>) and `qn` (Σq_i², long) columns. */
  private def withQuantized(df: DataFrame): DataFrame =
    df
      .withColumn("q_scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv",
        when(col("q_scale") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"), x =>
            least(greatest(round(x * 127 / col("q_scale")), lit(-127.0)),
              lit(127.0)).cast("long"))))
      .withColumn("qn",
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .drop("q_scale")

  /** IVF probe over int8-quantized vectors with a full-precision
    * rerank — the memory-bound ANN layout: the index stores 4×-smaller
    * quantized vectors, the probe scores candidates with an exact
    * INTEGER dot product (long arithmetic — order-independent, no
    * float summation anywhere in the wide phase), and only the top
    * `rerankN` survivors per query fetch their float vectors BY ID for
    * the exact cosine rerank. Output per query: top-`k` neighbors with
    * the exact `sim` and the quantized gate score `sim_q` that
    * admitted them. Both scores round to 4 dp pre-rank with id
    * tie-breaks, so ranks are engine-portable. */
  def quantizedIvfTopK(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int, rerankN: Int): DataFrame = {
    val assigned = withQuantized(
      nearestCentroids(corpus, centroids, "neighbor_id", 1))
      .select(col("neighbor_id"), col("cent_id"),
        col("qv").as("cqv"), col("qn").as("cqn"))
    val probed = withQuantized(
      nearestCentroids(queries, centroids, "query_id", nprobe))
      .select(col("query_id"), col("cent_id"),
        col("qv").as("qqv"), col("qn").as("qqn"))
    // wide phase: integer dot product over the probed buckets only
    val qdot = aggregate(
      zip_with(col("qqv"), col("cqv"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_q").desc, col("neighbor_id"))
    val candidates = probed.join(assigned, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qqn") === 0 || col("cqn") === 0, lit(0.0))
          .otherwise(round(
            qdot / sqrt(col("qqn").cast("double") * col("cqn")), 4))
          .as("sim_q"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("qrank", row_number().over(wq))
      .where(col("qrank") <= rerankN)
      .drop("qrank")
    // narrow phase: fetch float vectors by id, exact cosine, final rank
    val qv = withL2(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("fqv")), "fqv", "fqn")
    val cv = withL2(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("fcv")), "fcv", "fcn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim_q"),
        round(cosineNC(col("fqv"), col("fqn"), col("fcv"), col("fcn")), 4)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine similar-pair mining, IVF-bucketed: every vector
    * is assigned to its `nprobe` nearest centroid buckets and ONLY
    * same-bucket pairs are scored — a bucketed self-join keyed by
    * cent_id, never the O(n²) cross product. Multi-probe raises recall
    * at Voronoi boundaries for ~nprobe× candidates (not ×n). Vectors
    * ride the bucket join (constant row width — they must be present
    * where scoring happens); the pair dedup shuffles only
    * (id_a, id_b, sim) after the threshold cut. Similarity is rounded
    * to 4 dp BEFORE thresholding for cross-engine stability. */
  def cosineNearDupPairs(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, nprobe: Int = 2): DataFrame = {
    val assigned = Caches.persistTracked(withL2(
      nearestCentroids(corpus, centroids, "id", nprobe), "v", "vn"))
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("vn").as("na"), col("cent_id"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("vn").as("nb"), col("cent_id"))
    a.join(b, Seq("cent_id"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineNC(col("va"), col("na"), col("vb"), col("nb")), 4)
          .as("sim"))
      .where(col("sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }
}
