package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY §7.4). All shapes are shuffle-minimal and key-partitioned:
  *
  *  - exact:     one hash-groupBy on a 128-bit fingerprint — a single
  *               shuffle keyed by the fingerprint; at 100 TB the key is
  *               near-unique so AQE balances partitions naturally.
  *  - jaccard:   shingle-inverted-index self-join (explode → join on
  *               shingle → pair-count). Never materializes the O(n²)
  *               cross product — only docs sharing ≥1 shingle meet.
  *  - minhashLsh: banded MinHash — candidate pairs only when a band
  *               collides; verification re-computes exact Jaccard on
  *               the (tiny) candidate set. This is the 100 TB path: cost
  *               is O(n·bands), not O(pairs), and only slim
  *               (id, band, bucket) rows ride the candidate shuffle.
  *
  * Hashes are engine-portable (md5-hex, lexicographic min) so results
  * are reproducible bit-for-bit in any SQL engine — which is also what
  * the DuckDB oracle checks.
  *
  * Every document operator reads the `documents` shape: `doc_id`
  * (long) and `text`.
  *
  * Internal persists are tracked in [[Caches]]; run-many-queries
  * drivers call `Caches.releaseAll()` between queries.
  */
object Dedup {

  /** Exact dedup over `text`: one row per distinct fingerprint,
    * keeping the smallest id (deterministic survivor). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the ingest-time regime of [[exact]]
    * (completing the maintenance matrix: q116 jaccard, q133 delta-cap,
    * q144 semantic, and now the exact modality): merge an incoming
    * batch into a STORED fingerprint table without re-reading the
    * corpus. The stored table is corpus-sized at 100 TB, so the batch
    * is pre-screened by a bloom sketch of the stored fingerprints —
    * rows the sketch rejects CANNOT be in the store (no false
    * negatives) and skip the join entirely; only the bloom-hit slice
    * (true dups + the sketch's small false-positive rate) resolves
    * against the stored table. False positives die in that exact
    * join, so the result is exactly `exact(corpus ∪ batch)` — q146's
    * oracle-checked contract. Returns the updated (fp, keep_id,
    * n_copies) table. */
  def incrementalExact(stored: DataFrame, incoming: DataFrame)
      : DataFrame = {
    // bloom sizing: the stored-fingerprint count the sketch is built for
    val expectedStored = 100000L
    val inc = Caches.persistTracked(
      incoming
        .select(col("doc_id").as("inc_id"), fingerprint(col("text")).as("fp"))
        .withColumn("maybe_stored",
          Bloom.mightContain(Bloom.bloomOf(stored, "fp", expectedStored),
            col("fp"))))
    // batch-internal grouping first: several copies of the same new
    // doc may arrive in one batch
    val incGroups = inc
      .groupBy(col("fp"))
      .agg(min(col("inc_id")).as("inc_min_id"),
        count(lit(1)).as("inc_n"),
        max(col("maybe_stored")).as("maybe_stored"))
    // only bloom hits touch the stored table; the exact join clears
    // false positives
    val resolved = incGroups.where(col("maybe_stored"))
      .join(stored.select(col("fp"), col("keep_id"), col("n_copies")),
        Seq("fp"), "left")
    val mergedHits = resolved.where(col("keep_id").isNotNull)
      .select(col("fp"),
        least(col("keep_id"), col("inc_min_id")).as("keep_id"),
        (col("n_copies") + col("inc_n")).as("n_copies"))
    val newFromFp = resolved.where(col("keep_id").isNull)
      .select(col("fp"), col("inc_min_id").as("keep_id"),
        col("inc_n").as("n_copies"))
    val newFresh = incGroups.where(!col("maybe_stored"))
      .select(col("fp"), col("inc_min_id").as("keep_id"),
        col("inc_n").as("n_copies"))
    val untouched = stored.join(incGroups.select(col("fp")),
      Seq("fp"), "left_anti")
    untouched
      .unionByName(mergedHits)
      .unionByName(newFromFp)
      .unionByName(newFresh)
  }

  /** Distinct word-n-gram shingle set per doc, with per-doc set size.
    *
    * Uses the native [[graft.expressions.WordShingles]] expression
    * (single-pass JVM) instead of the interpreted HOF chain, and is
    * persisted before the size filter: every downstream self-join
    * duplicates this subtree, and without materialization Catalyst
    * inlines and re-evaluates it per consumer. At 100 TB this is the
    * posting-list materialization any inverted-index build does before
    * joining.
    */
  def shingleSets(docs: DataFrame, n: Int, spread: Boolean = true)
      : DataFrame =
    Caches.persistTracked(
      // Spread.forFanout: a small corpus scans as ONE task (single
      // parquet file), serializing the whole shingling pass — spread
      // it across the pool before the fanout; no-op at scan sizes
      // that already fill the cluster (guide §2.5). `spread = false`
      // opts out for LOOP consumers (greedy coverage, delta-cap
      // maintenance) where a wide cached posting multiplies per-round
      // stage fanout and measured slower than the narrow shape.
      (if (spread) Spread.forFanout(docs, col("doc_id")) else docs)
        .select(col("doc_id"),
          graft.expressions.TextExpressions.wordShingles(col("text"), n)
            .as("sh")))
      .withColumn("n_sh", size(col("sh")))
      .where(col("n_sh") > 0)

  /** Candidate-pair exact Jaccard via a shingle inverted index.
    * Emits pairs (a < b) with jaccard >= threshold.
    *
    * Scale note: the join key is the shingle; a hot shingle appearing in
    * f docs yields f² pair rows. Production guard: drop shingles with
    * document frequency above `maxDf` (stop-shingles), the standard
    * inverted-index trick — keeps the join output near-linear.
    */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxDf: Long = 1000L): DataFrame =
    candidatePairCounts(docs, n, maxDf)
      .withColumn("jaccard",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))

  /** EXACT all-pairs Jaccard ≥ t via PREFIX FILTERING (the
    * Bayardo/Chaudhuri all-pairs similarity join; public algorithm,
    * WWW'07/ICDE'06 family) — the lossless alternative to
    * [[jaccardPairs]]' df-capped index: instead of dropping hot
    * shingles (which silently loses pairs once the cap engages — the
    * recall cliff BASELINE.md measures on the tight vocabulary), each
    * doc indexes only the PREFIX of its shingles under a global
    * rarest-first order (df ASC, key ASC), of length
    * |d| − ⌈t·|d|⌉ + 1. Guarantee: the globally-smallest common
    * shingle of any pair with jaccard ≥ t lies in BOTH prefixes —
    * if it were outside A's prefix the whole intersection would fit
    * in A's suffix of size ⌈t·|A|⌉−1 < t·|A| ≤ |A∩B|, a
    * contradiction — so the prefix self-join has NO false negatives
    * and candidates are verified with an exact per-pair set
    * intersection.
    *
    * Scale shape: the index shuffle carries only the rarest
    * ≈(1−t) fraction of each doc's tokens, and the fanout of a
    * token is its df *among prefixes*, which on realistic Zipf
    * vocabularies is the df tail (hot tokens sort last and rarely
    * make a prefix). On the adversarial tight vocabulary prefixes
    * stay frequent and cost approaches the uncapped join — exactness
    * has a price there, measured in BASELINE.md; the capped miner
    * and LSH remain the approximate scale paths. Verification joins
    * are candidate-pair-keyed with per-pair array intersection (no
    * posting re-fanout). `ceil(t·|d|)` is computed in exact integer
    * basis points, so prefix lengths are engine-portable.
    *
    * Emits (id_a, id_b, shared, jaccard) with jaccard ≥
    * thresholdBp/10⁴, a < b. */
  def prefixFilterPairs(docs: DataFrame, thresholdBp: Int): DataFrame = {
    val n = 3
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"thresholdBp must be in (0,10000], got $thresholdBp")
    import org.apache.spark.sql.expressions.Window
    val sets = shingleSets(docs, n)
    val posting = sets
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"),
        xxhash64(col("shingle")).as("sh_key"))
    val dfc = posting.groupBy(col("sh_key"))
      .agg(count(lit(1)).as("df"))
    val prefix = Caches.persistTracked(posting
      .join(dfc, Seq("sh_key"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("sh_key"))))
      .where(col("rn") <=
        col("n_sh") - expr(s"(n_sh * $thresholdBp + 9999) div 10000")
          + lit(1))
      .select(col("doc_id"), col("n_sh"), col("sh_key"), col("rn")))
    // two lossless candidate filters inside the join, before the
    // distinct, both in exact integer arithmetic (PPJoin's pruning
    // pair — Xiao et al., public algorithm):
    //  - length: jaccard ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|);
    //  - positional: a collision at global-order ranks (i, j) bounds
    //    the overlap by 1 + min(na−i, nb−j), which must reach
    //    α = ⌈t·(na+nb)/(1+t)⌉; the pair's minimal common token has
    //    minimal ranks, so per-row filtering keeps every true pair.
    // Measured on the tight-vocabulary gen10 corpus: 37.6M → 10.1M
    // candidates (the realistic Zipf corpus barely notices — its
    // candidates are already collapsed by rare prefixes).
    val alphaDen = 10000 + thresholdBp
    val cand = prefix
      .join(prefix.select(col("doc_id").as("id_b"),
        col("n_sh").as("nb"), col("sh_key"), col("rn").as("rnb")),
        Seq("sh_key"))
      .where(col("doc_id") < col("id_b")
        && least(col("n_sh"), col("nb")) * 10000
          >= greatest(col("n_sh"), col("nb")) * thresholdBp
        && lit(1) + least(col("n_sh") - col("rn"), col("nb") - col("rnb"))
          >= expr(s"($thresholdBp * (n_sh + nb) + $alphaDen - 1)" +
            s" div $alphaDen"))
      .select(col("doc_id").as("id_a"), col("id_b"))
      .distinct()
    // verification carries SORTED HASH signatures, not shingle
    // strings: a fixed 8-byte element keeps the two pair-keyed
    // shuffles narrow and the per-pair intersection cheap (same
    // 2^-64 collision argument as the posting-key hashing above —
    // a collision would need two distinct shingles of one pair's
    // union to collide)
    val sigs = Caches.persistTracked(sets.select(col("doc_id"),
      col("n_sh"),
      sort_array(expr("transform(sh, x -> xxhash64(x))")).as("sig")))
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("n_sh").as("na")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("n_sh").as("nb")), Seq("id_b"))
      // merge-count on the sorted sigs (round-11): same count as
      // size(array_intersect(...)) on sorted distinct arrays, without
      // the per-pair hash-set build — the verification stage's CPU was
      // ~1 s/task at sf0.1 (q192)
      .withColumn("shared",
        graft.expressions.VectorExpressions.sortedIntersectCount(
          col("sig_a"), col("sig_b")))
      // emit on the UNROUNDED jaccard in exact integers: the prune
      // filters above assume true jaccard >= t, so emitting on
      // round(j,4) >= t would keep pairs in [t-5e-5, t) that the
      // filters were allowed to drop — a filter-side/emit-side
      // threshold mismatch (rounded j stays as a display column)
      .where(col("shared") * 10000
        >= lit(thresholdBp.toLong) * (col("na") + col("nb") - col("shared")))
      .withColumn("jaccard",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
  }

  /** Candidate pairs scored by the overlap coefficient
    * |A∩B| / min(|A|,|B|) — the containment metric that catches a short
    * document embedded inside a longer one, which Jaccard dilutes
    * (a 10-shingle doc fully contained in a 200-shingle doc has
    * jaccard 0.05 but overlap 1.0). Same inverted-index candidate
    * machinery, scale shape and stop-shingle cap as [[jaccardPairs]]. */
  def overlapPairs(docs: DataFrame): DataFrame = {
    val (n, threshold) = (3, 0.5)
    candidatePairCounts(docs, n, maxDf = 1000L)
      .withColumn("overlap",
        round(col("shared").cast("double")
          / least(col("na"), col("nb")), 4))
      .where(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        col("shared"), col("overlap"))
  }

  /** Shared inverted-index candidate stage: pairs (a < b) meeting on at
    * least one shingle, with both set sizes and the exact intersection
    * count. Never materializes the O(n²) cross product; `maxDf` drops
    * stop-shingles so a hot shingle in f docs can't emit f² rows. */
  private def candidatePairCounts(docs: DataFrame, n: Int, maxDf: Long)
      : DataFrame = {
    val sets = shingleSets(docs, n)
    // the shingle STRING never leaves the posting build: all joins and
    // df-counts key on its xxhash64 — a 16-byte fixed-width shuffle row
    // instead of a ~40-byte string row, which matters because this join
    // is the engine's one superlinear-fanout shape (BASELINE.md sf1
    // soak). Collisions (2^-64 per shingle pair) would merge two
    // shingles' postings; at any realistic shingle cardinality this is
    // vanishingly improbable and the oracle hash-compare would catch it.
    val posting = sets
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"),
        xxhash64(col("shingle")).as("sh_key"))
    val df = posting.groupBy(col("sh_key"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(col("sh_key"))
    // both sides of the self-join consume the filtered posting list;
    // materialize it once (inverted-index build step)
    val filtered = Caches.persistTracked(posting.join(df, Seq("sh_key")))
    val a = filtered.select(col("doc_id").as("id_a"), col("n_sh").as("na"),
      col("sh_key"))
    val b = filtered.select(col("doc_id").as("id_b"), col("n_sh").as("nb"),
      col("sh_key"))
    a.join(b, Seq("sh_key"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
  }

  /** Incremental pair-table maintenance: given the already-indexed
    * `corpus` and an `incoming` batch, produce the UPDATED full pair
    * set as (existing corpus×corpus pairs) ∪ (delta pairs touching at
    * least one incoming doc) — without ever joining corpus postings
    * against themselves per batch at 100 TB... which is the point: the
    * corpus×corpus side is the persistent pair table (here recomputed
    * for the self-contained catalog query; in production it is READ),
    * and only the incoming slice fans out through the posting index.
    *
    * Correctness subtlety the oracle enforces: the stop-shingle df cap
    * must be computed over the UPDATED index (corpus ∪ incoming), not
    * per side — a shingle pushed over `maxDf` by the incoming batch
    * must drop from the existing side too, or the incremental result
    * diverges from a full re-mine. The output is hash-identical to
    * [[jaccardPairs]] over the union (proven by q116's oracle, which
    * IS the full-re-mine SQL). */
  def incrementalJaccardPairs(corpus: DataFrame, incoming: DataFrame,
      n: Int, threshold: Double, maxDf: Long = 1000L): DataFrame = {
    def post(side: DataFrame, inc: Boolean): DataFrame =
      shingleSets(side, n)
        .select(col("doc_id"), col("n_sh"),
          explode(col("sh")).as("shingle"), lit(inc).as("inc"))
        .select(col("doc_id"), col("n_sh"),
          xxhash64(col("shingle")).as("sh_key"), col("inc"))
    val allPost = post(corpus, inc = false).unionByName(post(incoming,
      inc = true))
    // df over the UPDATED index (hashed keys — see candidatePairCounts)
    val keep = allPost.groupBy(col("sh_key"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(col("sh_key"))
    val filtered = Caches.persistTracked(allPost.join(keep, Seq("sh_key")))
    def scored(cands: DataFrame): DataFrame = cands
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
    // existing-index pairs (corpus×corpus) — the persisted table in
    // production, recomputed here so the query stays self-contained
    val corp = filtered.where(!col("inc"))
    val existing = scored(
      corp.select(col("doc_id").as("id_a"), col("n_sh").as("na"),
          col("sh_key"))
        .join(corp.select(col("doc_id").as("id_b"), col("n_sh").as("nb"),
          col("sh_key")), Seq("sh_key"))
        .where(col("id_a") < col("id_b")))
    // delta: incoming vs the whole updated index. Orientation guard:
    // corpus partners join in both roles via least/greatest below;
    // incoming-incoming pairs are emitted once by the id_a < id_b cut
    val left = filtered.where(col("inc"))
      .select(col("doc_id").as("lid"), col("n_sh").as("ln"),
        col("sh_key"))
    val right = filtered
      .select(col("doc_id").as("rid"), col("n_sh").as("rn"),
        col("sh_key"), col("inc").as("rinc"))
    val delta = scored(
      left.join(right, Seq("sh_key"))
        .where(col("lid") =!= col("rid")
          && (!col("rinc") || col("lid") < col("rid")))
        .select(
          least(col("lid"), col("rid")).as("id_a"),
          greatest(col("lid"), col("rid")).as("id_b"),
          when(col("lid") < col("rid"), col("ln")).otherwise(col("rn"))
            .as("na"),
          when(col("lid") < col("rid"), col("rn")).otherwise(col("ln"))
            .as("nb")))
    existing.unionByName(delta)
  }

  /** True stored-pair incremental maintenance — the delta-of-the-cap
    * variant the round-4 roadmap called for. [[incrementalJaccardPairs]]
    * is already incremental in CANDIDATE work but recomputes the whole
    * existing corpus×corpus pair set under the updated df cap; this
    * operator instead ADJUSTS the stored pair table in place:
    *
    *  1. crossing set X = shingles the incoming batch pushes over
    *     `maxDf` (df_corpus <= maxDf < df_union) — the only shingles
    *     whose exclusion changes any stored pair;
    *  2. per stored pair, `shared` drops by the number of X-shingles
    *     both docs contain (one bounded join: each X-shingle's corpus
    *     posting is <= maxDf docs by definition, so the decrement
    *     fanout is <= |X|·maxDf², independent of corpus size);
    *  3. pairs whose adjusted jaccard falls below `threshold` drop;
    *     nothing is ever ADDED to the corpus×corpus side, because
    *     removing shingles can only shrink `shared` (na/nb are
    *     doc-level shingle-set sizes, cap-independent) — the soundness
    *     argument that makes the adjustment exact, not approximate;
    *  4. delta pairs (incoming × union) mine through the updated-cap
    *     posting index exactly as in [[incrementalJaccardPairs]].
    *
    * `storedPairs` is [[jaccardPairs]]' output over `corpus` at the
    * same shingle size (3), threshold (0.2) and `maxDf` — in
    * production a table READ from storage, never recomputed. The
    * result is hash-identical to a full re-mine of corpus ∪ incoming
    * (q133's oracle IS that re-mine).
    * Ingest cost: |incoming| posting fanout + |X| bounded decrements —
    * the whole 100 TB corpus is touched only through the (tiny) stored
    * pair table and the per-doc shingle-size table. */
  def deltaCapJaccardPairs(storedPairs: DataFrame, corpus: DataFrame,
      incoming: DataFrame, maxDf: Long = 1000L): DataFrame = {
    val (n, threshold) = (3, 0.2)
    // spread = false (round-11): the adjustment's many independent
    // consumer stages fan a wide cached posting into concurrent
    // 32-task stages whose scheduling cost measured above the narrow
    // shape's — the delta side stays narrow by design
    def post(side: DataFrame): DataFrame =
      shingleSets(side, n, spread = false)
        .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
        .select(col("doc_id"), col("n_sh"),
          xxhash64(col("shingle")).as("sh_key"))
    val corpusPost = Caches.persistTracked(post(corpus))
    val incPost = Caches.persistTracked(post(incoming))
    val dfC = corpusPost.groupBy(col("sh_key"))
      .agg(count(lit(1)).as("df_c"))
    val dfI = incPost.groupBy(col("sh_key"))
      .agg(count(lit(1)).as("df_i"))
    val dfU = dfC.join(dfI, Seq("sh_key"), "full_outer")
      .select(col("sh_key"),
        coalesce(col("df_c"), lit(0L)).as("df_c"),
        (coalesce(col("df_c"), lit(0L)) + coalesce(col("df_i"), lit(0L)))
          .as("df_all"))

    // 1-2) decrements from cap-crossing shingles' corpus postings
    val crossing = dfU
      .where(col("df_c") <= maxDf && col("df_all") > maxDf)
      .select(col("sh_key"))
    val xPost = corpusPost.join(crossing, Seq("sh_key"))
    val dec = xPost.select(col("doc_id").as("id_a"), col("sh_key"))
      .join(xPost.select(col("doc_id").as("id_b"), col("sh_key")),
        Seq("sh_key"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("dec"))

    // 3) adjust the stored table; sizes re-join for the jaccard rescale
    val sizes = corpusPost.select(col("doc_id"), col("n_sh")).distinct()
    val adjusted = storedPairs
      .select(col("id_a"), col("id_b"), col("shared"))
      .join(dec, Seq("id_a", "id_b"), "left")
      .withColumn("shared2", col("shared") - coalesce(col("dec"), lit(0L)))
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")),
        Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")),
        Seq("id_b"))
      .withColumn("jaccard",
        round(col("shared2").cast("double")
          / (col("na") + col("nb") - col("shared2")), 4))
      .where(col("shared2") > 0 && col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared2").as("shared"),
        col("jaccard"))

    // 4) delta pairs: incoming × union through the updated-cap index
    val keep = dfU.where(col("df_all") <= maxDf).select(col("sh_key"))
    val filtered = Caches.persistTracked(
      corpusPost.withColumn("inc", lit(false))
        .unionByName(incPost.withColumn("inc", lit(true)))
        .join(keep, Seq("sh_key")))
    val left = filtered.where(col("inc"))
      .select(col("doc_id").as("lid"), col("n_sh").as("ln"), col("sh_key"))
    val right = filtered
      .select(col("doc_id").as("rid"), col("n_sh").as("rn"),
        col("sh_key"), col("inc").as("rinc"))
    val delta = left.join(right, Seq("sh_key"))
      .where(col("lid") =!= col("rid")
        && (!col("rinc") || col("lid") < col("rid")))
      .select(
        least(col("lid"), col("rid")).as("id_a"),
        greatest(col("lid"), col("rid")).as("id_b"),
        when(col("lid") < col("rid"), col("ln")).otherwise(col("rn"))
          .as("na"),
        when(col("lid") < col("rid"), col("rn")).otherwise(col("ln"))
          .as("nb"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))

    adjusted.unionByName(delta)
  }

  /** Collapse near-dup pairs into clusters: connected components by
    * iterative min-label propagation — each node repeatedly takes the
    * minimum of its own label and its neighbors' labels until fixpoint,
    * which assigns every component its minimum doc id (the survivor the
    * pipeline keeps). This is the standard follow-up to pair mining:
    * A~B and B~C must collapse to ONE cluster even when A~C was never
    * emitted as a pair.
    *
    * Scale shape: each iteration is one join + one keyed min — all
    * shuffles on the node id, no driver-side graph. Convergence needs
    * O(component diameter) rounds; near-dup clusters are shallow
    * (diameter ≤ a handful), and `maxIters` (20) bounds the worst case.
    * Each round's labels are materialized (tracked in [[Caches]]) to
    * cut the iterative lineage, the same discipline as
    * [[Similarity.fitCentroids]]. The fixpoint label (min id in the
    * component) is unique, so the result is deterministic regardless
    * of iteration order or partitioning.
    *
    * Input: pair frame with `id_a`/`id_b` columns (a < b). Output:
    * (doc_id, cluster_id) for every doc appearing in at least one
    * pair; singletons are implicitly their own cluster. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // a component of diameter d needs ~d rounds; if maxIters is hit
    // before the fixpoint, labels are a valid PARTIAL merge (every
    // label is some component member's id, clusters may be split) —
    // deep graphs take [[connectedComponentsStar]], near-dup graphs
    // are shallow
    val maxIters = 20
    // materialize the pair source ONCE before mirroring it — the edge
    // union references `pairs` twice, and an un-materialized upstream
    // (e.g. a whole LSH or cosine pair-mining pipeline) would run
    // twice otherwise
    val p = Caches.persistTracked(
      pairs.select(col("id_a"), col("id_b")))
    val edges = Caches.persistTracked(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Every round MUST truncate lineage, not merely cache: round N's
    // logical plan references round N-1's twice (once via the join,
    // once via the neighbor aggregation), so without truncation the
    // plan tree doubles per round — analysis alone is O(2^rounds) and
    // OOMs the driver near ~15 rounds (observed on a 1M-node
    // diameter-9 soak). Eager truncation replaces each round's plan
    // with its materialized RDD (the GraphFrames discipline).
    // [[Lineage.truncate]] picks the regime: reliable `checkpoint()`
    // when the session has a checkpoint dir (multi-node clusters —
    // executor loss invalidates local checkpoints), localCheckpoint
    // otherwise. Superseded LOCAL blocks are freed by the
    // ContextCleaner as old frames go out of scope; reliable
    // checkpoint FILES are not (Spark never deletes them by default),
    // so Lineage registers each one and Caches.releaseAll() deletes
    // them between queries.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .transform(Lineage.truncate)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster_id").as("nlabel")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nlabel")).as("nmin"))
      // round-12: truncate + convergence probe in ONE job — the probe
      // (any row with nmin < cluster_id?) rides an accumulator on the
      // truncate's materializing count instead of a second driver
      // round-trip per round. Zero-test semantics only (accumulators
      // may overcount on retry, never fake a zero) — exactly this test.
      val (next, _, nChanged) = Lineage.truncateCounted(
        labels.join(neighborMin, Seq("doc_id"))
          .select(col("doc_id"),
            least(col("cluster_id"), col("nmin")).as("cluster_id"),
            (col("nmin") < col("cluster_id")).as("changed")),
        probeCol = Some("changed"))
      converged = nChanged == 0L
      labels = next.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    labels
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): converges in O(log d) rounds on component diameter d,
    * vs O(d) for [[connectedComponents]]' min-label propagation.
    *
    * Per round this costs ~1.5x a label-propagation round (two
    * groupBy-min + join passes, all keyed on node id), so the
    * min-label variant stays the default for the shallow graphs
    * near-dup mining produces (diameter ≤ a handful). This one is the
    * scale insurance: on a deep graph — a chain of 50k nodes, a mesh
    * of transitive near-dups — label propagation needs 50k rounds
    * (i.e. never finishes) while star-contraction needs ~log d. Both
    * reach the identical fixpoint: every node labeled with its
    * component's minimum id.
    *
    * Mechanics per round (edges kept as a deduped (src, dst) set,
    * self-loop-free; lineage truncated eagerly via [[Lineage.truncate]] —
    * same discipline and rationale as [[connectedComponents]]):
    *  - large-star: symmetrize; per node u with m = min(N(u) ∪ u),
    *    re-point every STRICTLY GREATER neighbor v > u to m.
    *  - small-star: orient every edge large→small; per node u with
    *    m = min(N(u)), point u and every other small neighbor to m.
    * The unique stable state is min-rooted stars (a star rooted at a
    * non-min c still has the edge {c, m}, m < c, which large-star
    * re-points), so convergence = the edge set stops changing: checked
    * with a count + left-anti probe over the checkpointed sets.
    *
    * Input/output contract identical to [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 40)
      : DataFrame = {
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // round-12: the truncate's materializing job IS a count — take the
    // edge count from it instead of a second job (here and per round).
    var (edges, n, _) = Lineage.truncateCounted(canon(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // large-star: key on each endpoint (symmetric view), compute the
      // neighborhood min, re-point strictly greater neighbors to it
      val sym = edges.union(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = canon(sym.where(col("dst") > col("src"))
        .join(lsMin, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
        .transform(Lineage.truncate)
      // small-star: edges are already oriented large→small by canon();
      // per large endpoint, point it and all other small neighbors to
      // the minimum small neighbor
      val ssMin = ls.groupBy("src").agg(min(col("dst")).as("m"))
      val j = ls.join(ssMin, Seq("src"))
      val (ss, nNext, _) = Lineage.truncateCounted(canon(
        j.select(col("src"), col("m").as("dst"))
          .union(j.where(col("dst") =!= col("m"))
            .select(col("dst").as("src"), col("m").as("dst")))))
      converged = nNext == n &&
        ss.join(edges, Seq("src", "dst"), "left_anti").limit(1).count() == 0L
      edges = ss
      n = nNext
      iter += 1
    }
    // stable state is min-rooted stars: every edge is (member, root);
    // roots label themselves. min() collapses the (empty at fixpoint)
    // residue if maxIters stopped the loop early — then, exactly like
    // the min-label variant, labels are a valid partial merge.
    edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
      .groupBy(col("doc_id"))
      .agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Portable MinHash signature: for seed s, the signature element is
    * the lexicographic MIN of md5(s || '|' || shingle) — identical in
    * any engine with md5, no Murmur dependency. Backed by the native
    * one-pass [[graft.expressions.MinhashSig]] (the equivalent HOF
    * formulation costs numHashes interpreted passes per row). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.expressions.TextExpressions.minhashSig(sh, numHashes)

  /** SimHash near-dup pairs: 64-bit fingerprints (as bit strings),
    * banded into 4 exact-match 16-bit buckets for candidates, then
    * verified by Hamming distance <= maxHamming. One shuffle per band
    * join; no O(n²) comparisons.
    *
    * Recall bound (pigeonhole): a fingerprint pair within Hamming
    * distance d is GUARANTEED to share a band only when d <= bands-1,
    * so `maxHamming < bands` is required — a larger maxHamming would
    * silently emit an incomplete pair set (pairs at larger distances
    * surface only on coincidental band collisions). More bands buy
    * recall but shrink buckets to 64/bands bits, increasing candidate
    * collisions — at 4 bands a bucket is 16 bits (65k values), still
    * selective; at 16 bands it is 4 bits and the band join degenerates
    * toward all-pairs. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val bands = 4
    require(maxHamming < bands,
      s"banded LSH guarantees recall only for Hamming distance <= bands-1"
        + s" (pigeonhole); got maxHamming=$maxHamming with $bands bands")
    val bandBits = 64 / bands
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val bits = Caches.persistTracked(Spread.forFanout(docs, col("doc_id"))
      .where(size(toks) > 0) // token-less docs have no fingerprint
      .select(col("doc_id"),
        graft.expressions.TextExpressions.simhashBits(toks).as("bits")))
    // band b = bandBits-bit substring [b*bandBits+1, bandBits]
    val withBands = bits.select(col("doc_id"), col("bits"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        col("bits").substr(b * bandBits + 1, lit(bandBits)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val l = withBands.select(col("doc_id").as("id_a"),
      col("bits").as("bits_a"), col("band"), col("bucket"))
    val r = withBands.select(col("doc_id").as("id_b"),
      col("bits").as("bits_b"), col("band"), col("bucket"))
    val hamming = graft.expressions.TextExpressions.hammingDist(
      col("bits_a"), col("bits_b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("bits_a"), col("bits_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Fuzzy near-dup pairs: winnowed rolling-hash fingerprint blocking
    * + edit-distance verification (the MOSS shape: candidates = docs
    * sharing >= `minSharedFp` selective winnow fingerprints, verified
    * by relative Levenshtein distance).
    *
    * Shuffle shape mirrors [[minhashLshPairs]]: only slim (doc_id, fp)
    * rows ride the blocking self-join; fingerprints with document
    * frequency > `maxDf` are dropped (stop-fragments — common
    * substrings shared by half the corpus carry no near-dup signal and
    * would quadratically blow up the join), and the full texts are
    * fetched BY ID only for the surviving candidate set. Verification
    * is `levenshtein(a,b) <= floor(maxLevRatio * max(len))` — O(len²)
    * per pair but the candidate set is tiny; at scale swap in Spark's
    * threshold-bounded `levenshtein(l, r, k)` (O(len·k) banded DP) once
    * an absolute bound is acceptable.
    */
  def editDistancePairs(docs: DataFrame, maxDf: Long = 5L): DataFrame = {
    val (w, t, minSharedFp, maxLevRatio) = (8, 4, 2L, 0.1)
    val base = Caches.persistTracked(
      Spread.forFanout(docs, col("doc_id")).select(col("doc_id"),
        col("text").as("txt"), length(col("text")).as("len")))
    val fps = base.select(col("doc_id"),
      explode(graft.expressions.TextExpressions
        .winnowFingerprints(col("txt"), w, t)).as("fp"))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
    val filtered = Caches.persistTracked(fps.join(keep, Seq("fp")))
    val cand = filtered.select(col("doc_id").as("id_a"), col("fp"))
      .join(filtered.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= minSharedFp)
    cand
      .join(base.select(col("doc_id").as("id_a"), col("txt").as("ta"),
        col("len").as("la")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("txt").as("tb"),
        col("len").as("lb")), Seq("id_b"))
      .withColumn("mx", greatest(col("la"), col("lb")))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .where(col("lev") <= floor(col("mx") * maxLevRatio).cast("long"))
      .withColumn("lev_ratio", round(col("lev") / col("mx"), 4))
      .select(col("id_a"), col("id_b"), col("n_shared_fp"), col("lev"),
        col("lev_ratio"))
  }

  /** Banded-LSH candidate pairs + exact-Jaccard verification over
    * word-3-shingle sets. Emits (id_a < id_b, jaccard) for verified
    * pairs with jaccard >= 0.2.
    *
    * Band geometry: 4 bands of 2 MinHash rows (8 hashes). A pair at
    * jaccard s becomes a candidate with probability 1 − (1 − s²)⁴:
    * 0.93 at s = 0.7, where near-dups live, tapering to 0.15 at the
    * 0.2 verify threshold. Recall at the threshold itself is not the
    * target: guaranteeing it forces near-single-hash bands whose
    * buckets admit everything.
    *
    * Shuffle shape (the 100 TB consideration): ONLY slim
    * (doc_id, band, bucket) rows ride the band self-join and the
    * (id_a,id_b) dedup shuffles — the full shingle arrays stay in the
    * persisted [[shingleSets]] frame and are joined back BY ID for the
    * tiny verified candidate set. Carrying the arrays through the
    * candidate shuffles instead would cost
    * O(candidates × avg-shingle-set-bytes) — the arrays dominate. */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    val (n, bands, rowsPerBand, threshold) = (3, 4, 2, 0.2)
    val numHashes = bands * rowsPerBand
    val sets = shingleSets(docs, n)
    // band value = md5 of the concatenated signature slice; persisted
    // because both sides of the self-join consume it (without
    // materialization the signature would compute once per join side)
    val banded = Caches.persistTracked(
      sets
        .withColumn("sig", minhashSignature(col("sh"), numHashes))
        .select(col("doc_id"),
          posexplode(
            transform(sequence(lit(0), lit(bands - 1)), b =>
              md5(concat_ws("#",
                slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"))
    val l = banded.select(col("doc_id").as("id_a"), col("band"), col("bucket"))
    val r = banded.select(col("doc_id").as("id_b"), col("band"), col("bucket"))
    val cand = l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // fetch SORTED HASH signatures for the surviving candidates by id
    // (round-11): the string shingle arrays used to ride both
    // candidate joins and pay a per-pair hash-set array_intersect;
    // fixed 8-byte elements keep the fetch shuffles narrow and the
    // intersection is an allocation-free merge — same 2^-64 xxhash64
    // collision class the posting index already accepts (a collision
    // would need two distinct shingles of one pair's union to collide,
    // and the oracle hash-compare would surface it)
    val sigs = sets.select(col("doc_id"), col("n_sh"),
      sort_array(expr("transform(sh, x -> xxhash64(x))")).as("sig"))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
      col("n_sh").as("na"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
      col("n_sh").as("nb"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("shared",
        graft.expressions.VectorExpressions.sortedIntersectCount(
          col("sig_a"), col("sig_b")))
      .withColumn("jaccard",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
  }

  /** Cross-document duplicated-substring spans — the detection pass of
    * exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better": remove any span whose every
    * k-token window also occurs in ANOTHER document). Where q121
    * measures a doc's repeated-shingle *coverage* against the whole
    * corpus (including itself), this finds the concrete maximal spans
    * of cross-doc duplication per document — the unit an ExactSubstr
    * cleaner would cut, and the `dup_frac` quality signal corpus
    * curation filters on.
    *
    * Shape (all keyed, never all-pairs):
    *  1. positional k-gram stream (doc_id, pos, xxhash64(gram)) —
    *     16-byte posting keys, the q22 trick;
    *  2. cross-doc grams via one groupBy(gram){min(doc),max(doc)}:
    *     min≠max ⟺ the gram occurs in ≥2 docs — two longs of state
    *     per key where countDistinct would buffer doc sets;
    *  3. occurrences join back on the gram key (AQE may broadcast the
    *     dup-gram side when it is small); each hit covers token
    *     positions [pos, pos+k);
    *  4. covered positions → maximal spans per doc by gaps-and-islands
    *     (pos − row_number over a doc-partitioned window — no global
    *     window, no driver state).
    *
    * Returns one row per doc (docs without dup spans included with
    * zeros): (doc_id, n_tokens, n_spans, covered_tokens, longest_span,
    * dup_bp) where dup_bp = basis points of tokens inside a
    * duplicated span — integer, deterministic. */
  /** Distinct (doc_id, cpos) token positions covered by a k-gram
    * (k = 4 tokens) that also occurs in ANOTHER document. `base` =
    * (doc_id, tk). Shared by [[crossDocDupSpans]] (statistics) and
    * [[removeDupSpans]] (cleaning) — at 100 TB a pipeline computes
    * this once per corpus snapshot and feeds both. */
  private def dupCoveredPositions(base: DataFrame): DataFrame = {
    val k = 4
    val grams = base
      .select(col("doc_id"), posexplode(shingles(col("tk"), k)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("g"))
    val dupG = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col("g"))
    grams.join(dupG, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .distinct()
  }

  /** (doc_id, tk): the token stream every span operator starts from. */
  private def docTokens(docs: DataFrame): DataFrame =
    Spread.forFanout(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("tk"))

  def crossDocDupSpans(docs: DataFrame): DataFrame = {
    val base = docTokens(docs)
    val covered = dupCoveredPositions(base)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("cpos"))
    val spans = covered
      .withColumn("isl", col("cpos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("span_len"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("covered_tokens"),
        max(col("span_len")).as("longest_span"))
    base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      // `div`, not `/`: Column./ is always DOUBLE division in Spark.
      .withColumn("dup_bp", when(col("n_tokens") === 0, lit(0L))
        .otherwise(expr("covered_tokens * 10000 div n_tokens")))
  }

  /** Duplicated-span REMOVAL — the cleaning pass of exact-substring
    * dedup (the cut [[crossDocDupSpans]] only measures): every token
    * position covered by a cross-doc duplicated k-gram is dropped and
    * the survivors re-join in order. Output is audit-shaped — per doc:
    * kept/removed counts and `cleaned_fp`, the md5 fingerprint of the
    * cleaned token stream (portable; what a downstream exact-dedup
    * pass would key on) — rather than the corpus-sized cleaned text
    * itself, which a pipeline would write straight to parquet.
    *
    * The in-order re-assembly sorts each doc's kept (pos, tok) pairs
    * inside a per-row array (array_sort over a collect_list) — state
    * is bounded by DOCUMENT length, never corpus-sized, and the sort
    * makes the aggregation deterministic under any partitioning. */
  def removeDupSpans(docs: DataFrame): DataFrame = {
    val base = docTokens(docs)
    removalAudit(base, dupCoveredPositions(base))
  }

  /** Surgical eval-set decontamination — cut, don't drop: where q89
    * FLAGS any training doc sharing a 13-gram with the benchmark set,
    * this removes just the matching spans (every token position
    * covered by a 5-gram that occurs anywhere in `evalDocs`) and
    * keeps the rest of the document — the standard middle ground when
    * dropping whole docs wastes too much corpus. Same audit shape as
    * [[removeDupSpans]]. The eval gram set is distinct-hashed
    * (16-byte keys); at 100 TB the eval side is benchmark-sized —
    * the join broadcasts it while the corpus streams. */
  def removeContaminatedSpans(train: DataFrame, evalDocs: DataFrame)
      : DataFrame = {
    val k = 5
    val base = docTokens(train)
    val grams = base
      .select(col("doc_id"), posexplode(shingles(col("tk"), k)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("g"))
    val evalG = evalDocs
      .select(explode(shingles(tokens(col("text")), k)).as("s"))
      .select(xxhash64(col("s")).as("g")).distinct()
    val covered = grams.join(evalG, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .distinct()
    removalAudit(base, covered)
  }

  /** Shared removal tail: drop `covered` (doc_id, cpos) positions from
    * `base` (doc_id, tk), re-assemble survivors in order, emit the
    * per-doc audit row. Re-assembly state is bounded by DOCUMENT
    * length (array_sort over one row's collected pairs), never
    * corpus-sized, and deterministic under any partitioning. */
  private def removalAudit(base: DataFrame,
      covered: DataFrame): DataFrame = {
    val toks = base.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("cpos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "cpos"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("cpos"), col("tok")))),
          s => s.getField("tok")), " ")).as("cleaned_fp"))
    base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("cleaned_fp"), md5(lit(""))).as("cleaned_fp"))
  }
}
