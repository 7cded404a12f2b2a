package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): split d-dim vectors into `m` subspaces,
  * k-means each subspace into `k` codewords, store each vector as `m`
  * small codes (m bytes at k≤256 — a 32× compression of a 64-dim
  * float vector), and score queries against the codes via ADC
  * (asymmetric distance computation: exact query sub-vector vs the
  * neighbor's codeword). The memory-bound regime of the ANN stack —
  * IVF (q41/q115/q134) prunes WHICH vectors to score, PQ shrinks WHAT
  * is stored and scored.
  *
  * Everything runs in integer fixed point so results are bit-exact
  * under any partitioning and replayable by the SQL oracle: input
  * vectors quantize to 1e-4 longs ([[Projection.quantize]]), codebook
  * means come from exact long sums with ONE rounded division to the
  * 1e-6 grid, and every distance is an integer sum of squared 1e-6
  * diffs. Codebook fit is deterministic Lloyd: init = the k lowest-id
  * vectors' sub-vectors, one iteration, (distance, cent_id)
  * tie-breaks — the q63 contract, per subspace.
  */
object ProductQuant {

  /** (vec_id, j, sv): 1e-4-quantized sub-vector per subspace j of the
    * `embeddings` table's 64-dim `embedding`, as 8 subspaces of 8. */
  def subVectors(emb: DataFrame): DataFrame = {
    val (m, subDim) = (8, 8)
    // Spread.forFanout (round-11): the m-way subspace explode below
    // otherwise runs inside a single scan task on small corpora
    val q = Spread.forFanout(emb, col("vec_id"))
      .select(col("vec_id"), Projection.quantize(col("embedding")).as("qv"))
    val js = (0 until m).map(lit(_))
    q.select(col("vec_id"), col("qv"), explode(array(js: _*)).as("j"))
      .select(col("vec_id"), col("j"),
        expr(s"slice(qv, j * $subDim + 1, $subDim)").as("sv"))
  }

  /** Integer squared L2 between two long-array columns at a common
    * fixed-point scale (left fold — order fixed, but integer adds are
    * order-free anyway). */
  def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** One-iteration Lloyd codebooks of 16 codewords per subspace:
    * (j, cent_id, cv) with cv on the 1e-6 grid. `subs` from
    * [[subVectors]]. */
  def fitCodebooks(subs: DataFrame): DataFrame = {
    val k = 16
    // init: the k lowest-id vectors' sub-vectors (ids are 0-based and
    // contiguous in the corpus tables; callers with sparse ids rank
    // first), rescaled 1e-4 → 1e-6
    val cb0 = subs.where(col("vec_id") < k)
      .select(col("j"), col("vec_id").cast("long").as("cent_id"),
        transform(col("sv"), x => x * 100).as("cv"))
    val a1 = assign(subs, cb0)
    a1.join(subs, Seq("vec_id", "j"))
      .select(col("j"), col("cent_id"), posexplode(col("sv")))
      .groupBy(col("j"), col("cent_id"), col("pos"))
      // exact long sum; ONE rounded division onto the 1e-6 grid —
      // round() is away-from-zero in both engines, unlike integer
      // div (truncates) vs // (floors), which disagree on negatives
      .agg(round(sum(col("col")).cast("double") * 100 / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("j"), col("cent_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("pc"))
      .select(col("j"), col("cent_id"),
        transform(col("pc"), x => x.getField("c")).as("cv"))
  }

  /** Nearest codeword per (vector, subspace): (vec_id, j, cent_id).
    * Codebooks broadcast (m·k rows); ties break on cent_id. */
  def assign(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("dd"), col("cent_id"))
    subs.join(broadcast(codebooks), Seq("j"))
      .select(col("vec_id"), col("j"), col("cent_id"),
        d2(transform(col("sv"), x => x * 100), col("cv")).as("dd"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("j"), col("cent_id"))
  }

  /** ADC top-5: exact query sub-vectors against the corpus CODES only
    * (the stored representation — m codes per vector; the original
    * vectors never load). Distance = Σ_j ‖q_j − codeword(code_j)‖²,
    * an integer. Self-matches excluded; ranks tie-break by
    * neighbor_id. Queries broadcast; the codes table is the only
    * corpus-scale frame and it joins the codebook by its m·k key. */
  def adcTopK(querySubs: DataFrame, codes: DataFrame,
      codebooks: DataFrame): DataFrame = {
    val k = 5
    val q = querySubs.select(col("vec_id").as("query_id"), col("j"),
      transform(col("sv"), x => x * 100).as("qv6"))
    val scored = codes
      .join(broadcast(codebooks), Seq("j", "cent_id"))
      .join(broadcast(q), Seq("j"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        d2(col("qv6"), col("cv")).as("dj"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dj")).as("adc_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
