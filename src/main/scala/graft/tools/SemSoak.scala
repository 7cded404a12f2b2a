package graft.tools

import org.apache.spark.sql.functions._

/** SemDeDup scale probe: `SemSoak <sfDir> <k> [threshold]` times the
  * fit + full dedup pass at a given cluster count and prints one JSON
  * line. Exists to MEASURE the documented mitigation for the one
  * quadratic stage in the SemDeDup family (within-cluster pair
  * scoring, Σ cluster²): k must grow with the corpus (k ≈ √n per the
  * paper) so cluster sizes — and with them the pair fanout — stay
  * bounded. BASELINE.md records the fixed-k vs scaled-k numbers at
  * gen10. */
object SemSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    val threshold = if (args.length > 2) args(2).toDouble else 0.35
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = emb.count()
    val t0 = System.nanoTime()
    val cents = graft.operators.Similarity.fitCentroids(emb, k, iters = 1)
      .select(col("cent_id").as("id"), col("cent_v").as("vec"))
    val drops = graft.operators.Similarity
      .semanticDedupDrops(emb, cents, threshold).count()
    val secs = (System.nanoTime() - t0) / 1e9
    graft.operators.Caches.releaseAll()
    println(f"""{"tool":"semsoak","dir":"${dir.replace("\"", "")}","n":$n,"k":$k,"threshold":$threshold,"drops":$drops,"secs":$secs%.2f}""")
    spark.stop()
  }
}
