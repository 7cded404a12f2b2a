package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data pipelines: documents are
  * ordered by a keyed hash (md5 of the seed `graft-r1` + `doc_id`)
  * inside each `lang` stratum and the first 5 are taken. Unlike
  * rand()-based sampleBy, the result is a pure function of (data,
  * seed) — identical on re-runs, across engines, and under any
  * partitioning, which makes sampled corpora auditable. One shuffle on
  * the stratum key.
  */
object Sampling {
  def stratifiedTopK(df: DataFrame): DataFrame = {
    val (k, seed) = (5, "graft-r1")
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat_ws("|", lit(seed), col("doc_id"))), col("doc_id"))
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }
}
