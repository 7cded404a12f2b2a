package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (builder prompt: "salting for
  * skew"). AQE's skew-join handles sort-merge skew automatically; this
  * explicit salted join is for the cases AQE can't split (e.g. a
  * single key holding >1 task's worth of build-side rows in a shuffled
  * hash join, or deterministic-layout requirements).
  *
  * Salt is deterministic — `pmod(hash(salt-source cols), factor)` on
  * the big side, full 0..factor-1 replication on the small side — so
  * results are reproducible and testable (no rand()).
  */
object Skew {

  /** Equi-join `big ⋈ small` on their column `k`, with the big side
    * split into `factor` salted sub-keys and the small side replicated
    * `factor`×. Output schema = plain inner join on `k`. */
  def saltedJoin(big: DataFrame, small: DataFrame, factor: Int,
      saltSource: Seq[String]): DataFrame = {
    require(factor >= 1)
    val salted = big.withColumn("_salt",
      pmod(hash(saltSource.map(col): _*), lit(factor)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq("k", "_salt")).drop("_salt")
  }
}
