package graft.tools

import org.apache.spark.sql.functions._

/** Scale soak for the levenshtein-threshold join exec
  * ([[graft.plans.LevenshteinSegmentJoinExec]]): measures the two
  * regimes the exec's docs call out, at soak sizes the unit tests
  * can't reach.
  *
  *  - `keys` — the ADVERSARIAL hot-prefix case: n zero-padded
  *    generated keys sharing one long constant prefix at one length,
  *    so segment 0's posting collapses to a handful of hot keys and
  *    the candidate set degrades toward n² (the honest price of the
  *    exact semantics; mirrors the tight-vocabulary jaccard case in
  *    BASELINE.md).
  *  - `words` — the realistic entity-resolution case: n strings with
  *    diverse content at many lengths, where segment blocking
  *    collapses candidates to near-linear.
  *
  * Usage: runMain graft.tools.LevSoak <n> <k> [keys|words|both]
  */
object LevSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000L
    val k = if (args.length > 1) args(1).toInt else 1
    val mode = if (args.length > 2) args(2) else "both"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)

    def run(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val a = df.select(col("id").as("id_a"), col("s").as("s_a"))
      val b = df.select(col("id").as("id_b"), col("s").as("s_b"))
      val joined = a.join(b,
        levenshtein(col("s_a"), col("s_b")) <= lit(k)
          && col("id_a") < col("id_b"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("LevenshteinSegmentJoin"),
        s"rewrite did not fire for $tag")
      val t0 = System.nanoTime()
      val pairs = joined.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"soak":"lev_join","mode":"$tag","n":$n,"k":$k,"pairs":$pairs,"sec":$secs%.2f}""")
    }

    if (mode == "keys" || mode == "both") {
      // Supplier#000000123-style: one shared 9-char prefix, one length
      val keys = spark.range(n).select(col("id"),
        concat(lit("Supplier#"),
          lpad(col("id").cast("string"), 9, "0")).as("s"))
      run("keys", keys)
    }
    if (mode == "words" || mode == "both") {
      // diverse content: base-26 alphabetic rendering of a hash, with
      // hash-dependent length 6..17 — realistic vocab-like diversity
      val words = spark.range(n).select(col("id"),
        expr("""substring(concat(
            translate(conv(abs(hash(id, 7)), 10, 36), '0123456789', 'qrstuvwxyz'),
            translate(conv(abs(hash(id, 11)), 10, 36), '0123456789', 'jklmnopqrs')),
          1, 6 + pmod(hash(id, 13), 12))""").as("s"))
      run("words", words)
    }
    if (mode == "bits") {
      // the escalation-proof adversary: random 18-char strings over a
      // TWO-symbol alphabet at one length — every aligned substring is
      // low-diversity at every segment granularity, so the multi-
      // segment doubling hits its 16(k+1) cap with postings still hot
      // and the residual cost is candidate-bound (the exec's honest
      // worst case, which only the approximate paths escape)
      val bits = spark.range(n).select(col("id"),
        expr("""translate(lpad(conv(abs(hash(id, 17)) % 262144, 10, 2), 18, '0'),
            '01', 'ab')""").as("s"))
      run("bits", bits)
    }
    spark.stop()
  }
}
