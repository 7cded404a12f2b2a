package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Domain-relevance scoring by hashed-bigram odds voting — the
  * integer-exact core of importance-resampling data selection (DSIR,
  * Xie et al. 2023: score documents by how much more likely their
  * hashed n-gram features are under a small TARGET corpus than under
  * the RAW pool, then keep the top). The published estimator sums
  * log-probability ratios; floating-point logs are not portable across
  * engines, so this variant casts each feature's evidence as an exact
  * integer VOTE via cross-multiplication:
  *
  *    vote(b) = sign( tcnt(b)·rtotal − rcnt(b)·ttotal )
  *
  * i.e. +1 when feature bucket b has higher relative frequency in the
  * target than in the raw pool, −1 when lower — the sign of the log
  * ratio, computed without the log. A document's score is the sum of
  * its bigram occurrences' votes: monotone in the direction DSIR
  * ranks, deterministic to the bit, oracle-replayable in pure SQL.
  *
  * Scale shape: the bigram stream aggregates into a FIXED 256-bucket
  * frequency table per side (map-side combine; the shuffle is
  * O(partitions×256), vocabulary-independent). The vote table is 256
  * rows — broadcast-joined onto the raw-pool bigram stream, then one
  * doc_id-keyed aggregation. Nothing corpus-sized crosses the wire
  * except the doc-keyed score rollup.
  */
object Relevance {

  /** Hashed-bigram bucket stream: (doc_id, b) one row per adjacent
    * token pair, b = first two hex chars of md5("f|" + bigram). */
  private def bigramBuckets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("bg"))
      .select(col("doc_id"),
        conv(substring(md5(concat_ws("|", lit("f"), col("bg"))), 1, 2),
          16, 10).cast("int").as("b"))

  /** Score every document in `raw` by target-likeness votes. Returns
    * (doc_id, score) — callers join back for payload columns and
    * rank. `target` and `raw` must be disjoint doc sets. */
  def oddsVotes(target: DataFrame, raw: DataFrame): DataFrame = {
    val tb = bigramBuckets(target)
    val rb = bigramBuckets(raw)
    val tcnt = tb.groupBy(col("b")).agg(count(lit(1)).as("tcnt"))
    val rcnt = rb.groupBy(col("b")).agg(count(lit(1)).as("rcnt"))
    // 256-row vote table; outer join covers buckets seen on one side
    // only. Totals ride as scalar columns via a single-row broadcast
    // (the established scalar-attach shape — no driver round-trip).
    val ttotal = tb.agg(count(lit(1)).as("ttotal"))
    val rtotal = rb.agg(count(lit(1)).as("rtotal"))
    val votes = tcnt.join(rcnt, Seq("b"), "full")
      .crossJoin(broadcast(ttotal)).crossJoin(broadcast(rtotal))
      .select(col("b"),
        signum(coalesce(col("tcnt"), lit(0L)) * col("rtotal")
          - coalesce(col("rcnt"), lit(0L)) * col("ttotal"))
          .cast("long").as("vote"))
    rb.join(broadcast(votes), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("vote")).as("score"))
  }
  /** BM25 index artifacts from a document frame: postings
    * (term, doc_id, tf) and doc lengths (doc_id, len). One keyed
    * aggregation each — the ONLY corpus-scale stages of the retrieval
    * path. Both are ADDITIVE under document append (new docs only add
    * rows), which is what makes the streaming ingest twin
    * ([[graft.streaming.SearchIngest]]) a plain per-batch fold with
    * no state store. */
  def bm25Postings(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val post = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    (post, lens)
  }

  /** Robertson BM25 top-10 over prebuilt index artifacts (k1 = 1.2,
    * b = 0.75, Lucene's always-positive idf). df and corpus stats are
    * derived from the postings/lens at serve time (one
    * vocabulary-sized agg + one single-row agg — both broadcast).
    * Per-term scores round to 1e-6 fixed point and docs sum LONGS so
    * multi-term float summation order cannot matter (q119's
    * convention). Output: (query_id, rank, doc_id, bm25). */
  def bm25TopK(post: DataFrame, lens: DataFrame, queries: DataFrame)
      : DataFrame = {
    val k = 10
    import org.apache.spark.sql.expressions.Window
    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum(col("len")).as("total_len"))
    val qterms = queries.select(col("query_id"),
      explode(tokens(col("qtext"))).as("term"))
    val scored = post
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfT), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("sat", col("tf") * lit(2.2) / (col("tf")
        + lit(1.2) * (lit(0.25)
          + lit(0.75) * col("len") * col("n_docs") / col("total_len"))))
      .withColumn("ts_fp",
        round(col("idf") * col("sat") * 1e6).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts_fp")).as("score_fp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("score_fp").cast("double") / 1e6).as("bm25"))
      .orderBy(col("query_id"), col("rank"))
  }
}
