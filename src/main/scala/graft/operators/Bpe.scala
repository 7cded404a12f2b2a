package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Byte-pair-encoding merge induction and application — the trainer
  * behind q122's single-step probe, now iterated to a full merge list
  * (Sennrich et al. 2016, the standard subword algorithm).
  *
  * Scale shape: every pass runs over the DISTINCT-WORD vocabulary
  * weighted by corpus frequency, never the corpus itself — the q122
  * trick made iterative. One aggregation + one narrow map per merge
  * step; the only driver materialization is the chosen merge itself
  * (exactly one row per step, `nMerges` rows total — the same bounded
  * scalar-decision class as the IVF probe literal). At 100 TB the
  * vocabulary is million-scale while the corpus is billion-scale, so
  * the trainer's cost is decoupled from corpus size by construction.
  *
  * Determinism: merge ties break on the pair string ascending; the
  * merge application is literal left-to-right non-overlapping
  * `replace` — the same semantics in Spark and the DuckDB oracle, so
  * the whole training trajectory replays cross-engine (q142/q143).
  */
object Bpe {

  final case class Merge(step: Int, pair: String, freq: Long)

  /** (word, freq) vocabulary of the documents' `text`. */
  def vocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** The spaced character representation BPE operates on:
    * "abc" → "a b c". */
  def spaced(c: Column): Column =
    trim(regexp_replace(c, "(.)", "$1 "))

  /** Adjacent-symbol pairs of a spaced sequence's token array. */
  private def adjacentPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** Literal replace-all (left-to-right, non-overlapping) — the exact
    * `replace()` the oracle uses, via the SQL function of the same
    * name (no regex involvement, so corpus symbols never need
    * escaping). */
  private def replaceAll(s: Column, find: String, repl: String): Column =
    call_function("replace", s, lit(find), lit(repl))

  /** Induce 8 merges over a (word, freq) vocabulary: each step counts
    * adjacent symbol pairs weighted by word frequency, merges the most
    * frequent (tie-break: pair string ascending), and rewrites the
    * working vocabulary. */
  def train(vocabDf: DataFrame): Seq[Merge] = {
    val nMerges = 8
    var w = Caches.persistTracked(
      vocabDf.select(spaced(col("word")).as("seq"), col("freq")))
    val out = Seq.newBuilder[Merge]
    for (step <- 1 to nMerges) {
      val best = w
        .select(explode(adjacentPairs(split(col("seq"), " "))).as("pair"),
          col("freq"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("pair"))
        .limit(1)
        .collect()
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        out += Merge(step, pair, best(0).getLong(1))
        w = Caches.persistTracked(w.select(
          replaceAll(col("seq"), pair, pair.replace(" ", "")).as("seq"),
          col("freq")))
      }
    }
    out.result()
  }

  /** Apply a learned merge list (in training order) to the `word`
    * column, adding `n_bpe_tokens` — the word's token count under the
    * induced vocabulary. Runs on distinct words; per-doc counts come
    * from joining this against the corpus token stream. */
  def applyMerges(words: DataFrame, merges: Seq[String]): DataFrame = {
    val encoded = merges.foldLeft(spaced(col("word")))(
      (s, p) => replaceAll(s, p, p.replace(" ", "")))
    words.withColumn("n_bpe_tokens", size(split(encoded, " ")))
  }
}
