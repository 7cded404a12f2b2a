package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

/** Round-12: the scoring functions (quality / language-ID /
  * sentiment / ratios) were rebased onto the single-pass
  * [[graft.expressions.TokenListStats]] kernel. This spec pins them
  * bit-for-bit against the ORIGINAL higher-order formulations
  * (array_distinct + size(filter(isInCollection)) per list) on
  * randomized token streams drawn from the marker vocabulary plus
  * noise, including empty and near-empty docs. */
class TokenStatsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  // the pre-round-12 formulations, verbatim
  private def refHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words.map(lit))))
  private def refStopRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(refHits(toks, TextFunctions.Stopwords).cast("double")
        / size(toks))
  private def refUniqueRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks))
  private def refQuality(toks: Column): Column =
    round(
      refUniqueRatio(toks) * 0.5
        + (lit(1.0) - refStopRatio(toks)) * 0.3
        + least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.2,
      4)
  private def refSentiment(toks: Column): Column =
    (refHits(toks, TextFunctions.PosWords) * 2
      - refHits(toks, TextFunctions.NegWords) * 2).cast("int")
  private def refLangGuess(toks: Column): Column = {
    val scored = TextFunctions.LangProfiles.zipWithIndex.map {
      case ((lang, words), i) =>
        struct(
          refHits(toks, words).as("score"),
          lit(TextFunctions.LangProfiles.size - i).as("prio"),
          lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") === 0, "unknown")
      .otherwise(best.getField("lang"))
  }

  private lazy val docs = {
    val vocab = (TextFunctions.StatsLists.flatten ++
      Seq("zz", "qq", "xx", "yy", "the", "a", "join", "fast")).toArray
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map { i =>
      val n = rnd.nextInt(30)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      (i.toLong, toks)
    } ++ Seq((1001L, Seq.empty[String]), (1002L, Seq("the")),
      (1003L, Seq("a", "a", "a")))
    rows.toDF("id", "toks")
  }

  test("stats-backed scoring functions match the higher-order originals") {
    val df = docs
      .withColumn("q_new", TextFunctions.qualityScore(col("toks")))
      .withColumn("q_ref", refQuality(col("toks")))
      .withColumn("g_new", TextFunctions.langGuess(col("toks")))
      .withColumn("g_ref", refLangGuess(col("toks")))
      .withColumn("s_new", TextFunctions.sentimentScore(col("toks")))
      .withColumn("s_ref", refSentiment(col("toks")))
      .withColumn("ur_new", TextFunctions.uniqueRatio(col("toks")))
      .withColumn("ur_ref", refUniqueRatio(col("toks")))
      .withColumn("sr_new", TextFunctions.stopwordRatio(col("toks")))
      .withColumn("sr_ref", refStopRatio(col("toks")))
    val bad = df.where(
      col("q_new") =!= col("q_ref") || col("g_new") =!= col("g_ref")
        || col("s_new") =!= col("s_ref") || col("ur_new") =!= col("ur_ref")
        || col("sr_new") =!= col("sr_ref"))
    assert(bad.count() === 0)
  }

  test("null text propagates as before through tokens(text) scoring") {
    val df = Seq((1L, "the a fast join"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "   "))
      .toDF("id", "text")
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("q_new", TextFunctions.qualityScore(col("toks")))
      .withColumn("q_ref", refQuality(col("toks")))
      .withColumn("g_new", TextFunctions.langGuess(col("toks")))
      .withColumn("g_ref", refLangGuess(col("toks")))
    assert(df.where(
      col("q_new") <=> col("q_ref") === false
        || (col("g_new") <=> col("g_ref")) === false).count() === 0)
  }

  test("a word repeated inside one keyword list counts once per token") {
    val lists = Seq(Seq("fast", "join", "fast"), Seq("zz", "zz", "zz"),
      Seq("the"))
    val stats = graft.expressions.TextExpressions
      .tokenListStats(col("toks"), lists).getField("hits")
    val df = docs.select(
      (stats +: lists.map(refHits(col("toks"), _))): _*)
      .toDF("hits" +: lists.indices.map(i => s"ref$i"): _*)
    val bad = df.where(lists.indices.map(i =>
      element_at(col("hits"), i + 1) =!= col(s"ref$i")).reduce(_ || _))
    assert(bad.count() === 0)
    assert(df.where(col("ref0") > 0).count() > 0)
  }

  test("one stats evaluation is shared across scores (CSE)") {
    // all scoring functions build the SAME TokenListStats expression;
    // the physical plan of a multi-score projection must contain the
    // kernel (not array_distinct / filter chains)
    // non-foldable source (a local Seq constant-folds the whole
    // projection into a LocalTableScan at plan time)
    val df = spark.range(8)
      .select(split(concat(lit("the a fast join zz "),
        col("id").cast("string")), " ").as("toks"))
      .select(
        TextFunctions.qualityScore(col("toks")).as("q"),
        TextFunctions.langGuess(col("toks")).as("g"),
        TextFunctions.sentimentScore(col("toks")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("token_list_stats"))
    assert(!plan.contains("array_distinct"))
  }
}
