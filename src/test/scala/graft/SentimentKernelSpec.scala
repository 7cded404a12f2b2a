package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.functions.TextFunctions.SentimentConfig

/** The full-parity sentiment score (SQ10) runs on one native
  * [[graft.expressions.SentimentCounts]] pass per row. This spec pins
  * it bit for bit against the EARLIER formulation — one
  * `regexp_replace` length difference per pattern, copied verbatim
  * below — under whole-stage codegen and interpreted, on a seeded
  * corpus and on the edge cases that decide substring counting and
  * `lower()`. */
class SentimentKernelSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  // ---- the earlier formulation, verbatim ----

  /** Occurrences of a literal substring (not token-bound — the
    * reference uses substring containment, job3_sentiment.py:188-189). */
  def substrCount(text: Column, sub: String): Column = {
    // Spark length() counts codepoints (UTF8String.numChars), so the
    // divisor must too — String.length would double-count emoji.
    val subLen = sub.codePointCount(0, sub.length)
    ((length(text) - length(regexp_replace(text,
      java.util.regex.Pattern.quote(sub), ""))) / subLen).cast("int")
  }

  private def totalHits(text: Column, subs: Seq[String]): Column =
    subs.map(substrCount(text, _)).reduce(_ + _)

  def exclamationCount(text: Column): Column = substrCount(text, "!")

  /** Ratio of uppercase letters among letters; 0 when no letters. */
  def capsRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val uppers = length(regexp_replace(text, "[^A-Z]", ""))
    when(letters === 0, lit(0.0))
      .otherwise(uppers.cast("double") / letters)
  }

  /** Full reference-parity sentiment score (see weights above). */
  def sentimentScoreFull(text: Column,
      cfg: SentimentConfig = TextFunctions.DefaultSentiment): Column = {
    val posE = totalHits(text, cfg.posEmoji)
    val negE = totalHits(text, cfg.negEmoji)
    val lowered = lower(text)
    val posW = totalHits(lowered, cfg.posWords)
    val negW = totalHits(lowered, cfg.negWords)
    val exclPenalty = when(exclamationCount(text) > 3, -3).otherwise(0)
    val letters = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val capsPenalty =
      when(letters >= 5 && capsRatio(text) > 0.5, -2).otherwise(0)
    (posE * 2 - negE * 2 + posW - negW + exclPenalty + capsPenalty)
      .cast("int")
  }

  /** Per-emoji-list counts exposed for the ladder + output contract
    * (the reference returns a 6-field struct, job3_sentiment.py:234-241). */
  def sentimentStruct(text: Column,
      cfg: SentimentConfig = TextFunctions.DefaultSentiment): Column = {
    val posE = totalHits(text, cfg.posEmoji)
    val negE = totalHits(text, cfg.negEmoji)
    val score = sentimentScoreFull(text, cfg)
    val stype = TextFunctions.sentimentTypeFull(score, posE, negE)
    struct(
      stype.as("sentiment_type"),
      when(stype.isin("strong_positive", "strong_negative"), "high")
        .when(stype.isin("positive", "negative"), "medium")
        .otherwise("low").as("alert_priority"),
      score.cast("float").as("score"),
      posE.as("pos_emoji_count"),
      negE.as("neg_emoji_count"))
  }

  // ---- inputs ----

  private val edgeCases: Seq[String] = Seq(
    null, "", "!!!!!!!", "!!!", "fastfast", "FASTFAST fast", "fasfast",
    "🚀🚀💎😢😢🚀", "🚀🚀", "😢😢😢", "🚀😀🎉💎📈😢💀📉😡🐻",
    "İ", "ẞ", "ΣΑΣ", "BİG SPARK", "ΣΑΣ fast ΣΑΣ", "Kelvin",
    "THIS IS SHOUTING", "ABCDe", "ABcde", "AB", "to the moon 🚀",
    "slow bear 😢", "wow!!!!", "aaaa", "aaa", "ßss", "i\u0307",
    "é É ñ Ñ 𝔸𝔹 𝔸", "RT @user1: fast big spark slow small dup",
    // capitals newer than the JDK's Unicode tables: only ICU lowercases
    "\uA7C0", "\uA7C0\uA7C1 \u1C89 FAST")

  /** Seeded texts: keyword pieces (whole, split, cased), emoji,
    * exclamation runs, non-ASCII case pairs and noise, glued with and
    * without spaces so that substrings run into each other. */
  private lazy val corpus: Seq[String] = {
    val cfgs = Seq(TextFunctions.DefaultSentiment, lowerPins)
    val pieces = (cfgs.flatMap(c =>
      c.posEmoji ++ c.negEmoji ++ c.posWords ++ c.negWords) ++
      Seq("FAST", "Fast", "fa", "st", "SPARK", "Dup", "sm", "all", "!",
        "!!", "!!!!", "İ", "ẞ", "Σ", "ς", "σ", "K", "K", "é", "É",
        "🌙", "𝔸", "x", "Y", "q", "moon", "RT @x:", "\uA7C0", "\u1C89"))
      .toArray
    val rnd = new scala.util.Random(20261017)
    Seq.fill(1500) {
      Seq.fill(rnd.nextInt(14))(pieces(rnd.nextInt(pieces.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
    }
  }

  /** A config whose patterns only match if the kernel lowercases and
    * counts exactly as the regexp formulation does: lowercase forms
    * that `lower()` produces from non-ASCII capitals (final sigma,
    * Kelvin sign, capitals only ICU's tables know), self-overlapping
    * patterns and patterns that overlap each other across and inside
    * lists. */
  private lazy val lowerPins = SentimentConfig(
    posEmoji = Seq("🚀", "🚀🚀", "!!"),
    negEmoji = Seq("😢", "!"),
    posWords = Seq("i\u0307", "ß", "σας", "fast", "aa", "\uA7C1"),
    negWords = Seq("σ", "ς", "k", "ss", "a", "\u1C8A"))

  private def texts(xs: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(xs.zipWithIndex.map {
      case (t, i) => (i, Option(t))
    }, 3).toDF("id", "t")

  private def withCodegen[A](on: Boolean)(body: => A): A = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val old = keys.map(k => k -> conf.getOption(k))
    if (on) {
      conf.set("spark.sql.codegen.wholeStage", "true")
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      conf.set("spark.sql.codegen.fallback", "false")
    } else {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    try body finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Rows as comparable values, the float score as its raw bits. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case f: java.lang.Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case s: Row => bits(s)
    case v => v
  }

  private def assertParity(xs: Seq[String], cfg: SentimentConfig,
      codegen: Boolean): Unit = withCodegen(codegen) {
    val k = graft.expressions.TextExpressions.sentimentCounts($"t",
      cfg.posEmoji, cfg.negEmoji, cfg.posWords, cfg.negWords)
    val df = texts(xs).select($"id", $"t",
      TextFunctions.sentimentStruct($"t", cfg).as("new_struct"),
      sentimentStruct($"t", cfg).as("old_struct"),
      TextFunctions.sentimentScoreFull($"t", cfg).as("new_score"),
      sentimentScoreFull($"t", cfg).as("old_score"),
      // the raw counts, field for field, against their old columns
      struct(k.getField("pos_emoji"), k.getField("neg_emoji"),
        k.getField("pos_words"), k.getField("neg_words"),
        k.getField("exclamations"), k.getField("letters"),
        k.getField("uppers")).as("new_counts"),
      struct(totalHits($"t", cfg.posEmoji), totalHits($"t", cfg.negEmoji),
        totalHits(lower($"t"), cfg.posWords),
        totalHits(lower($"t"), cfg.negWords), exclamationCount($"t"),
        length(regexp_replace($"t", "[^a-zA-Z]", "")),
        length(regexp_replace($"t", "[^A-Z]", ""))).as("old_counts"))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty
      === codegen)
    val rows = df.collect()
    assert(rows.length === xs.length)
    rows.foreach { r =>
      val what = s"text #${r.getInt(0)} ${Option(r.getString(1))}"
      assert(bits(r.getStruct(2)) === bits(r.getStruct(3)), what)
      assert(r.get(4) === r.get(5), what)
      assert(bits(r.getStruct(6)) === bits(r.getStruct(7)), what)
    }
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "whole-stage codegen" else "interpreted"
    test(s"sentiment kernel equals the regexp_replace formulation: edge cases, $mode") {
      assertParity(edgeCases, TextFunctions.DefaultSentiment, codegen)
      assertParity(edgeCases, lowerPins, codegen)
    }
    test(s"sentiment kernel equals the regexp_replace formulation: seeded corpus, $mode") {
      assertParity(corpus, TextFunctions.DefaultSentiment, codegen)
      assertParity(corpus, lowerPins, codegen)
    }
  }

  test("edge cases count what the regexp formulation counts") {
    def counts(t: String, cfg: SentimentConfig) = {
      val k = graft.expressions.TextExpressions.sentimentCounts(lit(t),
        cfg.posEmoji, cfg.negEmoji, cfg.posWords, cfg.negWords)
      texts(Seq("")).select(k.as("k")).select("k.*").head().toSeq
    }
    val d = TextFunctions.DefaultSentiment
    // pos_emoji, neg_emoji, pos_words, neg_words, '!', letters, uppers
    assert(counts("!!!!!!!", d) === Seq(0, 0, 0, 0, 7, 0, 0))
    assert(counts("fastfast", d) === Seq(0, 0, 2, 0, 0, 8, 0))
    assert(counts("🚀🚀💎😢😢🚀", d) === Seq(4, 2, 0, 0, 0, 0, 0))
    // non-overlapping, left to right, each pattern on its own
    // 🚀 ×3, 🚀🚀 ×1, !! ×1 | 😢 ×0, ! ×3 | aa ×2 | a ×5
    assert(counts("🚀🚀🚀 aaaaa !!!", lowerPins) ===
      Seq(5, 3, 2, 5, 3, 5, 0))
    // word hits are on lower(): "İ" becomes "i" + U+0307, "ẞ" becomes "ß";
    // under the default ICU case mappings U+A7C0 becomes U+A7C1, which
    // the JDK's own toLowerCase leaves alone
    assert(counts("İẞ", lowerPins).slice(2, 4) === Seq(2, 0))
    assert(counts("\uA7C0\u1C89", lowerPins).slice(2, 4) === Seq(1, 1))
    val nul = texts(Seq(null)).select(
      TextFunctions.sentimentStruct($"t").as("s")).select("s.*").head()
    assert(nul.getString(0) === "neutral" && nul.getString(1) === "low")
    assert(nul.isNullAt(2) && nul.isNullAt(3) && nul.isNullAt(4))
  }
}
