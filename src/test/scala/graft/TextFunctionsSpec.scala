package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def evalTokens(s: String): Seq[String] =
    Seq(s).toDF("text").select(tokens($"text")).as[Seq[String]].head()

  test("tokens: lowercase, whitespace split, empties dropped") {
    assert(evalTokens("The  Fast\tkey ") === Seq("the", "fast", "key"))
    assert(evalTokens("") === Seq.empty)
    assert(evalTokens("   ") === Seq.empty)
    assert(evalTokens("one") === Seq("one"))
  }

  test("bpeTokens: space-glued runs, punctuation runs, whitespace runs") {
    def toks(s: String): Seq[String] =
      Seq(s).toDF("text").select(bpeTokens($"text")).as[Seq[String]].head()
    assert(toks("Hello world") === Seq("Hello", " world"))
    assert(toks("a1b") === Seq("a", "1", "b"))
    assert(toks("don't stop") === Seq("don", "'", "t", " stop"))
    assert(toks("x  y") === Seq("x", "  ", "y")) // double space: one greedy ws run
    assert(toks("42!!") === Seq("42", "!!"))
    assert(toks("") === Seq.empty)
  }

  test("native tokenize matches the Column HOF formulation") {
    val texts = Seq("The  Fast\tkey ", "", " a  b c ", "x", "A a A b",
      "multi   space\t\ttabs").toDF("text")
    val native = texts.select(tokens($"text").as("t"))
    val hof = texts.select(
      filter(split(lower(trim($"text")), "\\s+"), t => length(t) > 0).as("t"))
    assert(native.as[Seq[String]].collect().toSeq ===
      hof.as[Seq[String]].collect().toSeq)
  }

  test("native wordShingles matches distinct HOF shingles") {
    val texts = Seq("a b c d e", "a b", "a b c", "x x x x",
      "The quick brown fox jumps").toDF("text")
    val native = texts.select(
      graft.expressions.TextExpressions.wordShingles($"text", 3).as("s"))
    val hof = texts.select(
      array_distinct(shingles(tokens($"text"), 3)).as("s"))
    assert(native.as[Seq[String]].collect().toSeq ===
      hof.as[Seq[String]].collect().toSeq)
  }

  test("shingles: fewer tokens than n gives empty array") {
    val out = Seq("a b").toDF("text")
      .select(graft.expressions.TextExpressions.wordShingles($"text", 3))
      .as[Seq[String]].head()
    assert(out === Seq.empty)
  }

  test("sentiment ladder: positives checked first, order matters") {
    def classify(score: Int): String =
      Seq(score).toDF("s").select(sentimentType($"s")).as[String].head()
    assert(classify(4) === "strong_positive")
    assert(classify(2) === "positive")
    assert(classify(0) === "neutral")
    assert(classify(-2) === "negative")
    assert(classify(-4) === "strong_negative")
  }

  test("sentiment score: +2 per positive hit, -2 per negative hit") {
    val score = Seq("fast big slow nothing").toDF("text")
      .select(sentimentScore(tokens($"text"))).as[Int].head()
    assert(score === 2) // 2 pos * 2 - 1 neg * 2
  }

  test("langGuess: argmax with earlier-profile tie-break; unknown on no hits") {
    def guess(s: String): String =
      Seq(s).toDF("text").select(langGuess(tokens($"text"))).as[String].head()
    assert(guess("the a fast") === "en")
    assert(guess("key order table") === "es")
    assert(guess("zzz qqq") === "unknown")
    // one hit each for en ("the") and es ("key") → tie → earlier profile
    assert(guess("the key") === "en")
  }

  test("fingerprint: whitespace-insensitive, case-insensitive") {
    val fps = Seq("The fast  key", "the FAST key", "the fast key!")
      .toDF("text").select(fingerprint($"text")).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("qualityScore: in [0,1], empty doc scores stopword-free baseline") {
    val qs = Seq("the the the the", "alpha beta gamma delta", "")
      .toDF("text").select(qualityScore(tokens($"text"))).as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    assert(qs(1) > qs(0)) // diverse non-stopword text scores higher
  }

  test("hamming_dist: codepoint-safe on supplementary-plane input") {
    import graft.expressions.TextExpressions.hammingDist
    // '𝄞' is outside the BMP: numChars 1 but java length 2 — a
    // UTF-16-unit loop would walk past 'x' and throw at runtime
    val out = Seq(("𝄞", "x"), ("𝄞a", "𝄞b"), ("ab", "ab"), ("abc", "ab"))
      .toDF("a", "b")
      .select(hammingDist($"a", $"b").as("d"))
      .collect()
    assert(out(0).getInt(0) === 1)
    assert(out(1).getInt(0) === 1)
    assert(out(2).getInt(0) === 0)
    assert(out(3).isNullAt(0)) // unequal codepoint lengths → null
  }
  test("redactPii: emails, urls, long digit runs; shorter spans kept") {
    val out = Seq(
      "mail me at jo.an+x@ex-1.example.com today",
      "docs at https://docs.example.org/a_b/c-d and more",
      "card 12345678 pin 12345 ok",
      "plain text with no pii at all"
    ).toDF("text").select(redactPii($"text")).as[String].collect()
    assert(out(0) === "mail me at <EMAIL> today")
    assert(out(1) === "docs at <URL> and more")
    assert(out(2) === "card <NUM> pin 12345 ok") // 5 digits kept
    assert(out(3) === "plain text with no pii at all")
  }
  // ---- JaroWinkler (StringSimExpressions) ----

  test("jaroWinkler: classic reference values and DuckDB-parity edges") {
    import graft.expressions.StringSimExpressions.jaroWinkler
    val pairs = Seq(
      ("martha", "marhta"), ("dixon", "dicksonx"),
      ("jellyfish", "smellyfish"), ("duane", "dwayne"),
      ("crate", "trace"), ("abc", "abc"), ("", "abc"), ("", ""),
      ("ab", "ax"), // jaro 2/3 < 0.7: boost must NOT fire
      ("hash join small", "hash join smal")
    ).toDF("a", "b")
    val got = pairs.select($"a", $"b", jaroWinkler($"a", $"b").as("jw"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    // pinned against DuckDB jaro_winkler_similarity (exact doubles)
    assert(got(("martha", "marhta")) === 0.9611111111111111)
    assert(got(("dixon", "dicksonx")) === 0.8133333333333332)
    assert(got(("jellyfish", "smellyfish")) === 0.8962962962962964)
    assert(got(("duane", "dwayne")) === 0.8400000000000001)
    assert(got(("crate", "trace")) === 0.7333333333333334)
    assert(got(("abc", "abc")) === 1.0)
    assert(got(("", "abc")) === 0.0)
    assert(got(("", "")) === 0.0) // DuckDB: empty-empty is 0, not 1
    assert(got(("ab", "ax")) === 0.6666666666666666)
    assert(got(("hash join small", "hash join smal")) === 0.9866666666666667)
  }

  test("jaroWinkler: stays inside whole-stage codegen") {
    import graft.expressions.StringSimExpressions.jaroWinkler
    // a range source so the projection cannot constant-fold into a
    // LocalTableScan — the expression must ride inside the codegen span
    val df = spark.range(0, 2)
      .selectExpr("'martha' AS a", "concat('marhta', repeat('x', cast(id as int))) AS b")
      .select(jaroWinkler($"a", $"b").as("jw"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(1)` star marks the projection inside a WholeStageCodegen
    // span (a CodegenFallback expression would strip it)
    assert(plan.contains("*(1) Project [jaro_winkler"), plan)
    assert(df.orderBy($"jw".desc).collect()(0).getDouble(0)
      === 0.9611111111111111)
  }

  test("jaro_winkler is callable from pure SQL on a graft session") {
    val r = spark.sql(
      "SELECT jaro_winkler('dixon', 'dicksonx') AS jw").collect()
    assert(r(0).getDouble(0) === 0.8133333333333332)
  }
}
