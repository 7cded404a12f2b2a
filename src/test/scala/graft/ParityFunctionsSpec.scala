package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/** Reference-parity semantics (SURVEY §7.5 #3-#4, §2.10): the
  * stringified-list parser bug-for-bug, codepoint-correct emoji strip,
  * and the full sentiment scoring/ladder. */
class ParityFunctionsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def parse(s: String): Seq[String] =
    Seq(Option(s)).toDF("h")
      .select(parsePseudoList($"h")).as[Seq[String]].head()

  test("pseudo-list parser: normal, empty, null, quirks preserved") {
    assert(parse("['BTC', 'moon']") === Seq("BTC", "moon"))
    assert(parse("['solo']") === Seq("solo"))
    assert(parse("[]") === Seq.empty)
    assert(parse("") === Seq.empty)
    assert(parse(null) === Seq.empty)
    // reference quirk: strip-then-split breaks embedded ", "
    assert(parse("['a, b']") === Seq("a", "b"))
    // reference quirk: quotes/brackets stripped anywhere
    assert(parse("['it's']") === Seq("its"))
  }

  test("emoji strip: supplementary-plane codepoints removed, text kept") {
    val out = Seq("📍 Lima, Peru 🚀", "plain text").toDF("t")
      .select(stripEmoji($"t")).as[String].collect()
    assert(out(0) === " Lima, Peru ")
    assert(out(1) === "plain text")
  }

  private def score(s: String): Int =
    Seq(s).toDF("t").select(sentimentScoreFull($"t")).as[Int].head()
  private def stype(s: String): String =
    Seq(s).toDF("t").select(sentimentStruct($"t").getField("sentiment_type"))
      .as[String].head()

  test("sentiment scoring: emoji ±2, keywords ±1, burst penalties") {
    assert(score("to the moon 🚀") === 2)       // one pos emoji
    assert(score("fast 🚀") === 3)              // emoji +2, keyword +1
    assert(score("slow bear 😢") === -3)        // neg emoji -2, keyword -1
    assert(score("wow!!!!") === -3)             // >3 '!' burst
    assert(score("THIS IS SHOUTING") === -2)    // caps burst
    assert(score("neutral words only") === 0)
  }

  test("sentiment ladder: positives checked first (order dependency)") {
    // both strong signals present -> positive wins, as in the reference
    assert(stype("🚀🚀 😢😢") === "strong_positive")
    assert(stype("🚀 fast") === "positive")      // score 3
    assert(stype("😢😢") === "strong_negative")
    assert(stype("slow") === "negative")
    assert(stype("nothing here") === "neutral")
  }

  test("pseudo-list parser round-trips arbitrary simple-token lists (property)") {
    import org.scalacheck.Gen
    val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val lists = Gen.listOfN(40, Gen.listOf(token))
    val sample = lists.sample.getOrElse(List(List("BTC")))
    val formatted = sample.map { l =>
      if (l.isEmpty) "[]" else l.map(t => s"'$t'").mkString("[", ", ", "]")
    }
    val parsed = formatted.toDF("h")
      .select(parsePseudoList($"h")).as[Seq[String]].collect().toList
    assert(parsed === sample.map(_.toSeq))
  }

  test("sentiment struct carries the reference's output contract") {
    val r = Seq("🚀🚀 fast").toDF("t").select(sentimentStruct($"t").as("s"))
      .select("s.*").head()
    assert(r.getString(0) === "strong_positive")
    assert(r.getString(1) === "high")
    assert(r.getFloat(2) === 5.0f)
    assert(r.getInt(3) === 2 && r.getInt(4) === 0)
  }

  // ---- the two DIVERGENT location cleaners (SURVEY §5.5 #6) ----

  import graft.functions.TweetFunctions._

  private def cleanS(s: String): Option[String] =
    Seq(Option(s)).toDF("l")
      .select(cleanLocationStreaming($"l")).as[Option[String]].head()
  private def cleanB(s: String): Option[String] =
    Seq(Option(s)).toDF("l")
      .select(cleanLocationBatch($"l")).as[Option[String]].head()

  test("streaming cleaner: upper-case, blacklist-20, http/www/# guards, len>2") {
    assert(cleanS("📍 Lima, Peru") === Some("LIMA, PERU"))
    assert(cleanS("moon") === None)          // upper-cases onto blacklist
    assert(cleanS("WORLDWIDE") === None)     // blacklist exact hit
    assert(cleanS("NY") === None)            // len 2 not > 2
    assert(cleanS("Rio") === Some("RIO"))    // len 3 kept (diverges: batch drops)
    assert(cleanS("http://x.co") === None)   // HTTP guard after upper
    assert(cleanS("#crypto") === None)       // '#' prefix
    assert(cleanS("Unknown") === None)
    assert(cleanS(null) === None)
    // blacklist is EXACT equality — a superstring survives streaming
    assert(cleanS("Wallet City") === Some("WALLET CITY"))
  }

  test("batch cleaner: lower-case, keyword substrings, 3<len<100, shape guards") {
    // batch trims BEFORE stripping emoji (opposite of streaming), so a
    // leading emoji leaves its separator space — reference-faithful
    assert(cleanB("📍 Lima, Peru") === Some(" lima, peru"))
    assert(cleanB("Rio") === None)           // len 3 not > 3 (diverges: streaming keeps)
    assert(cleanB("Wallet City") === None)   // 'wallet' substring (diverges)
    assert(cleanB("moon base") === None)     // keyword substring
    assert(cleanB("2021-01-01 somewhere") === None) // date shape
    assert(cleanB("12345") === None)         // all digits
    assert(cleanB("[object]") === None)      // '[' prefix
    assert(cleanB("Lima, Peru") === Some("lima, peru"))
    // divergent emoji sets: 🗺️ is stripped by streaming, NOT by batch
    assert(cleanS("🗺️ Lima") === Some("LIMA"))
    assert(cleanB("🗺️ Lima").exists(_ != "lima"))
  }

  test("spam flags + composite 0-3 score + high-risk (job4_spam.py:81-199)") {
    def sc(s: String): Int =
      Seq(s).toDF("t").select(spamScore($"t")).as[Int].head()
    assert(sc("totally normal words about the weather today ok") === 0)
    assert(sc("FREE airdrop!") === 2)       // keyword (case-insensitive) + short
    assert(sc("see https://x.co") === 2)    // url + short
    assert(sc("Join the giveaway now at https://x.co right here") === 2) // url + keyword
    assert(sc("win https://x.co") === 3)    // all three flags
    val wc = Seq("a  b", "one two three four five six").toDF("t")
      .select(spamWordCount($"t")).as[Int].collect()
    assert(wc(0) === 2 && wc(1) === 6)
  }

  test("device ladder: bot regex wins over platform buckets (job2_historico.py:145-158)") {
    def cat(s: String): String =
      Seq(s).toDF("s").select(deviceCategory($"s")).as[String].head()
    assert(cat("Twitter Web App") === "PC Web Browser")
    assert(cat("Twitter for Android") === "Android")
    assert(cat("Twitter for iPhone") === "Apple iOS Mac")
    assert(cat("Twitter for iPad") === "Apple iOS Mac")
    assert(cat("IFTTT") === "Bots y Automatizacion")
    assert(cat("my crypto feed") === "Bots y Automatizacion") // 'feed' substring
    assert(cat("RoBot Web App") === "Bots y Automatizacion")  // bot before platform
    assert(cat("dlvrXit") === "Bots y Automatizacion") // unescaped '.' wildcard, as in ref
    assert(cat("something else") === "Otras Apps")
  }

  test("mention extraction: reference regex, @ stripped, underscores kept") {
    val out = Seq("hi @alice and @bob_99! not-an@ mention @C3PO")
      .toDF("t").select(extractMentions($"t")).as[Seq[String]].head()
    // '@' followed by space matches nothing; group 1 strips the '@'
    assert(out === Seq("alice", "bob_99", "C3PO"))
  }
}
