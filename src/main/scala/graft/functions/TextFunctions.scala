package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-Column text primitives (no UDFs — everything stays inside
  * whole-stage codegen; see SURVEY §2.9/§2.10 and §7.3).
  *
  * Re-expresses the reference's text surface Spark-first:
  *  - tokenization / word counts (reference: `split`, `size` —
  *    `streaming/job2.py:155`, `batch/job4_spam.py:99-101`)
  *  - keyword-list hit counting + priority ladder (the sentiment UDF,
  *    `streaming/job3_sentiment.py:154-243`, rebuilt as native columns)
  *  - quality scoring / language-ID / fingerprinting (training-data
  *    pipeline extensions, SURVEY §7.4)
  *
  * All functions are deterministic and have 1:1 ANSI-SQL oracles.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. Empty string → empty array.
    * Backed by the native single-pass [[graft.expressions.Tokenize]];
    * semantically `filter(split(lower(trim(text)), "\s+"), length > 0)`. */
  def tokens(text: Column): Column =
    graft.expressions.TextExpressions.tokenize(text)

  def wordCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern, restricted to the lookahead-free
    * subset so the SAME pattern runs identically under java.util.regex
    * (Spark) and RE2 (DuckDB oracle): an optional leading space glued to
    * a letter run / digit run / punctuation run, else a whitespace run.
    * Token counts from this pattern approximate BPE token costs (each
    * match is one-or-more BPE tokens; the match count is the standard
    * lower-bound proxy used for corpus cost estimation). */
  val BpeTokenPattern: String = """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"""

  /** BPE-ish token pieces of raw text (pre-tokenizer matches). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenPattern), lit(0))

  /** BPE-ish token count — the corpus-cost proxy. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  // ---- shared single-pass stats (round-12) ----
  // The scoring functions below (quality / language-ID / sentiment)
  // each needed 1-5 keyword-hit scans plus an array_distinct — 7+
  // traversals and allocations per row when a query asks for several
  // scores. They now all read ONE canonical
  // [[graft.expressions.TokenListStats]] expression (same child, same
  // list-of-lists), so whole-stage codegen's subexpression elimination
  // computes the counts once per row; the arithmetic on top keeps the
  // EXACT column shapes of the original definitions (same casts, same
  // operation order), so every output bit matches the previous
  // formulation and the unchanged oracle SQL.
  // lazy: Stopwords/LangProfiles are defined further down this object
  // and object vals initialize top-to-bottom
  private[graft] lazy val StatsLists: Seq[Seq[String]] =
    Seq(Stopwords, PosWords, NegWords) ++ LangProfiles.map(_._2)
  private val StopIdx = 0
  private val PosIdx = 1
  private val NegIdx = 2
  private val LangIdx0 = 3

  private def stats(toks: Column): Column =
    graft.expressions.TextExpressions.tokenListStats(toks, StatsLists)
  private def statN(toks: Column): Column = stats(toks).getField("n")
  private def statHits(toks: Column, i: Int): Column =
    stats(toks).getField("hits").getItem(i)

  // Keyword lists for the sentiment ladder over the synthetic corpus
  // (role of the pos/neg emoji+keyword lists, job3_sentiment.py:46-57).
  val PosWords: Seq[String] = Seq("fast", "big", "spark")
  val NegWords: Seq[String] = Seq("slow", "small", "dup")

  /** Sentiment score: +2 per positive hit, -2 per negative hit
    * (reference scoring shape, job3_sentiment.py:191-201). */
  def sentimentScore(toks: Column): Column =
    (statHits(toks, PosIdx) * 2 - statHits(toks, NegIdx) * 2)
      .cast("int")

  /** Priority ladder — positives checked first, order matters
    * (job3_sentiment.py:209-230). */
  def sentimentType(score: Column): Column =
    when(score >= 4, "strong_positive")
      .when(score > 0, "positive")
      .when(score <= -4, "strong_negative")
      .when(score < 0, "negative")
      .otherwise("neutral")

  // ---- quality / language-ID (training-data extensions) ----

  val Stopwords: Seq[String] = Seq("the", "a")

  /** Share of tokens that are stopwords, in [0,1]; 0 for empty docs. */
  def stopwordRatio(toks: Column): Column =
    when(statN(toks) === 0, lit(0.0))
      .otherwise(statHits(toks, StopIdx).cast("double") / statN(toks))

  /** Share of distinct tokens (lexical diversity). */
  def uniqueRatio(toks: Column): Column =
    when(statN(toks) === 0, lit(0.0))
      .otherwise(
        stats(toks).getField("n_distinct").cast("double") / statN(toks))

  /** Composite quality score in [0,1]: rewards diversity and length,
    * penalizes stopword stuffing. Deterministic, SQL-expressible. */
  def qualityScore(toks: Column): Column =
    round(
      uniqueRatio(toks) * 0.5
        + (lit(1.0) - stopwordRatio(toks)) * 0.3
        + least(statN(toks).cast("double") / 100.0, lit(1.0)) * 0.2,
      4)

  /** N-gram language-ID heuristic: score each language profile by
    * marker-token hits; argmax wins, ties broken by profile order.
    * Profiles are deterministic marker lists (stand-in for character
    * n-gram profiles; same plan shape at scale). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("key", "order", "table"),
    "de" -> Seq("scan", "merge", "part"),
    "fr" -> Seq("window", "small", "hash"),
    "zh" -> Seq("join", "batch", "stream"))

  def langGuess(toks: Column): Column = {
    // struct(score, priority) argmax via greatest(): higher score wins,
    // earlier profile wins ties (priority encoded descending).
    val scored = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        statHits(toks, LangIdx0 + i).as("score"),
        lit(LangProfiles.size - i).as("prio"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") === 0, "unknown")
      .otherwise(best.getField("lang"))
  }

  // ---- reference-parity parsers (SURVEY §7.5 #3-#4) ----

  /** Parse the reference's stringified-Python-list format
    * (`"['BTC', 'moon']"`) into an array, bug-for-bug with
    * `regexp_replace(col, "[\[\]']", "")` + `split(", ")`
    * (streaming/job2.py:149-155), including its quirks: an element
    * containing `", "` splits in two, embedded quotes/brackets are
    * stripped anywhere, `"[]"`/`""`/null → no elements. The reference
    * guards empties with `hashtags != '[]' and hashtags != ''`
    * (job2.py:146-148); here the guard is fused as a filter on the
    * parsed array. */
  def parsePseudoList(c: Column): Column =
    when(c.isNull || c === "" || c === "[]", array())
      .otherwise(
        filter(split(regexp_replace(c, "[\\[\\]']", ""), ", "),
          t => length(t) > 0))

  /** Emoji / non-ASCII symbol stripping, codepoint-correct: the
    * reference deletes emoji ranges before matching locations
    * (job4_locationsreal_time.py:141, job1_locations.py:80). Java
    * regex works on UTF-16, so supplementary-plane emoji are matched
    * via surrogate-aware codepoint classes rather than raw `[U+1F300-
    * U+1FAFF]` char classes — `\x{...}` escapes handle pairs correctly. */
  def stripEmoji(c: Column): Column =
    regexp_replace(c,
      "[\\x{1F000}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{FE0F}\\x{200D}]", "")

  // ---- full-parity sentiment (reference SQ10, job3_sentiment.py:154-243) ----

  /** Scoring weights mirror the reference: +2 per positive emoji, -2
    * per negative emoji, +1/-1 per keyword hit, -3 for an exclamation
    * burst (>3 '!'), -2 for a caps burst (>50% uppercase letters in a
    * text with ≥5 letters). */
  final case class SentimentConfig(
      posEmoji: Seq[String], negEmoji: Seq[String],
      posWords: Seq[String], negWords: Seq[String])

  val DefaultSentiment: SentimentConfig = SentimentConfig(
    posEmoji = Seq("🚀", "😀", "🎉", "💎", "📈"),
    negEmoji = Seq("😢", "💀", "📉", "😡", "🐻"),
    posWords = PosWords, negWords = NegWords)

  /** The raw counts the score is built from, in one native pass per row
    * ([[graft.expressions.SentimentCounts]]): emoji hits, keyword hits
    * on the lowercased text (substring containment, not token-bound —
    * the reference's test, job3_sentiment.py:188-189), `!` count and
    * ASCII letter / uppercase counts. `sentimentScoreFull` and
    * `sentimentStruct` build the SAME expression, so subexpression
    * elimination evaluates it once per row. */
  private def sentimentCounts(text: Column, cfg: SentimentConfig): Column =
    graft.expressions.TextExpressions.sentimentCounts(text,
      cfg.posEmoji, cfg.negEmoji, cfg.posWords, cfg.negWords)

  /** Full reference-parity sentiment score (see weights above). */
  def sentimentScoreFull(text: Column,
      cfg: SentimentConfig = DefaultSentiment): Column = {
    val k = sentimentCounts(text, cfg)
    val exclPenalty = when(k.getField("exclamations") > 3, -3).otherwise(0)
    val letters = k.getField("letters")
    val capsRatio = when(letters === 0, lit(0.0))
      .otherwise(k.getField("uppers").cast("double") / letters)
    val capsPenalty =
      when(letters >= 5 && capsRatio > 0.5, -2).otherwise(0)
    (k.getField("pos_emoji") * 2 - k.getField("neg_emoji") * 2
      + k.getField("pos_words") - k.getField("neg_words")
      + exclPenalty + capsPenalty).cast("int")
  }

  /** The reference's 5-way priority ladder WITH its order dependency:
    * positives are checked before negatives, so a text carrying both
    * strong signals classifies positive (job3_sentiment.py:209-230). */
  def sentimentTypeFull(score: Column, posEmojiCount: Column,
      negEmojiCount: Column): Column =
    when(score >= 4 || posEmojiCount >= 2, "strong_positive")
      .when(score > 0, "positive")
      .when(score <= -4 || negEmojiCount >= 2, "strong_negative")
      .when(score < 0, "negative")
      .otherwise("neutral")

  /** Per-emoji-list counts exposed for the ladder + output contract
    * (the reference returns a 6-field struct, job3_sentiment.py:234-241). */
  def sentimentStruct(text: Column,
      cfg: SentimentConfig = DefaultSentiment): Column = {
    val posE = sentimentCounts(text, cfg).getField("pos_emoji")
    val negE = sentimentCounts(text, cfg).getField("neg_emoji")
    val score = sentimentScoreFull(text, cfg)
    val stype = sentimentTypeFull(score, posE, negE)
    struct(
      stype.as("sentiment_type"),
      when(stype.isin("strong_positive", "strong_negative"), "high")
        .when(stype.isin("positive", "negative"), "medium")
        .otherwise("low").as("alert_priority"),
      score.cast("float").as("score"),
      posE.as("pos_emoji_count"),
      negE.as("neg_emoji_count"))
  }

  // ---- shingling / fingerprinting (dedup building blocks) ----

  /** Word n-gram shingles (space-joined), e.g. n=3. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array())
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Normalized document fingerprint: md5 over the canonical
    * (lowercased, whitespace-collapsed) token stream. Portable across
    * engines — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  // ---- PII-style redaction (training-data scrubbing) ----

  /** Redaction patterns, shared with the oracle SQL. Written in the
    * java.util.regex ∩ RE2 subset (explicit char classes, no
    * lookaround, no `\b`/`\S` shorthands whose semantics drift between
    * engines). Order matters: emails are redacted before URLs before
    * digit runs, so a pattern never matches inside an earlier
    * placeholder. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val UrlPattern: String = "https?://[A-Za-z0-9./_-]+"
  val LongDigitPattern: String = "[0-9][0-9][0-9][0-9][0-9][0-9]+"

  /** Scrub PII-shaped spans from text: emails → `<EMAIL>`, URLs →
    * `<URL>`, 6+-digit runs (phone/account numbers) → `<NUM>`. Pure
    * codegen'd Column algebra — at 100 TB this is a map-only pass with
    * no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      LongDigitPattern, "<NUM>")
}
