package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM kernels behind the native text expressions. Kept in
  * one object with static forwarders so generated (Janino) code can
  * call them directly — each expression's `doGenCode` emits a plain
  * method call, keeping whole-stage codegen intact around the text
  * operators (a CodegenFallback would collapse the entire projection
  * to interpreted mode).
  */
object TextKernels {

  /** lowercase → split \s+ → drop empties. */
  def tokenize(input: UTF8String): ArrayData = {
    val toks = input.toString
      .toLowerCase(java.util.Locale.ROOT)
      .split("\\s+")
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    val arr = new Array[Any](n)
    var k = 0
    i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) { arr(k) = UTF8String.fromString(toks(i)); k += 1 }
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** Distinct space-joined word n-grams, first-occurrence order. */
  def wordShingles(input: UTF8String, n: Int): ArrayData = {
    val toks = input.toString
      .toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val arr = new Array[Any](seen.size)
      val it = seen.iterator
      var k = 0
      while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(arr)
    }
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(i * 2) = HEX((b(i) >> 4) & 0xf)
      out(i * 2 + 1) = HEX(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Element s = lexicographic min over shingles of md5(s + "|" + x). */
  def minhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[String](numHashes)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val sh = arr.getUTF8String(i).toString
      var s = 0
      while (s < numHashes) {
        md.reset()
        val h = hex(md.digest(
          (s.toString + "|" + sh)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        if (mins(s) == null || h.compareTo(mins(s)) < 0) mins(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(
      mins.map(m => if (m == null) null else UTF8String.fromString(m))
        .asInstanceOf[Array[Any]])
  }

  /** 64-char '0'/'1' SimHash fingerprint (md5 MSB-first bit votes). */
  def simhashBits(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        val byte = d(j >> 3) & 0xff
        val bit = (byte >> (7 - (j & 7))) & 1
        votes(j) += (if (bit == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    val out = new Array[Char](64)
    var j = 0
    while (j < 64) { out(j) = if (votes(j) > 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }

  /** Winnowed rolling-hash document fingerprint (the winnowing
    * algorithm of Schleimer/Wilkerson/Aiken, SIGMOD'03, used by MOSS):
    * Rabin-Karp polynomial hashes of every `w`-codepoint window
    * (base 131, mod 2^31-1 — both small enough that every intermediate
    * fits a 64-bit long in ANY engine, which is what makes the DuckDB
    * oracle possible), then the min of each run of `t` consecutive
    * window hashes, deduplicated and sorted ascending.
    *
    * Single O(n) pass: h' = ((h - c_out*B^(w-1))*B + c_in) mod M, with
    * the subtraction kept non-negative. Iterates by codepoint so
    * supplementary-plane characters hash as one unit (like DuckDB's
    * per-codepoint string indexing).
    *
    * Documents shorter than w codepoints, or with fewer than t
    * windows, have an empty sketch.
    */
  def winnowFingerprints(input: UTF8String, w: Int, t: Int): ArrayData = {
    val s = input.toString
    val n0 = s.codePointCount(0, s.length)
    if (n0 < w || n0 - w + 1 < t)
      return new GenericArrayData(Array.empty[Any])
    val cps = new Array[Long](n0)
    var i = 0
    var k = 0
    while (i < s.length) {
      val c = s.codePointAt(i)
      cps(k) = c.toLong
      k += 1
      i += Character.charCount(c)
    }
    val M = 2147483647L // 2^31 - 1
    val B = 131L
    var top = 1L // B^(w-1) mod M
    var j = 0
    while (j < w - 1) { top = top * B % M; j += 1 }
    val nw = n0 - w + 1
    val hs = new Array[Long](nw)
    var h = 0L
    j = 0
    while (j < w) { h = (h * B + cps(j)) % M; j += 1 }
    hs(0) = h
    i = 1
    while (i < nw) {
      h = ((h - cps(i - 1) * top % M + M) % M * B + cps(i + w - 1)) % M
      hs(i) = h
      i += 1
    }
    val set = new java.util.TreeSet[java.lang.Long]
    i = 0
    while (i + t <= nw) {
      var m = hs(i)
      var q = 1
      while (q < t) { if (hs(i + q) < m) m = hs(i + q); q += 1 }
      set.add(m)
      i += 1
    }
    val arr = new Array[Any](set.size)
    val it = set.iterator
    k = 0
    while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(arr)
  }

  private def shingleStrings(input: UTF8String, n: Int)
      : java.util.LinkedHashSet[String] = {
    val toks = input.toString
      .toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** Exact word-n-gram jaccard of two texts: |A∩B| / |A∪B| over the
    * distinct shingle sets ([[wordShingles]] semantics); 0.0 when the
    * union is empty — so for any threshold t > 0, texts too short to
    * shingle can never qualify (the invariant the inverted-index join
    * rewrite relies on). */
  def jaccardSim(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = shingleStrings(a, n)
    val sb = shingleStrings(b, n)
    if (sa.isEmpty && sb.isEmpty) 0.0
    else {
      var inter = 0
      val it = sa.iterator
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Overlap (containment) coefficient of two texts:
    * |A∩B| / min(|A|,|B|) over the distinct shingle sets — catches a
    * short document embedded in a long one, which jaccard dilutes.
    * 0.0 when either set is empty (same t > 0 invariant as
    * [[jaccardSim]]). */
  def overlapSim(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = shingleStrings(a, n)
    val sb = shingleStrings(b, n)
    if (sa.isEmpty || sb.isEmpty) 0.0
    else {
      var inter = 0
      val it = sa.iterator
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      inter.toDouble / math.min(sa.size, sb.size)
    }
  }

  /** Distinct xxhash64 keys (seed 42, matching Spark's `xxhash64`) of
    * a text's word-n-gram shingles — the fixed-width posting keys the
    * inverted-index join shuffles instead of shingle strings. Hash
    * collisions within a doc would shrink the set (and across docs
    * inflate `shared`); at 2^-64 per shingle pair this is the same
    * accepted risk as the q22 miner, and the set size here IS the
    * count the jaccard denominator uses, so the exec stays internally
    * consistent. */
  def shingleHashKeys(input: UTF8String, n: Int): Array[Long] = {
    val strings = shingleStrings(input, n)
    val keys = new java.util.TreeSet[java.lang.Long]
    val it = strings.iterator
    while (it.hasNext) {
      val u = UTF8String.fromString(it.next())
      keys.add(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    }
    val out = new Array[Long](keys.size)
    val kit = keys.iterator
    var k = 0
    while (kit.hasNext) { out(k) = kit.next().longValue(); k += 1 }
    out
  }

  /** Codepoint positions differing between two strings of equal
    * numChars. Iterates by codepoint, not UTF-16 unit: the caller's
    * guard compares numChars (codepoints), so supplementary-plane
    * input like '𝄞' vs 'x' has equal numChars but unequal java
    * lengths — a charAt loop would walk past the shorter string. */
  def hamming(l: UTF8String, r: UTF8String): Int = {
    val a = l.toString
    val b = r.toString
    var d = 0
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) d += 1
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    d
  }
}

/** Native Catalyst expressions for the hot text paths (SURVEY §7.3:
  * "custom Expression beats UDF beats anything else"). The pure-Column
  * HOF formulations (transform/filter/aggregate chains) are interpreted
  * AND inlined per consumer by Catalyst — measured ~8 ms/doc for
  * shingling at 460 tokens (39 s for 5 000 docs at sf0.1) vs ~µs/doc
  * here. Each expression generates a direct kernel call in whole-stage
  * codegen.
  */
case class Tokenize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize"

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.tokenize($c)")

  override protected def withNewChildInternal(c: Expression): Tokenize =
    copy(child = c)
}

/** Precompiled keyword lookup for [[TokenListStats]]: token →
  * indices of the keyword lists containing it. Built once per
  * expression instance (driver) and shipped as a codegen reference
  * object; the map keys are UTF8String so the per-token probe needs
  * no string conversion. */
final class TokenListLookup(lists: Seq[Seq[String]]) extends Serializable {
  private val nLists = lists.length
  // rebuilt lazily on each executor after deserialization
  @transient private lazy val map = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    lists.zipWithIndex.foreach { case (ws, i) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val cur = m.get(k)
        // a word repeated inside one list still counts once per token
        if (cur == null) m.put(k, Array(i))
        else if (cur.last != i) m.put(k, cur :+ i)
      }
    }
    m
  }

  /** One traversal: (token count, distinct-token count, per-list hit
    * counts with multiplicity) — exactly size(toks),
    * size(array_distinct(toks)) and
    * size(filter(toks, isInCollection(list))) per list. A null
    * element behaves as array_distinct/filter treat it: one distinct
    * value, member of no list. */
  def stats(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(8, n * 2))
    val hits = new Array[Int](nLists)
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      seen.add(t): Unit
      if (t != null) {
        val ls = map.get(t)
        if (ls != null) {
          var j = 0
          while (j < ls.length) { hits(ls(j)) += 1; j += 1 }
        }
      }
      i += 1
    }
    val hitsArr = new Array[Any](nLists)
    var k = 0
    while (k < nLists) { hitsArr(k) = hits(k); k += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, seen.size, new GenericArrayData(hitsArr)))
  }
}

/** Single-pass token-list statistics (round-12):
  * struct(n, n_distinct, hits) over one traversal of the token array —
  * the counts that quality scoring, language-ID and sentiment scoring
  * previously extracted with 7+ higher-order passes per row
  * (array_distinct + one size(filter(...)) PER keyword list, each
  * allocating an intermediate array). All scoring functions build the
  * SAME expression (same child, same canonical list-of-lists), so
  * whole-stage codegen's subexpression elimination evaluates it once
  * per row no matter how many scores a query asks for. */
case class TokenListStats(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "token_list_stats"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<string> input, got ${other.simpleString}")
    }

  @transient private lazy val lookup = new TokenListLookup(lists)

  override def nullSafeEval(input: Any): Any =
    lookup.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenListLookup", lookup,
      classOf[TokenListLookup].getName)
    defineCodeGen(ctx, ev, c => s"$ref.stats($c)")
  }

  override protected def withNewChildInternal(c: Expression): TokenListStats =
    copy(child = c)
}

/** Precompiled literal counters for [[SentimentCounts]]: each pattern
  * list as UTF-8 byte strings, plus the `lower()` settings of the
  * expression's input. Built once per expression instance and shipped
  * as a codegen reference object. */
final class SentimentKernel(posEmoji: Seq[String], negEmoji: Seq[String],
    posWords: Seq[String], negWords: Seq[String],
    collationId: Int, useIcu: Boolean) extends Serializable {
  private def utf8(ps: Seq[String]): Array[Array[Byte]] = {
    require(ps.forall(_.nonEmpty), "sentiment patterns must be non-empty")
    ps.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  }
  private val posE = utf8(posEmoji)
  private val negE = utf8(negEmoji)
  private val posW = utf8(posWords)
  private val negW = utf8(negWords)

  /** Non-overlapping left-to-right occurrences of `p` in `s`. On
    * valid UTF-8 a byte match of a whole encoded pattern starts and
    * ends on character boundaries, so this is the character count that
    * `(length(s) - length(regexp_replace(s, quote(p), ""))) / length(p)`
    * yields. */
  private def occurrences(s: UTF8String, p: Array[Byte]): Int = {
    val last = s.numBytes() - p.length
    var c = 0
    var i = 0
    while (i <= last) {
      var j = 0
      while (j < p.length && s.getByte(i + j) == p(j)) j += 1
      if (j == p.length) { c += 1; i += p.length } else i += 1
    }
    c
  }

  private def hits(s: UTF8String, ps: Array[Array[Byte]]): Int = {
    var c = 0
    var k = 0
    while (k < ps.length) { c += occurrences(s, ps(k)); k += 1 }
    c
  }

  /** struct(pos_emoji, neg_emoji, pos_words, neg_words, exclamations,
    * letters, uppers): emoji and `!` hits on `text`, word hits on
    * `lower(text)` (Spark's own lowercasing for the input's collation),
    * and the ASCII letters / uppercase ASCII letters of `text`. */
  def counts(text: UTF8String): InternalRow = {
    val lowered =
      CollationSupport.Lower.exec(text, collationId, useIcu)
    var excl = 0
    var letters = 0
    var uppers = 0
    var i = 0
    val n = text.numBytes()
    while (i < n) {
      val b = text.getByte(i)
      if (b == '!') excl += 1
      else if (b >= 'A' && b <= 'Z') { letters += 1; uppers += 1 }
      else if (b >= 'a' && b <= 'z') letters += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](hits(text, posE), hits(text, negE),
      hits(lowered, posW), hits(lowered, negW), excl, letters, uppers))
  }
}

/** The raw counts behind the reference's sentiment score
  * (job3_sentiment.py:154-243) in one pass per row: positive/negative
  * emoji hits, positive/negative keyword hits on the lowercased text,
  * `!` count, ASCII letter count and uppercase ASCII letter count.
  * Every count is of non-overlapping left-to-right literal occurrences
  * per pattern, summed over a list: on valid UTF-8 input, what the
  * earlier formulation computed with one `regexp_replace` length
  * difference per pattern. The lowercasing is `lower()`'s: the input's
  * collation and `spark.sql.icu.caseMappings.enabled`, read as `Lower`
  * reads it. Null text gives a null struct. */
case class SentimentCounts(child: Expression, posEmoji: Seq[String],
    negEmoji: Seq[String], posWords: Seq[String], negWords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    "pos_emoji", "neg_emoji", "pos_words", "neg_words", "exclamations",
    "letters", "uppers").map(StructField(_, IntegerType, nullable = false)))
  override def prettyName: String = "sentiment_counts"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string input, got ${other.simpleString}")
    }

  private lazy val useIcu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @transient private lazy val kernel = new SentimentKernel(
    posEmoji, negEmoji, posWords, negWords,
    child.dataType.asInstanceOf[StringType].collationId, useIcu)

  override def nullSafeEval(input: Any): Any =
    kernel.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sentimentKernel", kernel,
      classOf[SentimentKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.counts($c)")
  }

  override protected def withNewChildInternal(c: Expression): SentimentCounts =
    copy(child = c)
}

/** Distinct word n-gram shingles — semantics of
  * `array_distinct(shingles(tokens(text), n))`. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** Exact word-n-gram jaccard similarity of two text columns —
  * `|A∩B| / |A∪B|` over [[WordShingles]] sets, 0.0 on an empty union.
  * The naive-SQL predicate `jaccard_sim(a.text, b.text, n) >= t` in a
  * join condition is what [[graft.plans.JaccardJoinRewrite]] rewrites
  * onto the inverted-index join; this expression is both the user
  * surface and the semantic ground truth that rewrite must preserve. */
case class JaccardSim(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.jaccardSim(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.TextKernels.jaccardSim($a, $b, $n)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaccardSim = copy(left = l, right = r)
}

/** Overlap (containment) coefficient of two text columns —
  * `|A∩B| / min(|A|,|B|)` over [[WordShingles]] sets, 0.0 when either
  * set is empty. The join-condition form rewrites onto the same
  * inverted-index exec as [[JaccardSim]]
  * ([[graft.plans.JaccardJoinRewrite]], Overlap metric). */
case class OverlapSim(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "overlap_sim"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.overlapSim(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.TextKernels.overlapSim($a, $b, $n)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): OverlapSim = copy(left = l, right = r)
}

/** One-pass portable MinHash signature (lex-min md5 per seed). */
case class MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.minhashSig($c, $numHashes)")

  override protected def withNewChildInternal(c: Expression): MinhashSig =
    copy(child = c)
}

/** SimHash-64 over a token array as a portable '0'/'1' bit string. */
case class SimHashBits(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(input: Any): Any =
    TextKernels.simhashBits(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.simhashBits($c)")

  override protected def withNewChildInternal(c: Expression): SimHashBits =
    copy(child = c)
}

/** Winnowed rolling-hash fingerprint sketch of a text column —
  * sorted distinct array<long>. See [[TextKernels.winnowFingerprints]]. */
case class WinnowFingerprints(child: Expression, w: Int, t: Int)
    extends UnaryExpression {
  require(w >= 2, "rolling window must be >= 2 codepoints")
  require(t >= 1, "winnow window must be >= 1 hashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnowFingerprints(input.asInstanceOf[UTF8String], w, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.winnowFingerprints($c, $w, $t)")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** Hamming distance between two equal-length strings (bit strings in
  * the SimHash pipeline); null when lengths differ. */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_dist"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String]
    val b = r.asInstanceOf[UTF8String]
    if (a.numChars() != b.numChars()) null
    else java.lang.Integer.valueOf(TextKernels.hamming(a, b))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numChars() != $b.numChars()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.expressions.TextKernels.hamming($a, $b);
      }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDist =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  /** Distinct word n-gram shingles of a text column (native). */
  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  /** Whitespace tokens of a text column (native). */
  def tokenize(text: Column): Column =
    ColumnBridge.column(Tokenize(ColumnBridge.expression(text)))

  /** Exact word-n-gram jaccard of two text columns (native). */
  def jaccardSim(a: Column, b: Column, n: Int): Column =
    ColumnBridge.column(JaccardSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b), n))

  /** Overlap (containment) coefficient of two text columns (native). */
  def overlapSim(a: Column, b: Column, n: Int): Column =
    ColumnBridge.column(OverlapSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b), n))

  /** Portable MinHash signature of a shingle-array column (native). */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(shingles), numHashes))

  /** Hamming distance between two bit-string columns (native). */
  def hammingDist(a: Column, b: Column): Column =
    ColumnBridge.column(HammingDist(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** SimHash-64 bit string of a token-array column (native). */
  def simhashBits(tokens: Column): Column =
    ColumnBridge.column(SimHashBits(ColumnBridge.expression(tokens)))

  /** Single-pass struct(n, n_distinct, hits) over a token-array
    * column for the given keyword lists (native). */
  def tokenListStats(tokens: Column, lists: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenListStats(ColumnBridge.expression(tokens), lists))

  /** Single-pass sentiment counts of a text column (native); see
    * [[SentimentCounts]]. */
  def sentimentCounts(text: Column, posEmoji: Seq[String],
      negEmoji: Seq[String], posWords: Seq[String],
      negWords: Seq[String]): Column =
    ColumnBridge.column(SentimentCounts(ColumnBridge.expression(text),
      posEmoji, negEmoji, posWords, negWords))

  /** Winnowed rolling-hash fingerprint sketch (native). */
  def winnowFingerprints(text: Column, w: Int, t: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), w, t))
}
