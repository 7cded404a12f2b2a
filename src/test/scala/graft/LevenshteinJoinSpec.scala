package graft

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{BoundLevenshteinRule, LevenshteinJoinKernels, LevenshteinJoinRewrite, LevenshteinJoinStrategy}

/** The edit-distance-threshold join extension: naive SQL/DataFrame
  * join predicates on levenshtein rewrite onto the exact
  * segment-pigeonhole exec (PassJoin-shaped blocking + banded-DP
  * verify). */
class LevenshteinJoinSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** Reference codepoint Levenshtein — the classic full DP, written
    * independently of both Spark's kernel and the exec. */
  private def refLev(a: String, b: String): Int = {
    val x = LevenshteinJoinKernels.codePoints(a)
    val y = LevenshteinJoinKernels.codePoints(b)
    val dp = Array.tabulate(x.length + 1)(i => i)
    for (j <- 1 to y.length) {
      var prev = dp(0)
      dp(0) = j
      for (i <- 1 to x.length) {
        val t = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
        prev = t
      }
    }
    dp(x.length)
  }

  private val words = Seq(
    (1L, "spark"), (2L, "sparks"), (3L, "shark"), (4L, "stark"),
    (5L, "sort"), (6L, "part"), (7L, "porte"), (8L, "window"),
    (9L, "windows"), (10L, "widow"), (11L, "a"), (12L, ""), (13L, "ab"))

  private def side(idCol: String, textCol: String): DataFrame =
    words.toDF(idCol, textCol)

  private def expected(k: Int): Set[(Long, Long)] =
    (for {
      (ia, ta) <- words; (ib, tb) <- words
      if ia < ib && refLev(ta, tb) <= k
    } yield (ia, ib)).toSet

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq

  private def hasExec(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("LevenshteinSegmentJoin")

  private def hasNaiveShape(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
  }

  test("naive SQL levenshtein join rewrites to the segment exec and " +
      "matches the reference DP") {
    side("id_a", "text_a").createOrReplaceTempView("lv_a")
    side("id_b", "text_b").createOrReplaceTempView("lv_b")
    val out = spark.sql(
      """SELECT id_a, id_b FROM lv_a JOIN lv_b
        |ON levenshtein(text_a, text_b) <= 2 AND id_a < id_b""".stripMargin)
    assert(hasExec(out), "rewrite must fire on the SQL join condition")
    assert(!hasNaiveShape(out), "the O(n·m) BNLJ/cartesian shape must be gone")
    val got = pairs(out)
    assert(got.toSet === expected(2))
    assert(got.size === got.toSet.size, "no duplicate pair emissions")
    assert(got.forall { case (a, b) => a < b },
      "residual conjunct must survive as a filter")
  }

  test("all predicate spellings rewrite: flipped literal, strict <, " +
      "and the banded form BoundLevenshteinRule produces") {
    side("id_a", "text_a").createOrReplaceTempView("lv_a")
    side("id_b", "text_b").createOrReplaceTempView("lv_b")
    val forms = Seq(
      "levenshtein(text_a, text_b) <= 2",
      "2 >= levenshtein(text_a, text_b)",
      "levenshtein(text_a, text_b) < 3",
      "3 > levenshtein(text_a, text_b)",
      "levenshtein(text_a, text_b, 2) >= 0")
    for (f <- forms) {
      val out = spark.sql(
        s"""SELECT id_a, id_b FROM lv_a JOIN lv_b
           |ON $f AND id_a < id_b""".stripMargin)
      assert(hasExec(out), s"form '$f' must rewrite")
      assert(pairs(out).toSet === expected(2), s"form '$f' wrong result")
    }
  }

  test("composes with BoundLevenshteinRule in either order: the banded " +
      "rewrite firing first must not hide the join from this rule") {
    // BoundLevenshteinRule rewrites lev(a,b) <= k into lev(a,b,k) >= 0
    // anywhere, including join conditions; the join rule recognizes
    // that form too, so installation order cannot matter. Each order
    // runs on a session without the graft extension, whose only rules
    // are the two under test.
    val rules = Seq(BoundLevenshteinRule, LevenshteinJoinRewrite)
    for (order <- Seq(rules, rules.reverse)) {
      val s = GraftTestSpark.plainSession()
      val exp = s.asInstanceOf[classic.SparkSession].experimental
      exp.extraOptimizations = order
      exp.extraStrategies = Seq(LevenshteinJoinStrategy)
      def sideOf(idCol: String, textCol: String) =
        s.createDataFrame(words).toDF(idCol, textCol)
      val df = sideOf("id_a", "text_a").join(sideOf("id_b", "text_b"),
        levenshtein(col("text_a"), col("text_b")) <= lit(2)
          && col("id_a") < col("id_b"))
      val clue = order.map(_.ruleName).mkString(" then ")
      assert(hasExec(df), clue)
      assert(pairs(df).toSet === expected(2), clue)
    }
  }

  test("k = 0 (exact equality) and k = 1 regimes; empty and 1-char " +
      "strings ride the empty-segment keys, never a special case") {
    for (k <- 0 to 1) {
      val df = side("id_a", "text_a").join(side("id_b", "text_b"),
        levenshtein(col("text_a"), col("text_b")) <= lit(k)
          && col("id_a") < col("id_b"))
      assert(hasExec(df))
      assert(pairs(df).toSet === expected(k), s"k=$k")
    }
    // the short-string rows genuinely participate: "" vs "a" at k=1,
    // "" vs "ab" at k=2, "a" vs "ab" at k=1
    assert(expected(1).contains((11L, 12L)))
    assert(expected(2).contains((12L, 13L)))
    assert(expected(1).contains((11L, 13L)))
  }

  test("null texts never join (inner-join null predicate semantics)") {
    val withNull = (words :+ (99L, null.asInstanceOf[String]))
      .toDF("id_a", "text_a")
    val right = words.toDF("id_b", "text_b")
    val df = withNull.join(right,
      levenshtein(col("text_a"), col("text_b")) <= lit(9)
        && col("id_a") < col("id_b"))
    assert(hasExec(df))
    assert(!pairs(df).exists(_._1 == 99L))
  }

  test("pigeonhole completeness property: every pair within k shares a " +
      "posting/probe key (randomized, unicode alphabet included)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc😀日" // repeats + astral codepoint + CJK
    def randStr(): String =
      Seq.fill(rnd.nextInt(12))(alphabet.charAt(rnd.nextInt(3)) match {
        case c => c
      }).mkString + (if (rnd.nextBoolean()) "😀" else "")
    for (_ <- 1 to 300) {
      val a = randStr(); val b = randStr()
      val cpsA = LevenshteinJoinKernels.codePoints(a)
      val cpsB = LevenshteinJoinKernels.codePoints(b)
      for (k <- 0 to 3) {
        if (refLev(a, b) <= k) {
          val post = LevenshteinJoinKernels.postingKeysM(cpsA, k + 1).toSet
          val probe = LevenshteinJoinKernels.probeKeysM(cpsB, k, k + 1).toSet
          assert(post.intersect(probe).nonEmpty,
            s"pair within $k lost by blocking: '$a' vs '$b' " +
              s"(lev=${refLev(a, b)})")
        }
      }
    }
  }

  test("multi-segment pigeonhole: for m > k+1 segments a pair within " +
      "k shares >= m-k keys, so ANY k+1 selected segments intersect " +
      "the probe set (the lossless basis of the escalated regime)") {
    val rnd = new scala.util.Random(43)
    val alphabet = "abc😀日"
    def randStr(): String =
      Seq.fill(rnd.nextInt(14))(alphabet.charAt(rnd.nextInt(3))).mkString +
        (if (rnd.nextBoolean()) "😀" else "")
    for (_ <- 1 to 300) {
      val a = randStr(); val b = randStr()
      val cpsA = LevenshteinJoinKernels.codePoints(a)
      val cpsB = LevenshteinJoinKernels.codePoints(b)
      for (k <- 0 to 3; mult <- Seq(2, 4, 8, 16)) {
        val m = mult * (k + 1)
        if (refLev(a, b) <= k) {
          val post = LevenshteinJoinKernels.postingKeysM(cpsA, m).toSet
          val probe = LevenshteinJoinKernels.probeKeysM(cpsB, k, m).toSet
          val survivors = post.intersect(probe).size
          assert(survivors >= m - k,
            s"m=$m k=$k expected >= ${m - k} surviving segment keys, " +
              s"got $survivors: '$a' vs '$b' (lev=${refLev(a, b)})")
        }
      }
    }
  }

  test("escalated multi-segment regime end-to-end: a shared-prefix " +
      "corpus large enough to trip the hot-segment bound still matches " +
      "brute force exactly") {
    val rnd = new scala.util.Random(19)
    // 600 rows, one 12-char constant prefix, one length: segment-0 df
    // = 600 > hotBound (max(256, 8*sqrt(600)) = 256), so the exec must
    // take the df-selected multi-segment path; suffixes are DENSE
    // (2-char alphabet) so true pairs exist at every k
    val rows = (0 until 600).map { i =>
      (i.toLong, "SharedPrefix" +
        Seq.fill(6)("ab" (rnd.nextInt(2))).mkString)
    }
    val a = rows.toDF("id_a", "text_a")
    val b = rows.toDF("id_b", "text_b")
    for (k <- 1 to 2) {
      val df = a.join(b,
        levenshtein(col("text_a"), col("text_b")) <= lit(k)
          && col("id_a") < col("id_b"))
      assert(hasExec(df))
      val want = (for {
        (ia, ta) <- rows; (ib, tb) <- rows
        if ia < ib && refLev(ta, tb) <= k
      } yield (ia, ib)).toSet
      assert(pairs(df).toSet === want, s"k=$k")
      assert(want.nonEmpty, s"fixture must produce pairs at k=$k")
    }
  }

  test("segment arithmetic invariants: lengths partition the string, " +
      "starts are cumulative") {
    import LevenshteinJoinKernels.{segLen, segStart}
    for (l <- 0 to 40; m <- 1 to 5) {
      val lens = (0 until m).map(segLen(l, _, m))
      assert(lens.sum === l, s"L=$l m=$m lens=$lens")
      assert(lens.max - lens.min <= 1, "even split")
      var acc = 0
      for (i <- 0 until m) {
        assert(segStart(l, i, m) === acc, s"L=$l m=$m i=$i")
        acc += lens(i)
      }
    }
  }

  test("hot shared-prefix input (generated key column): exact result, " +
      "no naive shape") {
    // every name shares a long constant prefix at one length — the
    // adversarial hot-segment case the exec docs call out; correctness
    // must hold even where the candidate set degrades toward n²
    val names = (0 until 300).map(i => (i.toLong, f"Supplier#$i%04d"))
    val a = names.toDF("id_a", "text_a")
    val b = names.toDF("id_b", "text_b")
    val df = a.join(b,
      levenshtein(col("text_a"), col("text_b")) <= lit(1)
        && col("id_a") < col("id_b"))
    assert(hasExec(df))
    val got = pairs(df).toSet
    val want = (for {
      (ia, ta) <- names; (ib, tb) <- names
      if ia < ib && refLev(ta, tb) <= 1
    } yield (ia, ib)).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture must actually produce pairs")
  }

  test("randomized end-to-end equivalence vs brute force (dense " +
      "small-alphabet strings, k = 0..2)") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcde" // small alphabet -> dense near-pair space
    val rows = (0 until 80).map(i => (i.toLong,
      Seq.fill(rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString))
    val a = rows.toDF("id_a", "text_a")
    val b = rows.toDF("id_b", "text_b")
    for (k <- 0 to 2) {
      val df = a.join(b,
        levenshtein(col("text_a"), col("text_b")) <= lit(k)
          && col("id_a") < col("id_b"))
      assert(hasExec(df))
      val want = (for {
        (ia, ta) <- rows; (ib, tb) <- rows
        if ia < ib && refLev(ta, tb) <= k
      } yield (ia, ib)).toSet
      assert(pairs(df).toSet === want, s"k=$k")
      assert(want.nonEmpty, s"fixture must produce pairs at k=$k")
    }
  }

  test("exec result is stable under input repartitioning") {
    val df = side("id_a", "text_a").repartition(5)
      .join(side("id_b", "text_b").repartition(3),
        levenshtein(col("text_a"), col("text_b")) <= lit(2)
          && col("id_a") < col("id_b"))
    assert(hasExec(df))
    assert(pairs(df).toSet === expected(2))
  }
}
