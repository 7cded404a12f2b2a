package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{TextExpressions, TextKernels}
import graft.plans.JaccardInvertedJoinExec

/** The jaccard-threshold join extension: naive SQL/DataFrame join
  * predicates on jaccard_sim rewrite onto the exact shingle
  * inverted-index exec — q22's machinery as a planner extension. */
class JaccardJoinSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val docRows = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely unrelated text about something else entirely"),
    (5L, "too short"),                                     // no 3-gram
    (6L, "quick brown fox jumps over the lazy dog today")) // overlaps 1

  private def side(idCol: String, textCol: String): DataFrame =
    docRows.toDF(idCol, textCol)

  /** Ground truth via the scalar kernel — independent of any join
    * machinery, rewrite on or off. */
  private def expected(t: Double): Set[(Long, Long)] =
    (for {
      (ia, ta) <- docRows; (ib, tb) <- docRows
      if ia < ib
      if TextKernels.jaccardSim(UTF8String.fromString(ta),
        UTF8String.fromString(tb), 3) >= t
    } yield (ia, ib)).toSet

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq

  // string checks so an AdaptiveSparkPlanExec wrapper (present as soon
  // as an input repartition adds an exchange) can't hide the node from
  // a collect()
  private def hasExec(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("JaccardInvertedJoin")

  private def hasNaiveShape(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
  }

  test("naive SQL jaccard_sim join rewrites to the inverted-index exec " +
      "and matches the scalar ground truth") {
    side("id_a", "text_a").createOrReplaceTempView("jj_a")
    side("id_b", "text_b").createOrReplaceTempView("jj_b")
    val out = spark.sql(
      """SELECT id_a, id_b FROM jj_a JOIN jj_b
        |ON jaccard_sim(text_a, text_b, 3) >= 0.3 AND id_a < id_b""".stripMargin)
    assert(hasExec(out), "rewrite must fire on the SQL join condition")
    assert(!hasNaiveShape(out), "the O(n·m) BNLJ/cartesian shape must be gone")
    val got = pairs(out)
    assert(got.toSet === expected(0.3))
    assert(got.size === got.toSet.size, "no duplicate pair emissions")
    // the residual id_a < id_b conjunct survived as a filter
    assert(got.forall { case (a, b) => a < b })
  }

  test("DataFrame-built naive predicate rewrites too; flipped literal " +
      "form and 2-arg default shingle width both match") {
    val jac = TextExpressions.jaccardSim(col("text_a"), col("text_b"))
    val df = side("id_a", "text_a").join(side("id_b", "text_b"),
      jac >= lit(0.3) && col("id_a") < col("id_b"))
    assert(hasExec(df))
    assert(pairs(df).toSet === expected(0.3))
    // t <= jaccard_sim(...) (flipped) and the 2-arg SQL default n=3
    side("id_a", "text_a").createOrReplaceTempView("jj_a")
    side("id_b", "text_b").createOrReplaceTempView("jj_b")
    val flipped = spark.sql(
      """SELECT id_a, id_b FROM jj_a JOIN jj_b
        |ON 0.3 <= jaccard_sim(text_a, text_b) AND id_a < id_b""".stripMargin)
    assert(hasExec(flipped))
    assert(pairs(flipped).toSet === expected(0.3))
  }

  test("join semantics are per row pair: duplicate-content rows each " +
      "emit, and null/short texts never qualify") {
    // ids 1 and 2 are identical content: every pair one of them forms,
    // the other must form too — the exec must not collapse identical
    // texts into one row
    val got = expected(0.5)
    assert(got.contains((1L, 2L)))
    assert(got.contains((1L, 6L)) && got.contains((2L, 6L)),
      s"identical rows 1 and 2 must pair symmetrically: $got")
    val jac = TextExpressions.jaccardSim(col("text_a"), col("text_b"))
    val df = side("id_a", "text_a").join(side("id_b", "text_b"),
      jac >= lit(0.5) && col("id_a") < col("id_b"))
    assert(pairs(df).toSet === got)
    // doc 5 ("too short") has no 3-gram shingles: jaccard 0 vs
    // everything, absent from every result
    assert(!pairs(df).exists { case (a, b) => a == 5L || b == 5L })
  }

  test("threshold 0 does NOT rewrite (a no-shared-shingle pair would " +
      "qualify, which the inverted index cannot see)") {
    val jac = TextExpressions.jaccardSim(col("text_a"), col("text_b"))
    val df = side("id_a", "text_a").join(side("id_b", "text_b"),
      jac >= lit(0.0) && col("id_a") < col("id_b"))
    assert(!hasExec(df), "t = 0 must stay on the literal plan")
    // and the literal plan is still correct: every a<b pair qualifies
    assert(pairs(df).toSet === expected(0.0))
  }

  test("sortByPair kernel: 3-column quicksort matches a reference sort " +
      "on adversarial patterns") {
    import graft.plans.JaccardJoinKernels.sortByPair
    def check(pairs: Seq[(Long, Long, Long)]): Unit = {
      val l = pairs.map(_._1).toArray
      val r = pairs.map(_._2).toArray
      val s = pairs.map(_._3).toArray
      sortByPair(l, r, s, 0, l.length - 1)
      val expected = pairs.sortBy(p => (p._1, p._2))
      assert(l.toSeq === expected.map(_._1))
      assert(r.toSeq === expected.map(_._2))
      // sizes must travel WITH their pair (not get orphaned by swaps):
      // multiset of full rows is preserved
      assert(l.indices.map(i => (l(i), r(i), s(i))).sorted ===
        expected.sorted)
    }
    check(Seq.empty)
    check(Seq((5L, 1L, 10L)))
    check(Seq.tabulate(500)(i => (i.toLong, i.toLong, i.toLong)))          // sorted
    check(Seq.tabulate(500)(i => (500L - i, i.toLong, i.toLong)))          // reversed
    check(Seq.fill(300)((7L, 7L, 42L)))                                    // all equal
    val mixed = Seq.tabulate(997)(i =>
      (((i * 2654435761L) % 13).abs, ((i * 40503L) % 97).abs, i.toLong))
    check(mixed)                                                            // heavy duplicates
  }

  test("overlap_sim join rewrites to the same exec with the containment " +
      "score: embedded short doc qualifies where jaccard dilutes it") {
    // doc 20 is fully contained in doc 21: overlap 1.0, jaccard ≈ 0.3
    val contained = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi"),
      (22L, "totally different words appear here instead now"))
    def cside(idCol: String, textCol: String): DataFrame =
      contained.toDF(idCol, textCol)
    cside("id_a", "text_a").createOrReplaceTempView("ov_a")
    cside("id_b", "text_b").createOrReplaceTempView("ov_b")
    val out = spark.sql(
      """SELECT id_a, id_b FROM ov_a JOIN ov_b
        |ON overlap_sim(text_a, text_b, 3) >= 0.9 AND id_a < id_b""".stripMargin)
    assert(hasExec(out) && !hasNaiveShape(out))
    assert(pairs(out).toSet === Set((20L, 21L)))
    // the same pair under the jaccard metric at the same threshold: gone
    val jOut = spark.sql(
      """SELECT id_a, id_b FROM ov_a JOIN ov_b
        |ON jaccard_sim(text_a, text_b, 3) >= 0.9 AND id_a < id_b""".stripMargin)
    assert(pairs(jOut).isEmpty, "jaccard dilutes containment below 0.9")
    // scalar ground truth agrees with the join result
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    assert(TextKernels.overlapSim(u8(contained(0)._2),
      u8(contained(1)._2), 3) === 1.0)
    assert(TextKernels.jaccardSim(u8(contained(0)._2),
      u8(contained(1)._2), 3) < 0.9)
  }

  test("groupAndFilter: spill path (forced tiny budget) equals the " +
      "in-memory path on interleaved duplicate pairs") {
    import graft.plans.JaccardJoinKernels.groupAndFilter
    def pack(na: Int, nb: Int): Long =
      (na.toLong << 32) | (nb.toLong & 0xffffffffL)
    // pair (1,2) shares 3 shingles of na=4, nb=4 → jaccard 3/5 = 0.6;
    // pair (1,3) shares 1 of 4,6 → 1/9 ≈ 0.11; pair (2,9) shares 2 of
    // 3,3 → 0.5 — interleaved arrival order like a real shuffle
    val occ = Seq(
      ((1L, 2L), pack(4, 4)), ((1L, 3L), pack(4, 6)), ((2L, 9L), pack(3, 3)),
      ((1L, 2L), pack(4, 4)), ((2L, 9L), pack(3, 3)), ((1L, 2L), pack(4, 4)))
    val inMem = groupAndFilter(occ.iterator, 0.5).toSet
    assert(inMem === Set((1L, 2L), (2L, 9L)))
    // budget of 2 records forces the spill path mid-stream
    val spilled = groupAndFilter(occ.iterator, 0.5, max = 2).toSet
    assert(spilled === inMem)
    // threshold excludes the weaker pair in both paths
    assert(groupAndFilter(occ.iterator, 0.55, max = 2).toSet ===
      Set((1L, 2L)))
  }

  test("exec result is stable under input repartitioning") {
    val jac = TextExpressions.jaccardSim(col("text_a"), col("text_b"))
    val df = side("id_a", "text_a").repartition(5)
      .join(side("id_b", "text_b").repartition(3),
        jac >= lit(0.3) && col("id_a") < col("id_b"))
    assert(hasExec(df))
    assert(pairs(df).toSet === expected(0.3))
  }
}
