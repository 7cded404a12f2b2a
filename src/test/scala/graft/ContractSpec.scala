package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract, checked locally so registry wiring mistakes
  * surface in `sbt test` instead of the round gate: every catalog
  * query needs an oracle (q28 is the single by-design exception —
  * HLL++ sketches have no cross-engine oracle), names follow the
  * qNN_snake format the correctness report sorts on, and the smoke
  * entry returns rows. */
class ContractSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  test("every query has an oracle, except q28 (by design)") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries -- oracles === Set("q28_approx_distinct"))
    assert(oracles -- queries === Set.empty)
  }

  test("q87 concurrent catalog runs in one session do not race on " +
      "temp views") {
    // the round-3 verdict nit: unscoped createOrReplaceTempView names
    // would let a second concurrent run swap tables mid-query. q87
    // keeps its views on a derived session; this drives 4 simultaneous q87s
    // through the SHARED session and requires identical results
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "/root/testdata/sf0.001"
    val expected = Queries.all("q87_sql_subqueries")(spark, dir)
      .collect().toSeq
    val runs = Future.sequence(Seq.fill(4)(Future {
      Queries.all("q87_sql_subqueries")(spark, dir).collect().toSeq
    }))
    Await.result(runs, 120.seconds).foreach { got =>
      assert(got === expected)
    }
  }

  test("Verify subset runs MERGE oracle_sql.json instead of rewriting") {
    // the hazard: a subset Verify into a full-run out dir used to
    // rewrite the oracle map filtered to the subset, and the next
    // full oracle_check on that dir would silently compare only the
    // subset. parseFlat round-trips the writer's exact escaping.
    val full = Seq(
      ("\"q01_agg\"", "\"SELECT 1\""),
      ("\"q02_join\"", "\"SELECT\\n\\t\\\"x\\\" FROM t\""),
      ("\"q03_misc\"", "\"a \\\\ b \\u0001\""))
    val fullJson = full.map { case (k, v) => s"$k: $v" }
      .mkString("{", ",", "}")
    assert(Verify.parseFlat(fullJson) == full)
    // subset replaces q02, keeps q01/q03 verbatim
    val merged = Verify.mergedJson(Some(fullJson),
      Seq(("\"q02_join\"", "\"SELECT 2\"")))
    val pairs = Verify.parseFlat(merged).toMap
    assert(pairs.keySet ==
      Set("\"q01_agg\"", "\"q02_join\"", "\"q03_misc\""))
    assert(pairs("\"q02_join\"") == "\"SELECT 2\"")
    assert(pairs("\"q03_misc\"") == "\"a \\\\ b \\u0001\"")
    // no existing file (fresh subset dir): subset-only map, unchanged
    assert(Verify.mergedJson(None, Seq(("\"q05_x\"", "\"S\""))) ==
      "{\"q05_x\": \"S\"}")
    // a truncated existing map (interrupted write) fails LOUDLY with
    // the regenerate hint, not a StringIndexOutOfBoundsException
    for (bad <- Seq("{\"q01_agg\": \"SELECT",      // unterminated string
                    "{\"q01_agg\": \"SELECT 1\\")) // dangling escape
      assert(intercept[IllegalArgumentException] {
        Verify.parseFlat(bad)
      }.getMessage.contains("oracle_sql.json"))
  }

  test("query names follow the qNN(N)_snake format, no duplicates") {
    // 2- or 3-digit id (the catalog outgrew q99); lexicographic sorting
    // puts q100 next to q10 — cosmetic only, nothing keys on order.
    // The Bench short key (prefix before '_') must also stay unique.
    val names = SparkEntry.queries.keys.toSeq
    names.foreach(n => assert(n.matches("q\\d{2,3}_[a-z0-9_]+"), n))
    assert(names.distinct.size === names.size)
    val shortKeys = names.map(_.takeWhile(_ != '_'))
    assert(shortKeys.distinct.size === shortKeys.size,
      "duplicate qNN prefixes would collide in the bench JSON")
  }

  test("smoke entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("main source carries no udf(), stub bodies, or TODO/FIXME") {
    // the per-round anti-pattern greps, codified: Scala udfs are
    // opaque to codegen (the engine's rule is native expressions or
    // Column algebra), ??? is an unimplemented stub, TODO/FIXME is
    // unfinished work shipping. All three are zero in src/main and
    // must stay zero — anything new fails here, not in a review.
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected to run from the repo root; missing $root")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 30, s"suspiciously few sources: ${files.size}")
    val offenders = for {
      f <- files
      (line, i) <- Files.readString(f).linesIterator.zipWithIndex
      if line.contains("udf(") || line.contains("???") ||
        line.contains("TODO") || line.contains("FIXME")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
