package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

/** The custom as-of physical operator ([[graft.plans.AsOfJoinExec]])
  * against the union-and-carry formulation and hand-checked cases. */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val trades = Seq(
    (1L, 10L, ts("2026-01-01 10:00:05")),
    (2L, 10L, ts("2026-01-01 10:01:00")),
    (3L, 20L, ts("2026-01-01 10:00:30")),
    (4L, 30L, ts("2026-01-01 09:00:00")) // before any quote
  ).toDF("event_id", "user_id", "ts")

  private lazy val quotes = Seq(
    (100L, 10L, ts("2026-01-01 10:00:00")),
    (101L, 10L, ts("2026-01-01 10:00:05")), // equal-ts: inclusive
    (102L, 10L, ts("2026-01-01 10:02:00")), // after both trades
    (103L, 20L, ts("2026-01-01 10:00:30")),
    (104L, 30L, ts("2026-01-01 12:00:00"))
  ).toDF("event_id", "user_id", "ts")

  test("asof exec: inclusive <=, latest prior row, nulls when none") {
    val out = Analytics.asofJoinExec(trades, quotes, "ts",
        Seq("event_id"))
      .select($"event_id", $"asof_event_id")
      .orderBy($"event_id").collect()
    assert(out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ===
      Seq(1L -> 101L, 2L -> 101L, 3L -> 103L, 4L -> -1L))
  }

  test("asof exec: equal-timestamp right rows break ties on max payload") {
    val dupQuotes = Seq(
      (200L, 10L, ts("2026-01-01 10:00:00")),
      (201L, 10L, ts("2026-01-01 10:00:00")) // same key, same ts
    ).toDF("event_id", "user_id", "ts")
    val one = trades.where($"event_id" === 1L)
    val exec = Analytics.asofJoinExec(one, dupQuotes, "ts",
      Seq("event_id")).select($"asof_event_id").head().getLong(0)
    val carry = Analytics.asofJoin(one, dupQuotes, "ts",
      Seq("event_id")).select($"asof_event_id").head().getLong(0)
    assert(exec === 201L) // the max payload, deterministically
    assert(carry === exec)
  }

  test("asof exec ≡ union-and-carry on the q26-shaped event data") {
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.where($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val exec = Analytics.asofJoinExec(purchases, signups,
      "ts", Seq("event_id"))
    val carry = Analytics.asofJoin(purchases, signups,
      "ts", Seq("event_id"))
    assert(exec.columns.toSeq === carry.columns.toSeq)
    assert(exec.exceptAll(carry).isEmpty && carry.exceptAll(exec).isEmpty)
    assert(exec.count() === purchases.count()) // left-outer row parity
  }

  test("asof broadcast ≡ exec ≡ carry; plans as a broadcast hash join") {
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.where($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val bc = Analytics.asofJoinBroadcast(purchases, signups,
      Seq("event_id"))
    val exec = Analytics.asofJoinExec(purchases, signups,
      "ts", Seq("event_id"))
    assert(bc.columns.toSeq === exec.columns.toSeq)
    assert(bc.exceptAll(exec).isEmpty && exec.exceptAll(bc).isEmpty)
    val plan = bc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // the whole point: no shuffle of the left (big) side
    assert(!plan.contains("SortMergeJoin"))
  }

  test("property: exec ≡ carry ≡ broadcast ≡ in-memory reference on random data") {
    import org.scalacheck.Gen
    // tiny key space + coarse timestamps force key collisions and
    // equal-timestamp ties — the corners where the three
    // implementations could diverge
    val row: Gen[(Long, Long, Timestamp)] = for {
      key <- Gen.chooseNum(0L, 4L)
      sec <- Gen.chooseNum(0L, 19L)
      id <- Gen.chooseNum(0L, 999L)
    } yield (id, key, new Timestamp(1700000000000L + sec * 1000))
    val lRows = Gen.listOfN(60, row).sample.get
      .zipWithIndex.map { case ((_, k, t), i) => (i.toLong, k, t) }
    val rRows = Gen.listOfN(40, row).sample.get
      .zipWithIndex.map { case ((_, k, t), i) => (1000L + i, k, t) }
    val l = lRows.toDF("event_id", "user_id", "ts")
    val r = rRows.toDF("event_id", "user_id", "ts")
    // in-memory reference: max (ts, payload) among right rows with
    // same key and ts <= left ts
    val expected = lRows.map { case (id, k, t) =>
      val prior = rRows.filter(x => x._2 == k && !x._3.after(t))
      id -> (if (prior.isEmpty) None
             else Some(prior.map(x => (x._3.getTime, x._1)).max._2))
    }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"asof_event_id").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    val carry = run(Analytics.asofJoin(l, r, "ts", Seq("event_id")))
    val exec = run(Analytics.asofJoinExec(l, r, "ts", Seq("event_id")))
    val bc = run(Analytics.asofJoinBroadcast(l, r, Seq("event_id")))
    assert(carry === expected)
    assert(exec === expected)
    assert(bc === expected)
  }

  test("asof exec plans as one merge over co-partitioned sorted children") {
    val ev = Queries.events(spark, "/root/testdata/sf0.001")
    val l = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val r = ev.where($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val plan = Analytics.asofJoinExec(l, r, "ts",
      Seq("event_id")).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    // exactly one exchange per side, none above the operator
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
  }
}
