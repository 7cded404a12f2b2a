package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lineage

/** Round-12: [[Lineage.truncateCounted]] fuses the fixpoint loops'
  * convergence probe into the truncate's single materializing job.
  * Pins: row-set identity with the input, exact total count, probe
  * semantics (true-count of a boolean column, zero iff no true rows),
  * lineage actually truncated (LogicalRDD), and downstream usability. */
class TruncateCountedSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("returns identical rows, exact count, and probe count") {
    val df = (1 to 100).map(i => (i.toLong, i % 3 == 0)).toDF("id", "flag")
    val (out, total, probe) = Lineage.truncateCounted(df, Some("flag"))
    assert(total === 100L)
    assert(probe === 33L)
    assert(out.schema === df.schema)
    assert(out.collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted
      === (1 to 100).map(i => (i.toLong, i % 3 == 0)).sorted)
  }

  test("probe is zero iff no true rows") {
    val df = (1 to 10).map(i => (i, false)).toDF("id", "flag")
    val (_, total, probe) = Lineage.truncateCounted(df, Some("flag"))
    assert(total === 10L)
    assert(probe === 0L)
  }

  test("null probe values count as false") {
    val df = Seq((1, Some(true)), (2, None), (3, Some(false)))
      .toDF("id", "flag")
    val (_, total, probe) = Lineage.truncateCounted(df, Some("flag"))
    assert(total === 3L)
    assert(probe === 1L)
  }

  test("no probe column: count-only truncate") {
    val df = spark.range(57).toDF("id")
    val (out, total, probe) = Lineage.truncateCounted(df, None)
    assert(total === 57L)
    assert(probe === 0L)
    assert(out.count() === 57L)
  }

  test("lineage is truncated and the frame joins/aggregates downstream") {
    val df = (1 to 20).map(i => (i.toLong, i % 2 == 0)).toDF("id", "flag")
    val (out, _, _) = Lineage.truncateCounted(df, Some("flag"))
    val analyzed =
      org.apache.spark.sql.graftbridge.PlanBridge.analyzed(out)
    assert(analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val joined = out.join(out.select(col("id")), Seq("id"))
      .groupBy(col("flag")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(joined === Map(true -> 10L, false -> 10L))
  }

  test("the truncated frame joins back to its own input on a key") {
    val df = (1 to 20).map(i => (i.toLong, i * 10L)).toDF("k", "v")
    val (out, _, _) = Lineage.truncateCounted(df, None)
    val joined = out.join(df, out("k") === df("k"))
      .select(out("k"), out("v"), df("v"))
      .as[(Long, Long, Long)].collect().sorted
    assert(joined === (1 to 20).map(i => (i.toLong, i * 10L, i * 10L)))
  }
}
