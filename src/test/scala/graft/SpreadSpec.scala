package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Spread

/** Round-11 optimization internals: the scan-parallelism spread for
  * fanout operators and the replay's scale-adaptive state-partition
  * derivation. Both must be no-ops at production scale and must never
  * change results. */
class SpreadSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("forFanout spreads a small frame across the pool") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val out = Spread.forFanout(df, col("id"))
    // small estimated size → deterministic hash repartition added
    assert(out.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression"))
    assert(out.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("forFanout is a no-op when the scan already fills the pool") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    val orig = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    // shrink the per-task split size so the same estimate now implies
    // enough scan tasks — the branch must not fire
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val out = Spread.forFanout(df, col("id"))
      assert(!out.queryExecution.optimizedPlan.toString
        .contains("RepartitionByExpression"))
    } finally orig match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("forFanout never changes the row set") {
    val df = spark.range(1000).select(col("id"),
      concat(lit("doc "), col("id")).as("t"))
    val out = Spread.forFanout(df, col("id"))
    assert(out.exceptAll(df).count() === 0 && df.exceptAll(out).count() === 0)
  }

  test("replay state partitions derive from staged bytes with floor and cap") {
    // tiny replay → floor
    assert(Queries.replayStateParts(2L << 20, 32) === 4)
    // grows with data: 130 MB at 4 MB target → 33, capped at conf 32
    assert(Queries.replayStateParts(130L << 20, 32) === 32)
    // below the cap the derivation is ceil(bytes/target)
    assert(Queries.replayStateParts(40L << 20, 32) === 10)
    // a big cluster conf is never exceeded, a small one is respected
    assert(Queries.replayStateParts(1L << 40, 2000) === 2000)
    assert(Queries.replayStateParts(1L << 40, 8) === 8)
  }
}
