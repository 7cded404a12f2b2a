package graft

import org.apache.spark.sql.graftbridge.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's two outputs: the driver-contract stdout line
  * (Bench.jsonLine — headline fields only, and it must stay short: the
  * driver captures only the last ~2000 chars of output and a
  * head-truncated line silently parses as null, BENCH_r01/r02), and
  * the per-query record (Bench.record, BENCH_QUERIES.json) with the
  * layer fields its listener (Bench.Layers) attributes to each sample.
  * Parsed with Jackson (on Spark's classpath) so "parses" means parses,
  * not matches-a-regex. */
class BenchLineSpec extends AnyFunSuite {
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private val mixed = Seq(
    ("q01_pricing_summary", 1.234, true), ("q52_chained_metrics", 4.0, true),
    ("q93_pagerank", 2.5, false), ("q107_portable_hll", 0.5, true))

  test("stdout line: the headline fields byte for byte as before, " +
      "queries always {}") {
    // the line the previous bench printed for these inputs, with its
    // per-query map ({"q01":1.23,"q52":4.00,"q93":-1,"q107":0.50})
    // replaced by {}
    assert(Bench.jsonLine(mixed, "/data/sf0.1", 3,
      Some((0.031, 0.124, 2)), subsetBest = 1.2) ===
      """{"metric":"total","value":5.734,"unit":"sec","queries":{},"subset43":1.234,"subset43_best":1.200,"replay_total":4.000,"iter_total":-1.000,"sf":"/data/sf0.1","n":3,"failed":["q93"],"calib":{"min":0.031,"max":0.124,"drift":4.00,"reruns":2}}""")
    assert(Bench.jsonLine(mixed, "/sf", 1) ===
      """{"metric":"total","value":5.734,"unit":"sec","queries":{},"subset43":1.234,"replay_total":4.000,"iter_total":-1.000,"sf":"/sf","n":1,"failed":["q93"]}""")
    val j = om.readTree(Bench.jsonLine(Seq(
      ("q01_pricing_summary", 1.234, true),
      ("q107_portable_hll", 0.5, true)), "/sf", 3))
    assert(j.get("queries").size() === 0)
    assert(j.get("value").asDouble() === 1.734) // totals keep 3 decimals
    assert(j.get("subset43").asDouble() === 1.234) // q107 is not subset
    assert(j.get("failed").size() === 0)
    assert(j.get("n").asInt() === 3)
  }

  test("record: full names at 3 decimals, -1 plus an errors entry for a " +
      "failed query, and the stdout line's headline fields") {
    val calib = Some((0.031, 0.124, 2))
    val raw = Bench.record(mixed, "/sf", 3, calib, 1.2,
      Seq("q93_pagerank" -> "SparkException: \"boom\"\n\tat x"),
      Seq("q01_pricing_summary" -> """{"jobs":2}"""))
    assert(raw.contains(""""queries":{"q01_pricing_summary":1.234,""" +
      """"q52_chained_metrics":4.000,"q93_pagerank":-1,"q107_portable_hll":0.500}"""))
    val rec = om.readTree(raw)
    assert(rec.get("errors").size() === 1)
    assert(rec.get("errors").get("q93_pagerank").asText() ===
      "SparkException: \"boom\"\n\tat x")
    assert(rec.get("layers").get("q01_pricing_summary").get("jobs").asInt() === 2)
    val line = om.readTree(Bench.jsonLine(mixed, "/sf", 3, calib,
      subsetBest = 1.2))
    val headline = Seq("metric", "value", "unit", "subset43", "subset43_best",
      "replay_total", "iter_total", "sf", "n", "failed", "calib")
    for (k <- headline) assert(rec.get(k) === line.get(k), k)
    line.fieldNames().forEachRemaining(k =>
      assert(k == "queries" || headline.contains(k), k))
  }

  test("subset43_best: emitted only when a run history exists, and " +
      "survives the oversize degradation ladder") {
    val none = Bench.jsonLine(Seq(("q01_x", 1.0, true)), "/sf", 3)
    assert(om.readTree(none).get("subset43_best") === null,
      "no history: the field must be absent, not -1")
    val some = Bench.jsonLine(Seq(("q01_x", 1.5, true)), "/sf", 3,
      subsetBest = 1.2)
    assert(om.readTree(some).get("subset43_best").asDouble() === 1.2)
    val many = (1 to 300).map(i => (f"q$i%03d_some_name", 1.0, false))
    val degraded = Bench.jsonLine(many, "/sf", 3, subsetBest = 40.0)
    assert(degraded.length <= 1800)
    assert(om.readTree(degraded).get("subset43_best").asDouble() === 40.0,
      "the best-of-round gate number is headline, not per-query detail")
  }

  test("failed query: -1 in the map, named in failed, subset43 fails closed") {
    val results = Seq(
      ("q02_revenue", 1.0, false),
      ("q99_cross_source", 2.0, true))
    val j = om.readTree(Bench.jsonLine(results, "/sf", 1))
    assert(j.get("subset43").asDouble() === -1.0) // NOT a passers-only sum
    assert(j.get("value").asDouble() === 2.0) // passers only in total
    assert(j.get("failed").get(0).asText() === "q02")
    val rec = om.readTree(Bench.record(results, "/sf", 1, None, -1.0,
      Seq("q02_revenue" -> "x"), Nil))
    assert(rec.get("queries").get("q02_revenue").asInt() === -1)
  }

  test("mass-failure regime: the failed list itself degrades to a count") {
    val many = (1 to 300).map(i => (f"q$i%03d_some_name", 1.0, false))
    val line = Bench.jsonLine(many, "/sf", 3)
    assert(line.length <= 1800)
    val j = om.readTree(line)
    assert(j.get("queries").size() === 0)
    assert(j.get("failed").size() === 0) // list degraded...
    assert(j.get("n_failed").asInt() === 300) // ...to a count
  }

  test("replay_total: the streaming-replay class gets its own subtotal") {
    val line = Bench.jsonLine(Seq(
      ("q52_chained_metrics", 4.0, true),
      ("q73_session_replay", 3.0, true),
      ("q105_dynamic_session_replay", 2.5, true),
      ("q132_attribution_outer", 10.0, true),
      ("q01_pricing_summary", 1.0, true)), "/sf", 3)
    val j = om.readTree(line)
    assert(j.get("replay_total").asDouble() === 19.5)
    assert(j.get("value").asDouble() === 20.5) // replay stays in total
    // fail-closed: a failed replay query must not shrink the subtotal
    val failedLine = Bench.jsonLine(Seq(
      ("q52_chained_metrics", 4.0, false),
      ("q73_session_replay", 3.0, true)), "/sf", 3)
    assert(om.readTree(failedLine).get("replay_total").asDouble() === -1.0)
    // not-measured: a filtered run with no replay queries reads -1
    val noneLine = Bench.jsonLine(Seq(("q01_x", 1.0, true)), "/sf", 3)
    assert(om.readTree(noneLine).get("replay_total").asDouble() === -1.0)
  }

  test("iter_total: the iterative-algorithm class gets its own subtotal " +
      "(same fail-closed/not-measured contract as replay_total)") {
    val line = Bench.jsonLine(Seq(
      ("q93_pagerank", 5.0, true),
      ("q190_greedy_coverage", 4.5, true),
      ("q192_mining_recall", 5.5, true),
      ("q01_pricing_summary", 1.0, true)), "/sf", 3)
    val j = om.readTree(line)
    assert(j.get("iter_total").asDouble() === 15.0)
    assert(j.get("value").asDouble() === 16.0) // iter stays in total
    assert(j.get("replay_total").asDouble() === -1.0)
    // fail-closed
    val failedLine = Bench.jsonLine(Seq(
      ("q93_pagerank", 5.0, false),
      ("q171_kcore", 3.0, true)), "/sf", 3)
    assert(om.readTree(failedLine).get("iter_total").asDouble() === -1.0)
    // not-measured
    val noneLine = Bench.jsonLine(Seq(("q01_x", 1.0, true)), "/sf", 3)
    assert(om.readTree(noneLine).get("iter_total").asDouble() === -1.0)
    // the full nine-query class membership is the documented one
    assert(Bench.IterClass === Set("q81", "q91", "q92", "q93", "q118",
      "q171", "q190", "q191", "q192"))
  }

  test("no subset queries ran: subset43 is -1 (not measured), never 0.000") {
    val line = Bench.jsonLine(Seq(("q99_only_new", 2.0, true)), "/sf", 1)
    assert(om.readTree(line).get("subset43").asDouble() === -1.0)
  }

  test("calib context is emitted and survives the degraded regimes") {
    val calib = Some((0.031, 0.124, 2))
    val line = Bench.jsonLine(Seq(("q01_x", 1.0, true)), "/sf", 3, calib)
    val j = om.readTree(line)
    assert(j.get("calib").get("min").asDouble() === 0.031)
    assert(j.get("calib").get("max").asDouble() === 0.124)
    assert(j.get("calib").get("drift").asDouble() === 4.0)
    assert(j.get("calib").get("reruns").asInt() === 2)
    // a mass-failure line counts its failures; calib must NOT degrade
    // — it is the load record that explains a slow run
    val many = (1 to 300).map(i => (f"q$i%03d_some_name", 1.0, false))
    val big = Bench.jsonLine(many, "/sf", 3, calib)
    assert(big.length <= 1800)
    val jb = om.readTree(big)
    assert(jb.get("n_failed").asInt() === 300)
    assert(jb.get("calib").get("drift").asDouble() === 4.0)
    // absent calib (a unit-test caller) emits no field at all
    val none = Bench.jsonLine(Seq(("q01_x", 1.0, true)), "/sf", 3)
    assert(om.readTree(none).get("calib") === null)
  }

  test("sfDir with quotes and backslashes still yields parseable JSON") {
    val line = Bench.jsonLine(Seq(("q01_x", 1.0, true)),
      """C:\data\"sf0.1"""", 1)
    assert(om.readTree(line).get("sf").asText() === """C:\data\"sf0.1"""")
  }

  /** Runs `body` with a fresh listener on the shared test session;
    * `run(prefix, tag)` runs that catalog query at sf0.001 under `tag`. */
  private def withLayers(body: (Bench.Layers, (String, String) => Unit) => Unit)
      : Unit = {
    val spark = GraftTestSpark.spark
    val layers = new Bench.Layers(spark)
    def run(q: String, tag: String): Unit = GraftTestSpark.withCaches {
      val fn = Queries.all.collectFirst { case (k, f) if k.startsWith(q) => f }.get
      layers.tagged(tag) {
        fn(spark, s"${GraftTestSpark.testData}/sf0.001")
          .write.format("noop").mode("overwrite").save()
      }
    }
    try body(layers, run) finally spark.sparkContext.removeSparkListener(layers)
  }

  test("layer listener: a sample gets its own jobs, stages and task time; " +
      "an untagged job is not counted") {
    withLayers { (layers, run) =>
      val sc = GraftTestSpark.spark.sparkContext
      run("q05_", "q05#1")
      layers.tagged("one")(sc.parallelize(1 to 10, 2).count())
      sc.parallelize(1 to 10, 2).count() // untagged: counted nowhere
      PlanBridge.drainListenerBus(sc)
      val one = layers.take("one")
      assert((one.jobs, one.stages, one.tasks) === ((1, 1, 2)), one.json)
      val q05 = layers.take("q05#1")
      assert(q05.jobs >= 1 && q05.stages >= 1 && q05.taskMs > 0, q05.json)
      assert(q05.tasks >= q05.stages && q05.batches === 0, q05.json)
      assert(q05.slowest.nonEmpty && q05.slowest.size <= 3, q05.json)
      // every slow stage names the operators it ran
      assert(q05.slowest.forall(_._4.nonEmpty), q05.json)
      val top = om.readTree(q05.json).get("slowest_stages")
      assert(top.size === q05.slowest.size, q05.json)
      top.forEach(st => assert(st.get("ops").size > 0 && st.has("sql_id"), q05.json))
      // a tag already taken reads as empty
      assert(layers.take("q05#1").jobs === 0)
    }
  }

  test("layer listener: a replay's stream jobs and micro-batches land in " +
      "its sample") {
    withLayers { (layers, run) =>
      run("q52_", "q52#1")
      PlanBridge.drainListenerBus(GraftTestSpark.spark.sparkContext)
      val q52 = layers.take("q52#1")
      // a batch is attributed only through a tagged job carrying its
      // query id, so batches > 0 means the stream thread's jobs were
      // tagged; each batch runs a job, and the read-back adds more
      assert(q52.batches > 0 && q52.batchMs.contains("triggerExecution"),
        q52.json)
      assert(q52.jobs > q52.batches && q52.stages > 0, q52.json)
      assert(om.readTree(q52.json).get("batches").asInt() === q52.batches)
    }
  }
}
