package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, BoundLevenshteinRule, JaccardJoinRewrite, JaccardJoinStrategy, LevenshteinJoinRewrite, LevenshteinJoinStrategy, SimilarityJoinRewrite, SimilarityJoinStrategy}

/** One rule table for every session: a catalog query writes nothing to
  * its caller's session (no conf, no rule, no strategy), and plans to
  * the same graft operators whether the session was built by
  * [[GraftExtensions.session]] or by a caller's own builder and then
  * given the table by [[GraftExtensions.ensure]]. */
class SessionIsolationSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  private val dir = s"${GraftTestSpark.testData}/sf0.001"

  private def rules(s: SparkSession) = {
    val exp = s.asInstanceOf[classic.SparkSession].experimental
    (exp.extraOptimizations, exp.extraStrategies)
  }

  private val isolated = Seq("q52_chained_metrics", "q73_", "q105_",
    "q132_", "q74_", "q130_", "q131_", "q135_", "q136_", "q139_", "q206_",
    "q224_", "q225_")
  private val graftPlanned = Seq("q74_", "q130_", "q131_", "q135_",
    "q136_", "q139_", "q206_", "q224_", "q225_")
  private def named(prefix: String): String =
    Queries.all.keys.filter(_.startsWith(prefix)).toSeq match {
      case Seq(name) => name
      case names => fail(s"$prefix names ${names.size} queries")
    }

  test("building a catalog query writes neither conf nor rules to the caller's session") {
    val s = spark.newSession()
    // a value no query would write back: UTC is the JVM-wide default
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val conf = s.conf.getAll
    // the first catalog call may give a foreign session the rule table
    Queries.all("q01_pricing_summary")(s, dir)
    val table = rules(s)
    for (q <- isolated.map(named)) GraftTestSpark.withCaches {
      assert(Queries.all(q)(s, dir).schema.nonEmpty, q)
      assert(s.conf.getAll === conf, q)
      assert(rules(s) === table, q)
    }
  }

  test("the replay runs on its own session: q52's jobs never see the caller's partitions change") {
    val s = spark.newSession()
    // the replay sizes its state to 4 partitions at sf0.001
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(s.conf.get("spark.sql.shuffle.partitions")): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = Queries.all(named("q52_chained_metrics"))(s, dir)
      assert(out.count() > 0)
      PlanBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(seen.size > 2, "the replay ran its micro-batches")
    assert(seen.asScala.toSet === Set("7"))
  }

  test("catalog queries plan to the same graft operators on a factory session and on a plain session after ensure") {
    val plain = GraftTestSpark.plainSession()
    assert(!plain.catalog.functionExists("jaccard_sim"))
    assert(rules(plain) === ((Nil, Nil)))
    for (q <- graftPlanned.map(named)) GraftTestSpark.withCaches {
      def execs(s: SparkSession) =
        PlanChecks.graftExecs(Queries.all(q)(s, dir).queryExecution.executedPlan)
      val factory = execs(spark)
      assert(factory.nonEmpty, s"$q plans no graft operator")
      assert(execs(plain) === factory, q)
    }
  }

  test("ensure from 8 threads installs each rule and strategy once; an extension-built session gets nothing") {
    val fresh = GraftTestSpark.plainSession()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { start.await(); GraftExtensions.ensure(fresh) }
      }))
      start.countDown()
      calls.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val (opt, strat) = rules(fresh)
    assert(opt.size === 4 && opt.toSet === Set(BoundLevenshteinRule,
      SimilarityJoinRewrite, JaccardJoinRewrite, LevenshteinJoinRewrite))
    assert(strat.size === 4 && strat.toSet === Set(AsOfJoinStrategy,
      SimilarityJoinStrategy, JaccardJoinStrategy, LevenshteinJoinStrategy))
    assert(fresh.sql("SELECT hamming_dist('ab', 'ac')").head().getInt(0) === 1)
    GraftExtensions.ensure(fresh)
    assert(rules(fresh) === ((opt, strat)))

    val built = spark.newSession()
    GraftExtensions.ensure(built)
    assert(rules(built) === ((Nil, Nil)))
  }
}
