package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every catalog query runs and returns rows at sf0.001, has an
  * oracle entry, and entry() works (driver t1 contract). The value-level
  * correctness gate is the DuckDB compare (tools/oracle_check.py). */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle (or is explicitly approx-only)") {
    val approxOnly = Set("q28_approx_distinct") // HLL++ is engine-specific
    val noOracle =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- approxOnly
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  /** `body`'s result and the WARN messages the logger `name` emitted
    * meanwhile (the session logs at ERROR, so that logger's own config
    * is raised to WARN while `body` runs). */
  private def warnings[A](name: String)(body: => A): (A, Seq[String]) = {
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"$name-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    val ctx = logger.getContext
    val config = ctx.getConfiguration.getLoggerConfig(logger.getName)
    val level = config.getLevel
    config.setLevel(Level.WARN)
    ctx.updateLoggers()
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      config.setLevel(level)
      logger.removeAppender(appender)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val s = spark
      val (df, seen) = warnings("org.apache.spark.sql.Column")(fn(s, dir))
      // a join condition built from two sides of one lineage compares
      // an attribute with itself; Spark warns and the result is right
      // only through Dataset.join's self-join rewrite
      assert(!seen.exists(_.contains("trivially true equals predicate")),
        seen.mkString("\n"))
      assert(df.count() > 0)
    }
  }

  test("q192 persists each shared plan once (no CacheManager re-cache " +
      "warning)") {
    // q192's three miners each build the same shingle sets; a second
    // persist of an already cached plan makes CacheManager warn. The
    // session starts before the capture: its logging setup would
    // replace the capturing config.
    val s = spark
    graft.operators.Caches.releaseAll()
    val (n, seen) =
      warnings("org.apache.spark.sql.execution.CacheManager") {
        SparkEntry.queries("q192_mining_recall")(s, dir).count()
      }
    graft.operators.Caches.releaseAll()
    assert(n > 0)
    assert(seen.isEmpty, seen.mkString("\n"))
  }

  test("q28: HLL++ approx distinct lands within its error bound of exact") {
    // the one rows-only catalog entry (no cross-engine oracle for the
    // sketch) still gets a VALUE check: approx_count_distinct's default
    // rsd is 5%; require every group within 3x that of the exact count,
    // at the bigger sf0.01 so per-group cardinalities are meaningful
    val rows = SparkEntry.queries("q28_approx_distinct")(
      spark, "/root/testdata/sf0.01").collect()
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      val relErr = math.abs(approx - exact).toDouble / exact.max(1L)
      assert(relErr <= 0.15,
        s"${r.getString(0)}: approx=$approx exact=$exact relErr=$relErr")
    }
  }

  test("q126: histogram quantile estimate lands within one bin width " +
      "of the exact percentile") {
    // the oracle proves both engines compute the same sketch; this
    // pins the APPROXIMATION claim — a fixed-bin histogram's quantile
    // estimate cannot miss the true quantile by more than the width
    // of the bin that contains it (10 value units here), at the
    // bigger sf0.01 so per-type counts are meaningful
    val rows = SparkEntry.queries("q126_histogram_quantiles")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 15) // 5 event types x 3 quantiles
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(est - exact) <= 10.0,
        s"${r.getString(0)} p${r.getInt(1)}: est=$est exact=$exact")
    }
  }
}
