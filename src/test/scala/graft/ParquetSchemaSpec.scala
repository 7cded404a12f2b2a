package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetSchema

/** Table reads resolve their schema from one parquet footer on the
  * driver instead of Spark's inference job. A resolved schema that
  * differed from the inferred one would read mismatched columns as
  * silent NULLs, so this spec pins footer == inferred for every table
  * in every timestamp layout the tables ship in: INT64 micros (fixture
  * data), INT96 (GenData output) and INT64 nanos (older generators). */
class ParquetSchemaSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `ParquetSchema.of` resolves nanos under `nanosAsLong`; infer under
    * it too (inference throws on a nanos column without it). */
  private def withNanosAsLong[A](body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertFooterMatchesInferred(path: String): Unit =
    assert(ParquetSchema.of(spark, path) === spark.read.parquet(path).schema,
      path)

  /** An `events` table whose `ts` is INT64 TIMESTAMP(NANOS), the layout
    * older generators wrote. */
  private lazy val nanosDir = {
    val dir = GraftTestSpark.tmpDir("graftnanos")
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  optional binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration())
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    try Seq((1L, 1704103205123456789L), (2L, 1704106800000000999L))
      .foreach { case (id, ts) =>
        w.write(f.newGroup().append("event_id", id).append("ts", ts)
          .append("user_id", 7L).append("event_type", "view")
          .append("value", 1.5).append("props", "{}"))
      }
    finally w.close()
    dir
  }

  test("footer schema equals the inferred schema for every fixture table") {
    withNanosAsLong {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables)
        assertFooterMatchesInferred(s"${GraftTestSpark.testData}/$sf/$t.parquet")
    }
  }

  test("footer schema equals the inferred schema for GenData (INT96) output") {
    val dir = GraftTestSpark.tmpDir("graftgen")
    val gen = Seq("region", "nation", "orders", "events")
    graft.tools.GenData.gen(spark, dir, 1, Some(gen.toSet))
    withNanosAsLong {
      gen.foreach(t => assertFooterMatchesInferred(s"$dir/$t.parquet"))
    }
    assert(ParquetSchema.of(spark, s"$dir/events.parquet")("ts").dataType
      === TimestampType)
    assert(new java.io.File(s"$dir/orders.parquet").list()
      .count(_.startsWith("part-")) > 1)
  }

  test("an INT64 nanos ts resolves to long and events() truncates to micros") {
    withNanosAsLong {
      assertFooterMatchesInferred(s"$nanosDir/events.parquet")
      assert(ParquetSchema.of(spark, s"$nanosDir/events.parquet")("ts")
        .dataType === LongType)
    }
    val ts = Queries.events(spark, nanosDir)
      .orderBy("event_id").select("ts").collect().map(_.getTimestamp(0))
    assert(ts.map(_.toInstant.toString).toSeq ===
      Seq("2024-01-01T10:00:05.123456Z", "2024-01-01T11:00:00Z"))
  }

  test("events() gives the UTC instants on a non-UTC session, in every layout and reader, and writes no conf") {
    val gen = GraftTestSpark.tmpDir("graftgents")
    graft.tools.GenData.gen(spark, gen, 1, Some(Set("events")))
    val fixture = s"${GraftTestSpark.testData}/sf0.01"
    // one row per layout: row count, and ts as epoch micros (which do
    // not depend on the session time zone): min, max, and the xor of a
    // hash of (event_id, ts) over every row
    def instants(s: org.apache.spark.sql.SparkSession, dir: String) =
      Queries.events(s, dir).selectExpr("count(*)", "min(unix_micros(ts))",
        "max(unix_micros(ts))", "bit_xor(xxhash64(event_id, unix_micros(ts)))")
        .head()
    val layouts = Seq(fixture, gen, nanosDir)
    val utc = layouts.map(instants(spark, _))
    assert((utc.last.getLong(1), utc.last.getLong(2)) ===
      ((1704103205123456L, 1704106800000000L)))
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    for (vectorized <- Seq("true", "false")) {
      la.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      val before = la.conf.getAll
      assert(layouts.map(instants(la, _)) === utc, s"vectorized=$vectorized")
      assert(la.conf.getAll === before)
    }
    // the session keeps its own zone: wall-clock rendering follows it
    val hours = Seq(spark, la).map(s => Queries.events(s, nanosDir)
      .orderBy("event_id").selectExpr("hour(ts)").head().getInt(0))
    assert(hours === Seq(10, 2))
  }

  /** Jobs started by `body` on this thread, counted by a listener
    * that sees the thread-local property every job inherits. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.probe"
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty(key)).contains("body"))
          started.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      PlanBridge.drainListenerBus(sc)
      started.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("table accessors and events() start no Spark job") {
    val dir = s"${GraftTestSpark.testData}/sf0.001"
    val jobs = jobsStartedBy {
      val tb = Tables(spark, dir)
      Seq(tb.region, tb.nation, tb.customer, tb.supplier, tb.part,
        tb.orders, tb.lineitem, tb.events, tb.documents, tb.embeddings)
        .foreach(df => assert(df.schema.nonEmpty))
      Seq(dir, nanosDir).foreach(d =>
        assert(Queries.events(spark, d).schema.nonEmpty))
    }
    assert(jobs === 0)
    // control: the listener does see an inferring read's job
    assert(jobsStartedBy(spark.read.parquet(s"$dir/region.parquet")) > 0)
  }
}
