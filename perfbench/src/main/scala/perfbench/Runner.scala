package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, cores: Int, data: String, work: String, trace: Trace,
    jvmStartMs: Double) {
  def tracer: Option[Tracer] = trace match {
    case t: Tracer => Some(t)
    case _ => None
  }
}

/** A workload's outcome. `metrics` are the end-to-end metrics,
  * `layers` the per-layer ones (traced run only), `info` figures
  * printed for a reader but not gated, `oracleDirs` result directories
  * (each with an `oracle_sql.json`) that the caller checks against the
  * DuckDB oracle. */
final case class Outcome(metrics: Map[String, Double],
    layers: Map[String, Double], info: Map[String, Double],
    attempted: Int, failures: Seq[String], oracleDirs: Seq[String])

object Stats {
  /** Linear-interpolation quantile of `xs`, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def cause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val msg = String.valueOf(c.getMessage).linesIterator.take(1).mkString
    s"${c.getClass.getSimpleName}: $msg"
  }
}

/** The benchmark JVM. Run by `perfbench/run.py`, which builds the
  * classpath, prepares the data and checks the outputs:
  *
  * {{{
  * Runner --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --data DIR --work DIR --result FILE
  * }}}
  *
  * Writes one JSON object to FILE; logs go to stdout/stderr. */
object Runner {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val cores = a("cores").toInt
    val spark = session(cores, work)
    val trace = if (a("trace") == "1") new Tracer(spark) else NoTrace
    val ctx = Ctx(spark, a("workload"), a("seed").toLong,
      a("seconds").toDouble, cores, a("data"), work, trace, jvmStartMs)
    val out = try {
      val o = ctx.workload match {
        case "tweet_reports" => BatchWorkloads.tweetReports(ctx)
        case "llm_iterative" => BatchWorkloads.llmIterative(ctx)
        case "tweet_stream" => TweetStream.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.tracer.foreach { t =>
        val sp = t.spans("timed")
        writeSpans(s"$work/spans.jsonl", sp, Tracer.selfBySpan(sp))
      }
      // latency percentiles spread too far between runs to gate on
      // (their micro-batch alignment is bimodal): reported, not bounded
      val latency = o.metrics.collect {
        case (k, v) if k.startsWith("latency_") =>
          k.replace("latency_", "latency.") -> v
      }
      o.copy(metrics = o.metrics + ("retained_heap_mb" -> retainedHeapMb()),
        layers = if (ctx.tracer.isDefined) o.layers ++ latency else o.layers)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    writeResult(a("result"), out)
  }

  /** Heap in use after full collections, MB: collects until the used
    * heap stops shrinking, so a late finalizer or a reference cleared
    * by the previous cycle does not decide the figure. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed }
    var last = used()
    var now = used()
    var rounds = 2
    while (now < last * 0.99 && rounds < 8) { last = now; now = used(); rounds += 1 }
    now / (1024.0 * 1024.0)
  }

  private def writeResult(path: String, o: Outcome): Unit = {
    def jm(m: Map[String, Double]) =
      mutable.LinkedHashMap(m.toSeq.sortBy(_._1): _*)
        .map { case (k, v) => k -> java.lang.Double.valueOf(v) }.asJava
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("metrics", jm(o.metrics))
    root.put("layers", jm(o.layers))
    root.put("info", jm(o.info))
    root.put("attempted", o.attempted)
    root.put("failures", o.failures.asJava)
    root.put("oracle_dirs", o.oracleDirs.asJava)
    Files.writeString(Paths.get(path),
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValueAsString(root))
  }

  /** Writes the traced run's spans, one JSON object per line. */
  def writeSpans(path: String, spans: Seq[Span],
      self: Map[Long, Double]): Unit = {
    val om = new ObjectMapper()
    val lines = spans.sortBy(s => (s.start, s.id)).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("kind", s.kind)
      m.put("name", s.name); m.put("op", s.op)
      m.put("start_ms", s.start); m.put("end_ms", s.end)
      m.put("self_ms", self.getOrElse(s.id, 0.0))
      om.writeValueAsString(m)
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
