package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{Queries, SparkEntry, Tables}
import graft.batch.BatchJobs
import graft.operators.Caches

/** The two batch workloads. Both are one closed-loop client: an op
  * starts when the previous one returned. A run is `WarmupPasses`
  * untimed passes (part of set-up), then timed passes until `seconds`
  * have elapsed (at least one), then the output checks. The seed only
  * permutes the op order of each pass. */
object BatchWorkloads {

  /** Report jobs of `tweet_reports`: each op is one
    * `BatchJobs.run(spark, data, out, job)` call, which builds every
    * query of the job and writes it as single-file CSV and as parquet.
    * One job (three queries) is what fits the run budget: every run pays
    * a cold JVM, and the warm-up pass of a second job adds ~15 s. */
  val ReportJobs: Seq[String] = Seq("profiles")

  /** Ops of `llm_iterative`: each is `Queries.all(name)(spark, data)`
    * executed into the noop sink. */
  val LlmOps: Seq[String] =
    Seq("q135_jaccard_join", "q171_kcore")

  /** Untimed passes before the timed ones: the first runs cold, the
    * rest let the JIT settle. With two, `pass_s` of `tweet_reports` was
    * bimodal between runs (interquartile spread 0.22 of the median);
    * with four it is within 0.09. */
  val WarmupPasses = 4

  final case class Passes(setupS: Double, passS: Seq[Double],
      opMs: Seq[Double], attempted: Int, failures: Seq[String])

  /** Warm-up passes, then timed passes. A pass with a failed op does not
    * count towards `passS`, and a failed op not towards `opMs`. */
  def runPasses(ctx: Ctx, ops: Seq[String], warm: String => Unit,
      timed: String => Unit): Passes = {
    val failures = ArrayBuffer.empty[String]
    def attempt(name: String)(f: => Unit): Boolean =
      try { f; true } catch {
        case e: Throwable =>
          failures += s"$name: ${Stats.cause(e)}"
          false
      }
    def order(pass: Int): Seq[String] =
      new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(ops)

    ctx.trace.region("warmup")
    (1 to WarmupPasses).foreach(w =>
      order(-w).foreach(o => attempt(o)(ctx.trace.op(o)(warm(o)))))
    ctx.trace.region("timed")
    val setupS = (Clock.nowMs - ctx.jvmStartMs) / 1000.0
    val passS = ArrayBuffer.empty[Double]
    val opMs = ArrayBuffer.empty[Double]
    var attempted = 0
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      pass += 1
      val p0 = System.nanoTime()
      val ok = ctx.trace.span("pass", s"pass$pass") {
        order(pass).map { o =>
          val s = System.nanoTime()
          attempted += 1
          val good = attempt(o)(ctx.trace.op(o)(timed(o)))
          if (good) opMs += (System.nanoTime() - s) / 1e6
          good
        }.forall(identity)
      }
      if (ok) passS += (System.nanoTime() - p0) / 1e9
    }
    ctx.trace.region("probe")
    Passes(setupS, passS.toSeq, opMs.toSeq, attempted, failures.toSeq)
  }

  def endToEnd(p: Passes): Map[String, Double] = Map(
    "setup_s" -> p.setupS,
    "pass_s" -> Stats.median(p.passS),
    "latency_p50_ms" -> Stats.quantile(p.opMs, 0.5),
    "latency_p90_ms" -> Stats.quantile(p.opMs, 0.9))

  def info(p: Passes): Map[String, Double] = Map(
    "passes" -> p.passS.size.toDouble,
    "op_samples" -> p.opMs.size.toDouble,
    "failed_ratio" -> p.failures.size.toDouble / math.max(1, p.attempted))

  /** `oracle_sql.json` for `names` into `dir`, in the layout
    * `tools/oracle_check.py` reads next to the result directories. */
  def writeOracles(dir: String, names: Seq[String]): Unit = {
    val m = new java.util.TreeMap[String, String]()
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(m.put(n, _)))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(m))
  }

  def tweetReports(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = s"${ctx.work}/reports"
    def run(job: String): Unit = {
      BatchJobs.run(spark, ctx.data, out, job)
      Caches.releaseAll()
    }
    val p = runPasses(ctx, ReportJobs, run, run)
    // the last pass's artifacts: CSV rows against parquet rows here,
    // parquet against the DuckDB oracle by the caller
    val failures = ArrayBuffer.from(p.failures)
    ReportJobs.foreach { job =>
      BatchJobs.jobs(job).foreach { q =>
        try {
          val pq = spark.read.parquet(s"$out/$job/parquet/$q").count()
          val csv = spark.read.option("header", "true")
            .option("multiLine", "true").csv(s"$out/$job/csv/$q").count()
          if (pq != csv) failures += s"$q: csv rows $csv != parquet rows $pq"
        } catch { case e: Throwable => failures += s"$q: ${Stats.cause(e)}" }
      }
      writeOracles(s"$out/$job/parquet", BatchJobs.jobs(job))
    }
    val layers = ctx.tracer.map { t =>
      val queries = ReportJobs.flatMap(BatchJobs.jobs)
      val builds = queries.map(q => t.probe(s"build:$q")(Queries.all(q)(spark, ctx.data)))
      Caches.releaseAll()
      t.layerMetrics(p.passS.size, ctx.cores) ++ readProbe(ctx, t) ++ Map(
        "queries.build_ms" -> builds.map(_._1).sum,
        "queries.build_jobs" -> builds.map(_._2).sum.toDouble,
        "trace.pass_s" -> Stats.median(p.passS))
    }.getOrElse(Map.empty)
    Outcome(endToEnd(p), layers, info(p), p.attempted, failures.toSeq,
      ReportJobs.map(j => s"$out/$j/parquet"))
  }

  def llmIterative(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = s"${ctx.work}/llm"
    // the warm-up passes write each result for the oracle check; the
    // timed passes execute into the noop sink
    def warm(q: String): Unit = {
      Queries.all(q)(spark, ctx.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$q")
      Caches.releaseAll()
    }
    def timed(q: String): Unit = {
      val df = ctx.trace.span("build", q)(Queries.all(q)(spark, ctx.data))
      ctx.trace.span("action", q)(
        df.write.format("noop").mode("overwrite").save())
      Caches.releaseAll()
    }
    val p = runPasses(ctx, LlmOps, warm, timed)
    writeOracles(out, LlmOps)
    val layers = ctx.tracer.map { t =>
      t.layerMetrics(p.passS.size, ctx.cores) ++ readProbe(ctx, t) +
        ("trace.pass_s" -> Stats.median(p.passS))
    }.getOrElse(Map.empty)
    Outcome(endToEnd(p), layers, info(p), p.attempted, p.failures, Seq(out))
  }

  /** `tables.read_ms` and `tables.read_jobs`: every `Tables` accessor
    * and `Queries.events`, each read three times, probed directly. */
  def readProbe(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val tables = Tables(ctx.spark, ctx.data)
    val reads: Seq[(String, () => Any)] = Seq(
      "region" -> (() => tables.region), "nation" -> (() => tables.nation),
      "customer" -> (() => tables.customer),
      "supplier" -> (() => tables.supplier), "part" -> (() => tables.part),
      "orders" -> (() => tables.orders),
      "lineitem" -> (() => tables.lineitem),
      "documents" -> (() => tables.documents),
      "embeddings" -> (() => tables.embeddings),
      "events" -> (() => Queries.events(ctx.spark, ctx.data)))
    val samples = (1 to 3).flatMap(_ =>
      reads.map { case (n, f) => t.probe(s"read:$n")(f()) })
    Map("tables.read_ms" -> Stats.median(samples.map(_._1)),
      "tables.read_jobs" -> samples.map(_._2).sum.toDouble / samples.size)
  }
}
