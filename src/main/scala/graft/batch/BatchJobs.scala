package graft.batch

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}

import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.sql.SparkSession

import graft.Queries
import graft.sources.Writers

/** The reference's five batch jobs (SURVEY §2.12 BQ1-BQ18) as report
  * bundles over the query catalog, with the reference's dual-write
  * contract (single-file CSV artifact + parquet — K5/K6). A reference
  * user runs `BatchJobs.runAll(spark, sfDir, outDir)` and gets the
  * same kind of report tree their jobs produce today. Each query runs
  * once: its CSV is derived from its parquet artifact
  * ([[Writers.parquetWithCsv]]), so the two cannot diverge.
  */
object BatchJobs {

  /** job → the catalog queries that re-express its result relations. */
  val jobs: Map[String, Seq[String]] = Map(
    // job1_locations-analog: entity profiling + pivot comparison
    "profiles" -> Seq("q05_event_pivot", "q06_user_behavior",
      "q24_source_profile"),
    // job2_historico-analog: volumes, influencers, summary
    "history" -> Seq("q14_union_funnel", "q15_top_users_pct",
      "q16_event_summary", "q39_running_revenue", "q44_ship_delay"),
    // job3_patron_temporal-analog: hourly/weekday/heatmap/weekend
    "temporal" -> Seq("q08_hourly", "q09_weekday", "q10_heatmap",
      "q13_weekend", "q31_sessions"),
    // job4_spam-analog: quality flags + composite scoring
    "quality" -> Seq("q19_lang_quality", "q20_sentiment",
      "q21_dedup_exact", "q40_simhash", "q46_quality_filter",
      "q45_stratified_sample"),
    // job5_menciones-analog: term extraction + top-k
    "terms" -> Seq("q18_top_tokens", "q27_extract_terms",
      "q42_tfidf_terms"))

  /** Writes every query of `job` under `outDir/job/{parquet,csv}/<q>`.
    *
    * The queries are independent, so each is built and written as one
    * task on a fixed pool of `jobs(job).size` threads, named
    * `batch-<job>-<n>`, created by this call and ended (shut down, every
    * thread joined) before it returns or throws: while the driver plans,
    * commits and renames one report, the executors run another's jobs.
    * Plans and artifact bytes are those of a serial write. Pool threads
    * are started on the calling thread, so they inherit its Spark local
    * properties (job group and description, scheduler pool, any caller
    * tag): `cancelJobGroup` on the caller's group reaches every write.
    *
    * Failure contract: the call waits for every task, then throws one
    * `RuntimeException` naming each failed query with its root cause
    * (the first failure is the cause, the others are suppressed). The
    * artifacts of the queries that succeeded are written in full.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      job: String): Unit = {
    val queries = jobs(job)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(queries.size, { (r: Runnable) =>
      val t = new Thread(r, s"batch-$job-${threads.size + 1}")
      threads.add(t)
      t
    })
    try {
      val tasks = queries.map { q =>
        val write: Runnable = () => Writers.parquetWithCsv(
          Queries.all(q)(spark, sfDir),
          s"$outDir/$job/parquet/$q", s"$outDir/$job/csv/$q")
        q -> pool.submit(write)
      }
      val failed = tasks.flatMap { case (q, task) =>
        try { task.get(); None }
        catch { case e: ExecutionException => Some(q -> e.getCause) }
      }
      failed.headOption.foreach { case (_, first) =>
        val e = new RuntimeException(s"batch job $job: ${failed.size} of " +
          s"${queries.size} queries failed: " + failed.map { case (q, c) =>
            s"$q: ${ExceptionUtils.getRootCauseMessage(c)}" }.mkString("; "),
          first)
        failed.tail.foreach { case (_, c) => e.addSuppressed(c) }
        throw e
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  def runAll(spark: SparkSession, sfDir: String, outDir: String): Unit =
    jobs.keys.toSeq.sorted.foreach(run(spark, sfDir, outDir, _))
}
