package graft.batch

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

  def run(spark: SparkSession, sfDir: String, outDir: String,
      job: String): Unit =
    jobs(job).foreach { q =>
      Writers.parquetWithCsv(Queries.all(q)(spark, sfDir),
        s"$outDir/$job/parquet/$q", s"$outDir/$job/csv/$q")
    }

  def runAll(spark: SparkSession, sfDir: String, outDir: String): Unit =
    jobs.keys.toSeq.sorted.foreach(run(spark, sfDir, outDir, _))
}
