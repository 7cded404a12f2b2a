package graft.tools
import org.apache.spark.scheduler._

/** Per-query profiling aid for optimization rounds: runs each named
  * catalog query through the bench's noop-sink methodology and prints
  * a per-job / per-stage wall+task-time breakdown from a listener, so
  * a hot query's cost can be attributed to its actual stages without
  * the (disabled) UI. Usage:
  *   runMain graft.tools.QueryProf <qname> [<qname> ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PROF_N (default 2).
  * Diagnostic tool only — never on a query path.
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_PROF_N", "2").toInt
    // A/B experiment hook: SPARK_GRAFT_PROF_CONF="k=v;k=v"
    val confs = sys.env.get("SPARK_GRAFT_PROF_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt,
      confs: _*)
    spark.range(1000000).selectExpr("sum(id)").collect()

    case class StageRow(stageId: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, shuffleReadMB: Double,
      shuffleWriteMB: Double, inputMB: Double, spillMB: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stages.add(StageRow(si.stageId, si.name, si.numTasks, wall,
          tm.executorRunTime,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6,
          tm.inputMetrics.bytesRead / 1e6,
          tm.diskBytesSpilled / 1e6))
        ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart.put(js.jobId, (js.time, desc)); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(je.jobId)).foreach { case (t0, desc) =>
          jobs.add((je.jobId, desc, je.time - t0))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (q <- args) {
      val fn = graft.Queries.all(q)
      // warm sample first (parity with bench min-of-n), profile the next
      var best = Double.MaxValue
      for (i <- 1 to n) {
        stages.clear(); jobs.clear(); jobStart.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.operators.Caches.releaseAll()
        best = math.min(best, sec)
        println(f"===== $q sample $i: $sec%.3f s =====")
        if (i == n) {
          import scala.jdk.CollectionConverters._
          val rows = stages.asScala.toSeq.sortBy(-_.wallMs)
          println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s " +
            f"${"task_ms"}%9s ${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s " +
            f"${"spill"}%6s  name")
          rows.take(30).foreach { r =>
            println(f"${r.stageId}%6d ${r.tasks}%5d ${r.wallMs}%8d " +
              f"${r.taskMs}%9d ${r.inputMB}%8.1f ${r.shuffleReadMB}%8.1f " +
              f"${r.shuffleWriteMB}%8.1f ${r.spillMB}%6.1f  ${r.name.take(60)}")
          }
          val js = jobs.asScala.toSeq.sortBy(-_._3)
          println(s"-- jobs: ${js.size} total, " +
            f"sum wall ${js.map(_._3).sum / 1000.0}%.2f s; slowest:")
          js.take(12).foreach { case (id, desc, ms) =>
            println(f"  job $id%4d ${ms}%7d ms  ${desc.take(70)}")
          }
          println(f"===== $q best of $n: $best%.3f s, stages=${rows.size} " +
            f"jobs=${js.size} =====")
        }
      }
    }
    spark.stop()
  }
}
