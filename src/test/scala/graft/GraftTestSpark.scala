package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object GraftTestSpark {
  /** Root of the read-only fixture tables (TESTDATA.md): sf0.001,
    * sf0.01 and sf0.1 directories of one parquet file per table. */
  val testData = "/root/testdata"

  /** Create a temp dir REGISTERED for JVM-exit deletion — every spec
    * temp dir (sources, sinks, checkpoints) goes through here so test
    * runs don't accrete directories under java.io.tmpdir. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    graft.operators.TempDirs.deleteRecursivelyOnExit(d.toFile)
    d.toString
  }

  /** Run a test body that persists tracked frames / reliable
    * checkpoints, guaranteeing Caches.releaseAll() even when an
    * assertion fails mid-body — otherwise the failed test's cached
    * frames bleed memory into every later test in the shared session. */
  def withCaches[A](body: => A): A =
    try body finally graft.operators.Caches.releaseAll()

  /** A session on the shared context built as a caller's own
    * `SparkSession.builder()` builds one: without the graft extension. */
  def plainSession(): SparkSession = {
    spark.sparkContext // the shared context exists first
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  lazy val spark: SparkSession = {
    val s = GraftExtensions.session("local[4]", 4,
      "spark.sql.warehouse.dir" -> tmpDir("graftwh"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
