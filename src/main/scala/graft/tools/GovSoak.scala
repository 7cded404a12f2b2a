package graft.tools

import org.apache.spark.sql.functions._

import graft.operators._

/** Governance-pack scale probe: `GovSoak <sfDir>` measures the
  * constraint suite's central claim — N constraints cost ONE scan, so
  * suite wall-clock is ~flat in N — plus the row-level enforce
  * routing's cost over a plain scan. Runs grouped-by-source suites of
  * 1 / 6 / 12 / 24 constraints (min of 2 samples each), a 6+distinct
  * variant isolating UniqueRatio's extra (group, key) pre-aggregation
  * stage, and the enforce+rollup pass vs a bare count. BASELINE.md
  * pins the table. */
object GovSoak {

  private def family(i: Int): Seq[Constraint] = Seq(
    Completeness("text", 0.99 - i * 0.001),
    MinBound("n_chars", 40.0 + i),
    MaxBound("n_chars", 500.0 + i),
    MatchRatio("lang", "^(en|de|fr|es)$", 0.9 - i * 0.001),
    InSetRatio("lang", Seq("en", "de", "fr", "es", "zh"),
      1.0 - i * 0.001),
    SizeMin(1.0 + i))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count() // warm the file listing + footer cache

    def timed(label: String, n: Long)(body: => Long): Unit = {
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = body
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      println(f"""{"tool":"govsoak","dir":"$dir","n":$n,"case":"$label","rows":${secs.head._2},"secs":${secs.map(_._1).min}%.2f}""")
    }
    def time(label: String)(body: => Long): Unit =
      timed(label, nDocs)(body)

    time("suite_1")(Constraints.run(docs,
      family(0).take(1), Seq("source")).count())
    time("suite_6")(Constraints.run(docs,
      family(0), Seq("source")).count())
    time("suite_12")(Constraints.run(docs,
      family(0) ++ family(1), Seq("source")).count())
    time("suite_24")(Constraints.run(docs,
      (0 until 4).flatMap(family), Seq("source")).count())
    time("suite_6_plus_distinct")(Constraints.run(docs,
      family(0) :+ UniqueRatio("doc_id", 1.0), Seq("source")).count())
    // round-9 array-slice constraints: the HLL register slice should
    // cost one md5 per row + 256 branchy max-updates (NOT the
    // two-phase distinct rewrite UniqueRatio forces), and the
    // histogram slice a 7-comparison fold — both ride the same single
    // aggregation pass
    time("suite_6_plus_hll")(Constraints.run(docs,
      family(0) :+ ApproxUniqueRatio("doc_id", 0.5), Seq("source"))
      .count())
    time("suite_6_plus_hist")(Constraints.run(docs,
      family(0) :+ HistogramDrift("n_chars",
        Seq(60.0, 120.0, 180.0, 240.0, 300.0, 360.0, 420.0),
        Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L), 1.0e12),
      Seq("source")).count())
    time("enforce_route")(Constraints
      .enforce(docs, family(0))
      .select(col("source"),
        explode(when(size(col("violations")) === 0,
          array(lit("(clean)"))).otherwise(col("violations")))
          .as("disposition"))
      .groupBy(col("source"), col("disposition")).count().count())
    time("bare_scan")(docs.groupBy(col("source")).count().count())

    // the row-volume case: the same ladder over lineitem (~12× the
    // documents row count at gen10), numeric + flag constraints, so
    // flatness is measured where the scan is data-bound rather than
    // file-overhead-bound. Skipped when the corpus was generated
    // documents-only (GenData table subsets).
    val liPath = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    if (!liPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(liPath)) {
      spark.stop(); return
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nLi = li.count()
    def timeLi(label: String)(body: => Long): Unit =
      timed(label, nLi)(body)
    def liFam(i: Int): Seq[Constraint] = Seq(
      Completeness("l_quantity", 0.99 - i * 0.001),
      MinBound("l_quantity", 1.0 - i),
      MaxBound("l_extendedprice", 1.0e9 + i),
      MinBound("l_discount", -0.01 - i * 0.001),
      MaxBound("l_tax", 1.0 + i),
      InSetRatio("l_returnflag", Seq("A", "N", "R"), 1.0 - i * 0.001))
    timeLi("li_suite_1")(Constraints.run(li,
      liFam(0).take(1), Seq("l_returnflag")).count())
    timeLi("li_suite_6")(Constraints.run(li,
      liFam(0), Seq("l_returnflag")).count())
    timeLi("li_suite_24")(Constraints.run(li,
      (0 until 4).flatMap(liFam), Seq("l_returnflag")).count())
    timeLi("li_suite_6_plus_hll")(Constraints.run(li,
      liFam(0) :+ ApproxUniqueRatio("l_orderkey", 0.01),
      Seq("l_returnflag")).count())
    timeLi("li_bare_scan")(li.groupBy(col("l_returnflag")).count().count())

    spark.stop()
  }
}
