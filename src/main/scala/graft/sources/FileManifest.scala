package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Min/max file manifest — the data-skipping layer a table format
  * (Iceberg/Delta) provides, built here from parquet FOOTER stats
  * only (no data read): one small manifest row per (file, column),
  * consulted BEFORE `spark.read` so a selective scan never even
  * lists the non-matching files into its FileIndex. This composes
  * with [[Writers.zorderedParquet]]: Z-order clustering is what makes
  * per-file min/max spans tight on BOTH dimensions, the manifest is
  * what turns tight spans into skipped files without opening any
  * footer at query time.
  *
  * Scale shape: footers are read DISTRIBUTED (one task per file
  * slice — at 100 TB a table has 10⁵–10⁶ files and a driver-side
  * footer loop is a listing bottleneck); the manifest itself is
  * file-count-sized, and [[prunedRead]]'s collect of matching paths
  * is bounded by that same file count (the q134-probe literal class —
  * a serving decision, not a data move).
  *
  * Stats are carried as doubles: exact for longs up to 2^53 and for
  * all floats — beyond that the manifest would widen to typed
  * min/max columns. NULL-only row groups yield no stats row; such
  * files are ALWAYS kept (skipping must never be wrong, only
  * conservative).
  */
object FileManifest {

  val ManifestDir = "_graft_manifest"

  /** Build the manifest for `cols` over every `.parquet` file in
    * `dir`, written as one small parquet under
    * `dir/_graft_manifest`. */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val colSet = cols.toSet
    val rows = spark.createDataset(files)
      .mapPartitions { paths =>
        // tasks re-derive a Configuration: Hadoop's is not
        // serializable, and the default resolves file:// fine
        val taskConf = new org.apache.hadoop.conf.Configuration()
        paths.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), taskConf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val acc = scala.collection.mutable.Map[String, (Double, Double)]()
            r.getRowGroups.forEach { bm =>
              bm.getColumns.forEach { cm =>
                val name = cm.getPath.toDotString
                if (colSet.contains(name)) {
                  val st = cm.getStatistics
                  if (st != null && st.hasNonNullValue) {
                    val (mn, mx) = st.genericGetMin match {
                      case l: java.lang.Long =>
                        (l.doubleValue,
                          st.genericGetMax.asInstanceOf[java.lang.Long].doubleValue)
                      case d: java.lang.Double =>
                        (d.doubleValue,
                          st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
                      case i: java.lang.Integer =>
                        (i.doubleValue,
                          st.genericGetMax.asInstanceOf[java.lang.Integer].doubleValue)
                      case f: java.lang.Float =>
                        (f.doubleValue,
                          st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue)
                      case _ => (Double.NegativeInfinity, Double.PositiveInfinity)
                    }
                    val prev = acc.get(name)
                    acc(name) = prev match {
                      case Some((a, b)) => (math.min(a, mn), math.max(b, mx))
                      case None => (mn, mx)
                    }
                  }
                }
              }
            }
            acc.iterator.map { case (c, (mn, mx)) => (p, c, mn, mx) }.toSeq
          } finally r.close()
        }
      }
      .toDF("file", "col", "min_v", "max_v")
    rows.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$ManifestDir")
  }

  /** Read only the files whose manifest `[min_v, max_v]` for the
    * `value` column overlaps `[lo, hi]`. Files WITHOUT a manifest row
    * for it (null-only stats, late-added files) are kept —
    * conservative, never wrong. The caller still applies the
    * row-level predicate; this only shrinks the file list. */
  def prunedRead(spark: SparkSession, dir: String, lo: Double, hi: Double)
      : DataFrame = {
    import spark.implicits._
    val manifest = spark.read.parquet(s"$dir/$ManifestDir")
    val known = manifest.where($"col" === "value")
    val keep = known.where($"max_v" >= lo && $"min_v" <= hi)
      .select($"file").as[String].collect()
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val all = fs.listStatus(root).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSet
    val knownFiles = known.select($"file").as[String].collect().toSet
    val unknown = all -- knownFiles
    val paths = (keep.toSet ++ unknown).toSeq.sorted
    if (paths.isEmpty) spark.read.parquet(dir).limit(0)
    else spark.read.parquet(paths: _*)
  }
}
