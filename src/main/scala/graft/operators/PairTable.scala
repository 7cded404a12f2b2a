package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized parquet materialization of the near-dup jaccard pair table
  * — the shared intermediate a production dedup pipeline mines ONCE
  * and derives everything downstream from (clusters, survivors, clean
  * export, centrality ranks).
  *
  * The independent catalog queries (q71/q85/q91/q92/q93) each re-mine
  * this table from scratch so every row stays separately
  * oracle-checkable; that independence is exactly what a real pipeline
  * does NOT do. This operator demonstrates the production composition:
  * [[Dedup.jaccardPairs]] runs once per (JVM, sf-dir) and lands in a
  * parquet table; the q109-q113 pipeline queries read it back. Parquet
  * (not `persist`) because the between-queries cache lifecycle
  * ([[Caches.releaseAll]]) must keep releasing operator persists —
  * a file outlives that, the same way a cluster pipeline's pair table
  * lives in object storage between stages.
  *
  * 100 TB shape: the mined table is tiny relative to the corpus
  * (near-dup pairs, not documents), and every derivation is a keyed
  * shuffle over it — re-reading a columnar file per stage is the cheap
  * part; re-SHINGLING the corpus per stage (what the independent
  * queries must do) is the expensive part this stage removes. The
  * materialization is a BUCKETED table on `id_a` (sorted id_a, id_b),
  * not flat parquet: every consumer keys on id_a (cluster labels,
  * survivor picks, per-doc pair counts), so a bucketed scan arrives
  * already hash-partitioned and the derivation's first aggregation
  * runs with NO Exchange (pinned in ScaleOpsSpec). At 100 TB that is
  * one saved pair-table shuffle per derivation stage.
  */
object PairTable {
  /** Mining parameters — shared with q22's contract (word-3-gram
    * shingles, jaccard ≥ 0.2, stop-shingle df cap 1000). */
  val ShingleN = 3
  val Threshold = 0.2

  /** Bucket count for the materialized tables. Sized for the pair
    * table (pairs, not documents — small relative to corpus); a
    * cluster deployment reading a 100 TB corpus's pair table would
    * raise it, the derivation plans are bucket-count-agnostic. */
  val NBuckets = 16

  private val memo =
    scala.collection.concurrent.TrieMap[String, String]()

  /** The materialized TEXT pair table for `dir` — mines and writes on
    * first use, then reads the parquet back
    * (id_a, id_b, shared, jaccard). */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "jaccard") { s =>
      Dedup.jaccardPairs(graft.Tables(s, dir).documents, ShingleN, Threshold)
    }

  /** The materialized EMBEDDING pair table for `dir` (q81's mining:
    * IVF-bucketed cosine ≥ 0.35, nprobe 2, centroids = vec_id % 100):
    * same memoize-to-parquet lifecycle as [[pairs]], so embedding-level
    * dedup derivations decouple from the corpus the same way. */
  def embedPairs(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "embed") { s =>
      graft.Queries.embedGraphPairs(s, dir, 0.35)
    }

  /** Force a fresh mine+write even when a materialization exists —
    * the bench-honesty path: q109 (the pipeline's mining stage) calls
    * this so its measured cost is the true mining cost on every
    * sample, while the derivation stages (q110-q113) measure their
    * marginal cost against the shared table. */
  def rebuild(spark: SparkSession, dir: String): DataFrame =
    this.synchronized {
      memo.remove(s"$dir|jaccard"): Unit
      pairs(spark, dir)
    }

  private def materialized(spark: SparkSession, dir: String,
      kind: String)(mine: SparkSession => DataFrame): DataFrame = {
    val key = s"$dir|$kind"
    val table = memo.get(key) match {
      case Some(t) => t
      case None => this.synchronized {
        memo.getOrElseUpdate(key, {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_pairs_${kind}_").toFile
          TempDirs.deleteRecursivelyOnExit(root)
          val out = new java.io.File(root, "pairs").getAbsolutePath
          // table name must be unique per (dir, kind) within the
          // session catalog — hash the dir rather than sanitizing it
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(8)
          val name = s"graft_pairs_${kind}_$digest"
          // external bucketed table: data in the exit-deleted temp
          // dir, bucket metadata in the (in-memory) session catalog
          graft.sources.Writers.bucketedTable(mine(spark), name,
            Seq("id_a"), NBuckets, Seq("id_a", "id_b"), Some(out))
          name
        })
      }
    }
    spark.table(table)
  }
}
