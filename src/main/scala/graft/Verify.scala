package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration aid; the driver always runs the full catalog)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.rootCause(e)}")
      }
      // release operator-internal persists between queries (lifecycle
      // contract — see graft.operators.Caches)
      graft.operators.Caches.releaseAll()
    }
    val subset = SparkEntry.oracleSql.filter(e => selected(e._1))
      .toSeq.map { case (k, v) => (jsonString(k), jsonString(v)) }
    val path = Paths.get(s"$outDir/oracle_sql.json")
    // a SUBSET run into a dir already holding a fuller oracle map
    // MERGES (subset entries replace their keys, the rest survive):
    // a plain rewrite would silently shrink the map, and the next
    // full oracle_check on that dir would "pass" having compared
    // only the subset. Full runs still rewrite.
    val existing: Option[String] =
      if (only.isDefined && Files.exists(path)) Some(Files.readString(path))
      else None
    Files.writeString(path, mergedJson(existing, subset))
    spark.stop()
  }

  /** `s` as a quoted JSON string. Escapes backslash, quote and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Subset entries replace their keys in `existingJson`; everything
    * else survives verbatim. */
  private[graft] def mergedJson(existingJson: Option[String],
      subset: Seq[(String, String)]): String = {
    val existing = existingJson.map(parseFlat).getOrElse(Seq.empty)
    val newKeys = subset.map(_._1).toSet
    (existing.filterNot(p => newKeys(p._1)) ++ subset)
      .map { case (k, v) => s"$k: $v" }.mkString("{", ",", "}")
  }

  /** Parses the flat one-level `{"k": "v", ...}` JSON this object
    * itself writes, returning RAW (still-escaped, still-quoted)
    * key/value tokens — merging needs identity on keys (query names,
    * never escaped) and pass-through on values, not decoding. */
  private[graft] def parseFlat(json: String): Seq[(String, String)] = {
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < json.length) {
      if (json(i) == '"') {
        val sb = new StringBuilder("\"")
        i += 1
        // bounds-checked: a truncated/corrupt existing map (e.g. an
        // interrupted write) must fail with a clear "regenerate this
        // file" message, not a StringIndexOutOfBoundsException
        while (i < json.length && json(i) != '"') {
          if (json(i) == '\\') {
            require(i + 1 < json.length,
              "malformed/truncated oracle_sql.json (dangling escape) — " +
                "delete the file and re-run a full Verify")
            sb.append(json(i)).append(json(i + 1)); i += 2
          } else { sb.append(json(i)); i += 1 }
        }
        require(i < json.length,
          "malformed/truncated oracle_sql.json (unterminated string) — " +
            "delete the file and re-run a full Verify")
        i += 1
        toks += sb.append('"').toString
      } else i += 1
    }
    require(toks.size % 2 == 0,
      s"unpairable oracle_sql.json: ${toks.size} string tokens")
    toks.grouped(2).map { case scala.collection.Seq(k, v) => (k, v) }.toSeq
  }
}
