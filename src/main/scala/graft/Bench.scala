package graft
import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Benchmark main — runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Plans execute fully via the
  * noop sink (a bare .count() would let Catalyst elide sorts and
  * projections and under-measure).
  *
  * Methodology (round-2 bench contract):
  *  - n samples per query (SPARK_GRAFT_BENCH_N, default 3; the
  *    subset43 GATE queries always get at least 5 — round-9
  *    noise-control contract); the reported per-query number is the
  *    MIN across samples — the shared host inflates single samples
  *    5-30× under external load, and the min of n identical plan
  *    executions is the engine's actual cost. Each full-subset run
  *    also appends its gate number to BENCH_RUNS.jsonl and the line
  *    carries subset43_best = min across the round's recorded runs.
  *  - operator caches are released between samples
  *    (Caches.releaseAll), so every sample pays the full plan cost —
  *    no cross-sample cache reuse inflating the min.
  *  - failures are NOT silently folded into timings: a query that
  *    throws in any sample reports -1 and lands in "failed" so the
  *    driver can tell a fast query from a broken one; its root cause
  *    goes to stderr and to the record's "errors".
  *  - the stdout line carries the headline fields only ("queries" is
  *    always {}): the driver captures only the last ~2000 chars of
  *    output, and a line that overflows that window is truncated at
  *    the HEAD and fails to parse (BENCH_r01/r02 both recorded
  *    "parsed": null this way). The per-query numbers go to ONE record,
  *    BENCH_QUERIES.json: the same headline fields, the full-name
  *    per-query map, the failures' causes, and each query's layer
  *    record (see [[Layers]]).
  *  - host-load calibration (round-5 contract): a fixed sentinel
  *    micro-query runs immediately before EVERY sample, and the JSON
  *    line carries "calib":{"min","max","drift","reruns"}. The
  *    sentinel's cost is constant on a quiet host, so drift = max/min
  *    is a direct read of external load during the run — BENCH_r04's
  *    144 s vs the same-code quiet 86.5 s was indistinguishable from a
  *    regression without it. A query whose every sample ran while the
  *    adjacent sentinel read > 2× the run's sentinel minimum (all
  *    samples load-suspect) gets one extra n-sample batch before its
  *    min is recorded.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // local-iteration / scale-soak aid: comma-separated name prefixes.
    // The driver never sets it — unset runs the full catalog.
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    val layers = new Layers(spark)
    // Warm up the session (codegen, file index, shuffle machinery) so
    // the first timed query isn't charged ~5 s of JVM startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${rootCause(e)}")
    }
    // Calibration sentinel: fixed-cost micro-query (a 4M-row codegen'd
    // sum — big enough to occupy the worker pool, small enough to cost
    // tens of ms). Its elapsed time varies only with external host
    // load, never with catalog code, so its drift across the run is
    // the load record the per-query numbers get judged against.
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("sum(id * 3 + 7)").collect()
      val s = (System.nanoTime() - t0) / 1e9
      calibSamples += s
      s
    }
    calibrate() // JIT the sentinel itself before any adjacency is recorded
    calibSamples.clear()
    // Gate-noise control (round-9 contract): the subset43 GATE queries
    // get min-of-5 instead of min-of-n — ~1 extra minute buys the gate
    // number two more chances per query to land in a quiet window, so
    // same-code run-to-run variance is load-bounded, not sample-count
    // bounded. Non-gate queries keep the configured n.
    def nFor(name: String): Int =
      if (inSubset(name)) math.max(n, 5) else n
    // One measured batch of nFor(name) samples, each run under its own
    // layer tag; returns per-sample (sec, error, sentinel reading taken
    // immediately before the sample, tag).
    var samplesTaken = 0
    def sampleBatch(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Seq[(Double, Option[String], Double, String)] =
      (1 to nFor(name)).map { _ =>
        val c = calibrate()
        samplesTaken += 1
        val tag = s"$name#$samplesTaken"
        val t0 = System.nanoTime()
        val err = layers.tagged(tag) {
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${rootCause(e)}")
            Some(rootCause(e))
          }
        }
        graft.operators.Caches.releaseAll()
        ((System.nanoTime() - t0) / 1e9, err, c, tag)
      }
    val firstPass = SparkEntry.queries.filter(e => selected(e._1))
      .toSeq.sortBy(_._1).map { case (name, fn) =>
        (name, fn, sampleBatch(name, fn))
      }
    // Load-suspect retry: a query is suspect when EVERY one of its
    // samples was taken while the adjacent sentinel read > 2× the
    // run-wide sentinel minimum — the min-of-n then never saw a quiet
    // host and is itself inflated. One extra batch per suspect, merged
    // by min; bounded by catalog size (worst case doubles the run, and
    // only on a host that was loaded the whole time).
    val calibMin0 = if (calibSamples.isEmpty) 0.0 else calibSamples.min
    var reruns = 0
    val measured = firstPass.map { case (name, fn, samples) =>
      val suspect = calibMin0 > 0 &&
        samples.forall { case (_, _, c, _) => c > 2 * calibMin0 }
      val all =
        if (!suspect) samples
        else {
          reruns += 1
          System.err.println(s"[bench] $name load-suspect " +
            s"(sentinel > 2x min on all ${nFor(name)} samples) — " +
            "extra batch")
          samples ++ sampleBatch(name, fn)
        }
      (name, all.minBy(_._1), all.flatMap(_._2).headOption)
    }
    val results = measured.map { case (name, (v, _, _, _), err) =>
      (name, v, err.isEmpty) }
    val errors = measured.collect { case (name, _, Some(e)) => name -> e }
    PlanBridge.drainListenerBus(spark.sparkContext)
    val layerJson = measured.map { case (name, (_, _, _, tag), _) =>
      name -> layers.take(tag).json }
    val calib =
      if (calibSamples.isEmpty) None
      else Some((calibSamples.min, calibSamples.max, reruns))
    // full-name per-query breakdown for humans. NOTE: the driver's
    // tail capture MERGES stdout and stderr, so these lines do share
    // the ~2000-char window with the JSON line — the contract holds
    // because the JSON line is printed LAST (on either stream) and
    // must itself stay under the window budget.
    results.foreach { case (k, v, ok) =>
      System.err.println(s"[bench] $k ${if (ok) ms(v) else "FAILED"}")
    }
    calib.foreach { case (mn, mx, rr) =>
      System.err.println(s"[bench] calib sentinel min=${ms(mn)} " +
        s"max=${ms(mx)} drift=${ms(mx / mn)}x reruns=$rr " +
        s"(${calibSamples.size} readings)")
    }
    // Same-code run history (round-9 contract): every full-subset run
    // appends its subset43 to BENCH_RUNS.jsonl, and the emitted
    // subset43_best is the minimum across this round's recorded runs
    // at the same sf dir — the gate comparison can then be read
    // against the host's best window, not whichever single run the
    // driver happened to sample under load. Delete the file when the
    // code under the gate changes (each round starts it fresh).
    val runsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS",
      "BENCH_RUNS.jsonl")
    val subset = subset43Of(results)
    // history rows are GATE numbers: only a run that measured the
    // complete 43-query subset may record one — a BENCH_ONLY partial
    // run's passers-only sum would otherwise poison subset43_best
    // downward for every later full run
    val subsetComplete =
      results.count { case (name, _, _) => inSubset(name) } >= 43
    val subsetBest = if (!subsetComplete) -1.0 else try {
      val p = java.nio.file.Paths.get(runsPath)
      // match against the SAME escaped form the writer emits, or a
      // quote/backslash in the sf path would write history it can
      // never read back
      val sfJson = Verify.jsonString(sfDir)
      val prior =
        if (!java.nio.file.Files.exists(p)) Seq.empty[Double]
        else {
          val re = ("\"subset43\":([-0-9.]+).*\"sf\":" +
            java.util.regex.Pattern.quote(sfJson)).r
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(p)).asScala.toSeq
            .flatMap(l => re.findFirstMatchIn(l)
              .map(_.group(1).toDouble).filter(_ >= 0))
        }
      if (subset >= 0 && subsetComplete) {
        java.nio.file.Files.write(p,
          (s"""{"subset43":${ms(subset)},"sf":$sfJson,"n":$n}""" + "\n")
            .getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      val all = prior ++
        (if (subset >= 0 && subsetComplete) Seq(subset) else Nil)
      if (all.isEmpty) -1.0 else all.min
    } catch { case e: Exception =>
      System.err.println(s"[bench] runs history failed: ${rootCause(e)}")
      subset
    }
    val queriesPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES",
      "BENCH_QUERIES.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(queriesPath),
        (record(results, sfDir, n, calib, subsetBest, errors, layerJson) +
          "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] queries write failed: ${rootCause(e)}")
    }
    // stop BEFORE printing: Spark's stop()-time WARN chatter shares
    // the driver's merged tail window, and the contract is that the
    // JSON line is the last thing printed on either stream
    spark.stop()
    println(jsonLine(results, sfDir, n, calib, subsetBest = subsetBest))
  }

  private def ms(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** `ClassName: message` of the innermost cause — the top-level
    * message is often null or a wrapper's. */
  private[graft] def rootCause(e: Throwable): String =
    ExceptionUtils.getRootCauseMessage(e)

  /** The like-for-like gate subset (q01–q43), fail-closed: -1 when
    * any subset query failed or none ran. */
  private[graft] def inSubset(name: String): Boolean =
    name.matches("q\\d\\d_.*") && name.substring(1, 3).toInt <= 43

  private[graft] def subset43Of(
      results: Seq[(String, Double, Boolean)]): Double =
    if (!results.exists { case (name, _, _) => inSubset(name) }) -1.0
    else if (results.exists { case (name, _, ok) => inSubset(name) && !ok })
      -1.0
    else results.collect { case (name, v, true) if inSubset(name) => v }.sum

  /** Streaming-replay query class (the four catalog queries that run
    * a real AvailableNow replay — checkpoint + parquet sink per
    * sample: Queries.replayToParquet call sites). Their cost is
    * micro-batch scheduling, not plan execution, and swings 2× with
    * host load — they get their own subtotal so the batch-query
    * signal in "value" can be read as value − replay_total. */
  private[graft] val ReplayClass = Set("q52", "q73", "q105", "q132")

  /** Iterative-algorithm query class: keyed fixpoints (CC/PageRank/
    * label-prop/k-core), greedy sequential selection, and the
    * triple-mining recall audit. Their cost is ALGORITHM-priced
    * (rounds × keyed shuffles — q93-class re-mines then iterates;
    * q190 is inherently sequential greedy; q192 runs three minings by
    * design), not single-plan execution, so like the replay class
    * they get their own subtotal: the relational signal of a run is
    * value − replay_total − iter_total. */
  private[graft] val IterClass = Set("q81", "q91", "q92", "q93",
    "q118", "q171", "q190", "q191", "q192")

  private def short(name: String): String = name.indexOf('_') match {
    case -1 => name
    case i  => name.substring(0, i)
  }

  /** The headline fields, unclosed, around the caller's `queries` map
    * and `failed` field: the stdout line and the record both come from
    * here, so their shared fields cannot drift apart.
    *
    * subset43 (the like-for-like gate vs the 21.7 s round-1 baseline)
    * and the class subtotals FAIL CLOSED: any failed member reports -1
    * rather than a passers-only sum that would make a broken class look
    * fast, and a run with no member at all (SPARK_GRAFT_BENCH_ONLY
    * filtering) reads -1 too, never a (fast) 0.000. */
  private def headline(results: Seq[(String, Double, Boolean)],
      sfDir: String, n: Int, calib: Option[(Double, Double, Int)],
      subsetBest: Double, queries: String, failed: String): String = {
    def ms2(v: Double): String =
      "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.collect { case (_, v, true) => v }.sum
    def classTotal(cls: Set[String]): Double = {
      def in(name: String): Boolean = cls.contains(short(name))
      if (!results.exists { case (name, _, _) => in(name) }) -1.0
      else if (results.exists { case (name, _, ok) => in(name) && !ok })
        -1.0
      else results.collect { case (name, v, true) if in(name) => v }.sum
    }
    // host-load context, kept on every line: it is the one field that
    // lets a reader tell load from regression
    val calibJson = calib.map { case (mn, mx, rr) =>
      s""","calib":{"min":${ms(mn)},"max":${ms(mx)},"drift":${ms2(
        if (mn > 0) mx / mn else -1.0)},"reruns":$rr}"""
    }.getOrElse("")
    // subset43_best: the round's best same-code gate number (see the
    // BENCH_RUNS.jsonl history in main) — only emitted when a history
    // exists, so one-off local lines stay unchanged
    val bestJson =
      if (subsetBest >= 0) s""","subset43_best":${ms(subsetBest)}"""
      else ""
    s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$queries,"subset43":${ms(subset43Of(results))}$bestJson,"replay_total":${ms(classTotal(ReplayClass))},"iter_total":${ms(classTotal(IterClass))},"sf":${Verify.jsonString(sfDir)},"n":$n,"failed":$failed$calibJson"""
  }

  private def failedJson(results: Seq[(String, Double, Boolean)]): String =
    results.collect { case (name, _, false) => "\"" + short(name) + "\"" }
      .mkString("[", ",", "]")

  /** The driver-contract stdout line from per-query results (name, min
    * seconds, all-samples-ok): the headline fields with an empty
    * `queries` map. A mass-failure run whose `failed` list would push
    * the line past 1800 chars prints the list as an `n_failed` count. */
  private[graft] def jsonLine(
      results: Seq[(String, Double, Boolean)],
      sfDir: String, n: Int,
      calib: Option[(Double, Double, Int)] = None,
      subsetBest: Double = -1.0): String = {
    def line(failed: String) =
      headline(results, sfDir, n, calib, subsetBest, "{}", failed) + "}"
    val full = line(failedJson(results))
    if (full.length <= 1800) full
    else {
      System.err.println(s"[bench] json line ${full.length} chars > 1800" +
        " — printing the failed list as a count")
      line(s"""[],"n_failed":${results.count(!_._3)}""")
    }
  }

  /** The per-query record (BENCH_QUERIES.json): the stdout line's
    * headline fields, the full-name per-query map at 3 decimals (-1 for
    * a failed query), each failed query's root cause in `errors`, and
    * each query's [[Layer]] JSON (of its min sample) in `layers`. */
  private[graft] def record(
      results: Seq[(String, Double, Boolean)],
      sfDir: String, n: Int,
      calib: Option[(Double, Double, Int)],
      subsetBest: Double,
      errors: Seq[(String, String)],
      layers: Seq[(String, String)]): String = {
    val queries = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) ms(v) else "-1") }.mkString("{", ",", "}")
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    headline(results, sfDir, n, calib, subsetBest, queries,
      failedJson(results)) +
      s""","errors":${obj(errors.map { case (k, e) => k -> Verify.jsonString(e) })}""" +
      s""","layers":${obj(layers)}}"""
  }

  /** One sample's layer record, summed over the jobs tagged with it:
    * scheduler counts, executor time split into CPU and GC, I/O bytes,
    * the three slowest stages, and — for a streaming replay — its
    * micro-batch count and summed `durationMs` phases. A slow stage
    * carries its name (Spark's call site), the operator scopes of its
    * RDDs (`ops`: `Exchange`, `WholeStageCodegen (2)`, `Scan parquet`,
    * ...) and the SQL execution that ran it (`sql_id`, null outside
    * one). */
  private[graft] final class Layer {
    var jobs, stages, tasks, batches = 0
    var jobWallMs, taskMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    /** (stage name, wall ms, task ms, ops, sql id), slowest first. */
    var slowest = List.empty[(String, Long, Long, Seq[String], Option[String])]
    val batchMs = scala.collection.mutable.TreeMap.empty[String, Long]

    def json: String = {
      val top = slowest.map { case (name, wall, task, ops, sqlId) =>
        s"""{"name":${Verify.jsonString(name)},"wall_ms":$wall,"task_ms":$task,""" +
          s""""ops":${ops.map(Verify.jsonString).mkString("[", ",", "]")},""" +
          s""""sql_id":${sqlId.getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      val phases = batchMs.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""job_wall_ms":$jobWallMs,"task_ms":$taskMs,""" +
        s""""cpu_ms":${cpuNs / 1000000},"gc_ms":$gcMs,""" +
        s""""input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""slowest_stages":$top,"batches":$batches,"batch_ms":$phases}"""
    }
  }

  /** The local property that tags a job with its sample. */
  private[graft] val SampleKey = "graft.bench.sample"

  /** The run's one listener: attributes each job to the sample whose
    * tag was the [[SampleKey]] local property when it started. A local
    * property, not the job group: a replay's stream thread inherits the
    * bench thread's properties, but `StreamExecution` overwrites the
    * job group. A streaming progress event belongs to the sample whose
    * jobs carried its query id. Events arrive on the listener bus
    * thread; read a tag with [[take]] after
    * `PlanBridge.drainListenerBus`. */
  private[graft] final class Layers(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val byTag =
      new java.util.concurrent.ConcurrentHashMap[String, Layer]()
    // the rest is touched by the bus thread only
    private val jobStart = scala.collection.mutable.HashMap.empty[Int, (String, Long)]
    /** stage id → (sample tag, SQL execution id) */
    private val stageTag =
      scala.collection.mutable.HashMap.empty[Int, (String, Option[String])]
    private val queryTag = scala.collection.mutable.HashMap.empty[String, String]
    sc.addSparkListener(this)

    private def layer(tag: String): Layer =
      byTag.computeIfAbsent(tag, _ => new Layer)
    private def prop(p: java.util.Properties, k: String): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(k)))

    /** Runs `body` with this thread's jobs tagged `tag`. */
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(SampleKey, tag)
      try body finally sc.setLocalProperty(SampleKey, null)
    }

    /** The record of `tag` (empty if none of its jobs ran). */
    def take(tag: String): Layer =
      Option(byTag.remove(tag)).getOrElse(new Layer)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      prop(e.properties, SampleKey).foreach { tag =>
        layer(tag).jobs += 1
        jobStart(e.jobId) = (tag, e.time)
        prop(e.properties, "sql.streaming.queryId").foreach(queryTag(_) = tag)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (tag, t0) =>
        layer(tag).jobWallMs += e.time - t0
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      prop(e.properties, SampleKey).foreach { tag =>
        stageTag(e.stageInfo.stageId) =
          (tag, prop(e.properties, SQLExecution.EXECUTION_ID_KEY))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTag.remove(e.stageInfo.stageId).foreach { case (tag, sqlId) =>
        val (si, l) = (e.stageInfo, layer(tag))
        val m = si.taskMetrics
        l.stages += 1
        l.tasks += si.numTasks
        l.taskMs += m.executorRunTime
        l.cpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.inputBytes += m.inputMetrics.bytesRead
        l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(0L)
        val ops = PlanBridge.scopeNames(si)
        l.slowest = ((si.name, wall, m.executorRunTime, ops, sqlId) :: l.slowest)
          .sortBy(-_._2).take(3)
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent =>
        queryTag.get(p.progress.id.toString).foreach { tag =>
          val l = layer(tag)
          l.batches += 1
          p.progress.durationMs.forEach { (k, v) =>
            l.batchMs(k) = l.batchMs.getOrElse(k, 0L) + v }
        }
      case _ =>
    }
  }
}
