package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the epoch-millisecond times Spark's events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. `parent` is 0 for a root. */
final case class Span(id: Long, kind: String, name: String, start: Double,
    end: Double, parent: Long, op: String, region: String) {
  def dur: Double = end - start
}

/** What the workloads call around each layer boundary. The timed runs
  * get [[NoTrace]]; the traced run gets a [[Tracer]]. */
trait Trace {
  /** Current measurement region: "warmup", "timed" or "probe". */
  def region(r: String): Unit = ()
  def op[A](name: String)(f: => A): A = f
  def span[A](kind: String, name: String)(f: => A): A = f
}

object NoTrace extends Trace

/** The traced run: Spark's public listeners (SparkListener,
  * QueryExecutionListener, StreamingQueryListener) plus spans the
  * runner records around each call. Everything is kept in memory and
  * turned into per-layer metrics and a span dump when the run ends.
  *
  * Attribution: the runner drains the listener bus at the end of every
  * op, so each listener event is tagged with the op and region current
  * when it is delivered. SQL executions and jobs hang under the
  * innermost runner span that contains their start; stages under their
  * job; streaming batches under their query and jobs under the batch
  * that ran them. */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  @volatile private var curRegion = "warmup"
  @volatile private var curOp = ""
  @volatile private var curSpan = 0L
  private val runnerSpans = ArrayBuffer.empty[Span]

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  private val qes = ArrayBuffer.empty[QeRec]
  private val progress = ArrayBuffer.empty[(StreamingQueryProgress, String)]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val p = e.properties
        jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
          e.stageIds, prop(p, "spark.sql.execution.id").map(_.toLong),
          prop(p, "sql.streaming.queryId"),
          prop(p, "streaming.sql.batchId").map(_.toLong), curOp, curRegion)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
        s.start = e.stageInfo.submissionTime.getOrElse(0L).toDouble
        s.end = e.stageInfo.completionTime.getOrElse(0L).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      Tracer.this.synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart =>
            sqls(s.executionId) = SqlRec(s.executionId, s.time.toDouble,
              s.time.toDouble, curOp, curRegion)
          case s: SparkListenerSQLExecutionEnd =>
            sqls.get(s.executionId).foreach(_.end = s.time.toDouble)
          case _ =>
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ph(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      val shape = Tracer.shape(qe.executedPlan)
      val write = qe.analyzed.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand =>
          c.fileFormat.getClass.getSimpleName.toLowerCase
            .replace("fileformat", "")
      }
      val bytes = Tracer.nodes(qe.executedPlan).collect {
        case d: DataWritingCommandExec =>
          d.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized {
        qes += QeRec(curOp, curRegion, ph("analysis"), ph("optimization"),
          ph("planning"), shape(0), shape(1), shape(2), shape(3), write,
          durationNs / 1e6, bytes)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += ((e.progress, curRegion)) }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = Bus.drain(sc)

  override def region(r: String): Unit = { drain(); curRegion = r }

  override def op[A](name: String)(f: => A): A = {
    curOp = name
    sc.setLocalProperty("perfbench.op", name)
    try span("op", name)(f) finally drain()
  }

  override def span[A](kind: String, name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = curSpan
    curSpan = id
    val start = Clock.nowMs
    try f finally {
      val end = Clock.nowMs
      synchronized {
        runnerSpans += Span(id, kind, name, start, end, parent, curOp, curRegion)
      }
      curSpan = parent
    }
  }

  // ---------------------------------------------------------------
  // The span tree
  // ---------------------------------------------------------------

  /** Every span of `region`: the runner's, plus SQL executions, jobs,
    * stages, streaming batches and their `durationMs` phases. */
  def spans(region: String): Seq[Span] = synchronized {
    val out = ArrayBuffer.empty[Span]
    val runner = runnerSpans.filter(_.region == region).toSeq
    out ++= runner
    def innermost(t: Double, among: Seq[Span]): Option[Span] =
      among.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption
    // streaming: batch spans under the query span, phases laid out in
    // execution order inside the batch
    val queries = runner.filter(_.kind == "query")
    val batchSpan = mutable.HashMap.empty[(String, Long), Span]
    val phaseOrder = Seq("latestOffset", "getOffset", "walCommit",
      "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    progress.filter(_._2 == region).map(_._1).foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
      val end = start + d.getOrElse("triggerExecution", 0L)
      val parent = queries.headOption.map(_.id).getOrElse(0L)
      val b = Span(ids.incrementAndGet(), "batch", s"${p.runId}#${p.batchId}",
        start, end, parent, p.name, region)
      out += b
      var t = start
      val keys = phaseOrder.filter(d.contains) ++
        (d.keySet -- phaseOrder - "triggerExecution").toSeq.sorted
      keys.foreach { k =>
        val ph = Span(ids.incrementAndGet(), "phase", k, t,
          math.min(end, t + d(k)), b.id, p.name, region)
        out += ph
        if (k == "addBatch") batchSpan((p.id.toString, p.batchId)) = ph
        t = ph.end
      }
      batchSpan.getOrElseUpdate((p.id.toString, p.batchId), b)
    }
    // a streaming batch's SQL execution runs inside its addBatch phase
    val sqlBatch = jobs.values.flatMap(j => for (q <- j.streamQuery;
      b <- j.streamBatch; id <- j.sqlId; s <- batchSpan.get((q, b)))
      yield id -> s.id).toMap
    val sqlSpans = sqls.values.filter(_.region == region).map { s =>
      val parent = sqlBatch.get(s.id)
        .orElse(innermost(s.start, runner).map(_.id)).getOrElse(0L)
      s.id -> Span(ids.incrementAndGet(), "sql", s"sql${s.id}", s.start,
        s.end, parent, s.op, region)
    }.toMap
    out ++= sqlSpans.values
    val jobSpans = jobs.values.filter(_.region == region).map { j =>
      val parent = j.sqlId.flatMap(sqlSpans.get).map(_.id)
        .orElse(for (q <- j.streamQuery; b <- j.streamBatch;
          s <- batchSpan.get((q, b))) yield s.id)
        .orElse(innermost(j.start, runner).map(_.id))
        .getOrElse(0L)
      j.id -> Span(ids.incrementAndGet(), "job", s"job${j.id}", j.start,
        j.end, parent, j.op, region)
    }.toMap
    out ++= jobSpans.values
    val seenStage = mutable.HashSet.empty[Int]
    jobs.values.filter(_.region == region).foreach { j =>
      j.stageIds.foreach { sid =>
        stages.get(sid).filter(s => s.end > 0 && seenStage.add(sid))
          .foreach { s =>
            out += Span(ids.incrementAndGet(), "stage", s"stage$sid",
              s.start, s.end, jobSpans(j.id).id, j.op, region)
          }
      }
    }
    out.toSeq
  }

  // ---------------------------------------------------------------
  // Per-layer metrics
  // ---------------------------------------------------------------

  /** Per-layer metrics of the timed region, normalised per pass. */
  def layerMetrics(passes: Int, cores: Int): Map[String, Double] = {
    drain()
    val sp = spans("timed")
    val n = math.max(passes, 1).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    synchronized {
      val tj = jobs.values.filter(_.region == "timed").toSeq
      val tstages = tj.flatMap(_.stageIds).distinct.flatMap(stages.get)
      m("sched.jobs") = tj.size / n
      m("sched.stages") = tstages.size / n
      m("sched.tasks") = tstages.map(_.tasks).sum / n
      val jobIv = tj.map(j => (j.start, j.end))
      m("sched.job_wall_ms") = Tracer.unionLen(jobIv) / n
      m("sched.driver_gap_ms") = sp.filter(_.kind == "op").map { o =>
        o.dur - Tracer.coveredLen(o, jobIv)
      }.sum / n
      val taskMs = tstages.map(_.runMs).sum.toDouble
      m("exec.task_ms") = taskMs / n
      m("exec.cpu_ms") = tstages.map(_.cpuNs).sum / 1e6 / n
      m("exec.gc_ms") = tstages.map(_.gcMs).sum / n
      m("exec.busy_ratio") =
        if (m("sched.job_wall_ms") > 0) taskMs / n / (cores * m("sched.job_wall_ms"))
        else 0.0
      m("exec.shuffle_write_bytes") = tstages.map(_.shuffleWrite).sum / n
      m("exec.shuffle_read_bytes") = tstages.map(_.shuffleRead).sum / n
      m("exec.spill_bytes") = tstages.map(_.spill).sum / n
      m("scan.input_bytes") = tstages.map(_.input).sum / n
      val tq = qes.filter(_.region == "timed").toSeq
      m("plan.analysis_ms") = tq.map(_.analysisMs).sum / n
      m("plan.optimization_ms") = tq.map(_.optimizationMs).sum / n
      m("plan.planning_ms") = tq.map(_.planningMs).sum / n
      m("plan.exchanges") = tq.map(_.exchanges).sum / n
      m("plan.broadcasts") = tq.map(_.broadcasts).sum / n
      m("plan.graft_execs") = tq.map(_.graftExecs).sum / n
      m("plan.cached_scans") = tq.map(_.cachedScans).sum / n
      m("write.csv_ms") = tq.filter(_.write.contains("csv")).map(_.writeMs).sum / n
      m("write.parquet_ms") =
        tq.filter(_.write.contains("parquet")).map(_.writeMs).sum / n
      m("write.bytes") = tq.map(_.writeBytes).sum / n
      val builds = sp.filter(_.kind == "build")
      m("queries.build_ms") = builds.map(_.dur).sum / n
      m("queries.build_jobs") = tj.count(j =>
        builds.exists(b => b.start <= j.start && j.start <= b.end)) / n
    }
    Seq("pass", "op", "build", "action", "sql", "job", "stage", "query",
      "batch", "phase").foreach(k => m(s"self.${k}_ms") = 0.0)
    Tracer.selfTimes(sp).foreach { case (k, v) => m(s"self.${k}_ms") = v / n }
    val roots = sp.filter(_.parent == 0L)
    m("trace.wall_ms") = roots.map(_.dur).sum / n
    m("trace.self_sum_ms") = Tracer.selfTimes(sp).values.sum / n
    m.toMap
  }

  /** Reads probed outside the timed region: (ms, jobs) per read. */
  def probe[A](name: String)(f: => A): (Double, Int) = {
    val before = synchronized(jobs.size)
    val t0 = Clock.nowMs
    op(name)(f)
    val ms = Clock.nowMs - t0
    (ms, synchronized(jobs.size) - before)
  }

  def progressOf(region: String): Seq[StreamingQueryProgress] =
    synchronized(progress.filter(_._2 == region).map(_._1).toSeq)
}

object Tracer {
  final case class JobRec(id: Int, start: Double, var end: Double,
      stageIds: Seq[Int], sqlId: Option[Long], streamQuery: Option[String],
      streamBatch: Option[Long], op: String, region: String)
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var start = 0.0; var end = 0.0
  }
  final case class SqlRec(id: Long, start: Double, var end: Double,
      op: String, region: String)
  final case class QeRec(op: String, region: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, exchanges: Int,
      broadcasts: Int, graftExecs: Int, cachedScans: Int,
      write: Option[String], writeMs: Double, writeBytes: Long)

  /** (exchanges, broadcasts, graft execs, cached scans) of a final
    * physical plan, looking through adaptive wrappers and subqueries. */
  def shape(plan: SparkPlan): Array[Int] = {
    val c = Array(0, 0, 0, 0)
    nodes(plan).foreach {
      case _: ShuffleExchangeExec => c(0) += 1
      case _: BroadcastExchangeExec => c(1) += 1
      case _: InMemoryTableScanExec => c(3) += 1
      case x if x.getClass.getName.startsWith("graft.") => c(2) += 1
      case _ =>
    }
    c
  }

  /** Every node of a final physical plan, looking through adaptive
    * wrappers, query stages, command results and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def coveredLen(s: Span, iv: Seq[(Double, Double)]): Double =
    unionLen(iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })

  /** Self time of each span: the part of its duration during which
    * none of its children runs. Every span is first clipped to its
    * parent (a listener's coarser clock must not let a child outlive
    * its parent); where siblings overlap, each instant is split evenly
    * between the innermost spans running then. So the self times of a
    * tree sum exactly to its root's duration. */
  def selfBySpan(spans: Seq[Span]): Map[Long, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val clipped = mutable.HashMap.empty[Long, Span]
    def clip(s: Span): Span = clipped.getOrElseUpdate(s.id,
      byId.get(s.parent).map(clip) match {
        case Some(p) =>
          val st = math.min(math.max(s.start, p.start), p.end)
          s.copy(start = st, end = math.max(st, math.min(s.end, p.end)))
        case None => s
      })
    val sp = spans.map(clip).filter(_.dur > 0)
    val self = mutable.HashMap.empty[Long, Double]
    spans.foreach(s => self(s.id) = 0.0)
    // sweep: +1 at a start, -1 at an end; ends sort before starts
    val events = sp.flatMap(s => Seq((s.start, 1, s), (s.end, -1, s)))
      .sortBy(e => (e._1, e._2))
    val active = mutable.LinkedHashSet.empty[Long]
    val activeChildren = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    var last = Double.NaN
    events.foreach { case (t, kind, s) =>
      if (!last.isNaN && t > last && active.nonEmpty) {
        val leaves = active.filter(id => activeChildren(id) == 0)
        val share = (t - last) / leaves.size
        leaves.foreach(id => self(id) += share)
      }
      last = t
      if (kind == 1) {
        active += s.id
        if (active.contains(s.parent)) activeChildren(s.parent) += 1
      } else {
        active -= s.id
        if (active.contains(s.parent)) activeChildren(s.parent) -= 1
      }
    }
    self.toMap
  }

  /** Self time summed per span kind. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = selfBySpan(spans)
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
  }
}
