package perfbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.PlanCounters

/** One timed interval. `op` is the id of the root `op` span it belongs
  * to; `parent` is the span that caused it (0 for a root).
  */
final case class Span(
    id: Long, parent: Long, op: Long, name: String, label: String,
    startNs: Long, endNs: Long)

/** Spans and per-layer counters of a traced run.
  *
  * `op`, `build` and `action` spans come from the benchmark's own calls
  * into graft; `job` and `stage` spans from a [[SparkListener]] that
  * attributes each job to its op through the `perfbench.op` local
  * property set around the op. Catalyst phase times, plan counters and
  * scan counters come from the executed [[QueryExecution]]s. Counters
  * only accumulate while [[active]] is set; spans are kept in memory
  * and written by [[writeSpans]] when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, Double]()
  @volatile private var active = false
  // listener events carry epoch milliseconds; spans use System.nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  private def record(s: Span): Unit = synchronized { spans += s }
  def nextId(): Long = ids.incrementAndGet()

  def counter(k: String): Double = synchronized(counters.getOrElse(k, 0.0))
  def openJobs: Int = synchronized(jobSpan.size)

  private val jobSpan = mutable.Map[Int, (Long, Long, Long)]() // job -> (span, op, start)
  private val stageJob = mutable.Map[Int, Int]()
  private val firstLaunch = mutable.Map[(Int, Int), Long]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.OpProperty))).map(_.toLong).getOrElse(0L)
      Tracer.this.synchronized {
        jobSpan(e.jobId) = (nextId(), op, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) {
      Tracer.this.synchronized(jobSpan.remove(e.jobId)).foreach {
        case (id, op, start) =>
          record(Span(id, op, op, "job", e.jobId.toString,
            fromEpochMs(start), fromEpochMs(e.time)))
          add("sched.jobs", 1)
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = if (active)
      Tracer.this.synchronized {
        val k = (e.stageId, e.stageAttemptId)
        if (!firstLaunch.contains(k)) firstLaunch(k) = e.taskInfo.launchTime
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) {
        val info = e.stageInfo
        val k = (info.stageId, info.attemptNumber())
        val submit = info.submissionTime.getOrElse(0L)
        val done = info.completionTime.getOrElse(submit)
        val (parent, op) = Tracer.this.synchronized {
          firstLaunch.remove(k).foreach(t => add("sched.delay_ms", t - submit))
          stageJob.remove(info.stageId).flatMap(j => jobSpan.get(j))
            .map { case (id, op, _) => (id, op) }.getOrElse((0L, 0L))
        }
        record(Span(nextId(), parent, op, "stage", info.stageId.toString,
          fromEpochMs(submit), fromEpochMs(done)))
        add("sched.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      add("sched.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("exec.run_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object plans extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) executed(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Count one executed query: Catalyst phase times from its tracker,
    * plan shape from the final physical plan, scan work from its scan
    * nodes. Actions that bypass the Dataset API (`toRdd`) report here
    * explicitly; Dataset actions and writes arrive through [[plans]].
    */
  def executed(qe: QueryExecution): Unit = if (active) {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs))
    }
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val text = plan.toString
    add("plan.shuffles", PlanCounters.shuffles(text))
    add("plan.broadcasts", PlanCounters.broadcasts(text))
    add("plan.pushed_scans", PlanCounters.pushedScans(text))
    Tracer.scans(plan).foreach { s =>
      def m(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      add("scan.files_read", m("numFiles"))
      add("scan.bytes", m("filesSize"))
      add("scan.rows", m("numOutputRows"))
    }
  }

  /** Turn counting on or off. The listener bus is drained first, so
    * events of work done before the switch land on the right side.
    */
  def setActive(on: Boolean): Unit = {
    PerfbenchBridge.drain(sc)
    active = on
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
  }

  def stop(): Unit = {
    setActive(false)
    spark.listenerManager.unregister(plans)
    sc.removeSparkListener(listener)
  }

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time `body` as a span; when counting is on, record it. */
  def span[T](name: String, label: String, op: Long, parent: Long)(body: => T): T = {
    val id = if (name == "op") op else nextId()
    val t0 = System.nanoTime()
    try body
    finally if (active) record(Span(id, parent, op, name, label, t0, System.nanoTime()))
  }

  def bump(k: String, v: Double): Unit = if (active) add(k, v)

  /** Write every span as one JSON line, with its self time: its duration
    * minus the part of it that its child spans cover.
    */
  def writeSpans(path: String, t0Ns: Long): Int = {
    val all = synchronized(spans.toVector)
    val kids = all.groupBy(_.parent)
    val out = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val covered = Tracer.union(kids.getOrElse(s.id, Nil)
        .filter(_.id != s.id)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      val dur = s.endNs - s.startNs
      out.println(
        f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
          f""""label":"${s.label}","start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,""" +
          f""""dur_ms":${dur / 1e6}%.3f,"self_ms":${(dur - covered) / 1e6}%.3f}""")
    } finally out.close()
    all.size
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val OpProperty = "perfbench.op"

  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
