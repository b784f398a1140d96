package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** The closed loop shared by every workload: one client thread runs
  * ops back to back, grouped into passes. Each op is timed from the
  * call that builds its input to the end of the action that forces its
  * result; its answer is checked afterwards, outside the timing, and a
  * wrong answer counts as failed without being dropped from the timing.
  *
  * In a traced run the [[Tracer]] counts during the ops of every pass;
  * it is paused for input preparation and answer checks.
  */
final class Runner(val spark: SparkSession, traced: Boolean) {
  val tracer = new Tracer(spark)
  private val sc = spark.sparkContext
  private val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val labelLatencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var currentOp = 0L
  private val passWall = mutable.ArrayBuffer[(Double, Int)]()
  private var tracing = false
  private var passOpMs = 0.0
  private var passOps = 0
  var attempted = 0L
  var failed = 0L
  var heapPeakMb = 0.0
  private val failures = mutable.ArrayBuffer[String]()

  if (traced) tracer.start()

  def latency(kind: String): Seq[Double] = latencies.getOrElse(kind, Nil).toSeq
  def labelLatency(label: String): Seq[Double] = labelLatencies.getOrElse(label, Nil).toSeq

  /** Rows an op returned to the client. */
  def addRows(n: Long): Unit = tracer.bump("result.rows", n)

  /** Time one call into a graft layer inside the current op: a sample
    * of `name` and, when tracing, a span under the op.
    */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name, name, currentOp, currentOp)(body)
    finally labelLatencies.getOrElseUpdate(name, mutable.ArrayBuffer()) +=
      (System.nanoTime() - t0) / 1e6
  }

  /** Run one op: `build` returns the input of `action`, `action`
    * forces the result, `check` judges it. Returns the result, or None
    * when the op threw.
    */
  def op[B, R](kind: String, label: String)(build: => B)(action: B => R)(
      check: R => Option[String]): Option[R] = {
    val id = tracer.nextId()
    currentOp = id
    val pinned0 = if (tracing) sc.getPersistentRDDs.size else 0
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val t0 = System.nanoTime()
    val res = try {
      Some(tracer.span("op", s"$kind:$label", id, 0L) {
        val tb = System.nanoTime()
        val b = tracer.span("build", label, id, id)(build)
        tracer.bump("build.ms", (System.nanoTime() - tb) / 1e6)
        tracer.span("action", label, id, id)(action(b))
      })
    } catch {
      case e: Exception =>
        fail(s"$kind $label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally {
      sc.setLocalProperty(Tracer.OpProperty, null)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
    labelLatencies.getOrElseUpdate(label, mutable.ArrayBuffer()) += ms
    passOpMs += ms
    passOps += 1
    attempted += 1
    if (tracing) tracer.bump("blocks.pinned_delta", sc.getPersistentRDDs.size - pinned0)
    res.foreach(r => check(r).foreach(msg => fail(s"$kind $label: $msg")))
    res
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Work between ops (input preparation, checks): not traced. */
  def untraced[T](body: => T): T =
    if (!tracing) body
    else {
      tracer.setActive(false)
      try body finally tracer.setActive(true)
    }

  /** Record a check made outside any op (e.g. after a compaction); a
    * failed one counts against the op it follows.
    */
  def verify(what: String)(ok: => Boolean): Unit =
    if (!untraced(try ok catch { case e: Exception =>
      System.err.println(s"[perfbench] $what threw $e"); false })) fail(what)

  def failureMessages: Seq[String] = failures.toSeq

  /** Per op kind and per layer call: samples and total milliseconds. */
  def kindTotals: Map[String, Map[String, Double]] =
    (latencies ++ labelLatencies.filter(_._1.contains('.')))
      .map { case (k, v) => k -> Map("n" -> v.size.toDouble, "ms" -> v.sum) }.toMap

  /** Forget the latency samples taken so far (those of a warm-up). */
  def clearSamples(): Unit = {
    latencies.clear()
    labelLatencies.clear()
  }

  /** Run passes until `seconds` of wall time have elapsed (at least
    * `minPasses`). A pass's time is the sum of its ops' latencies, so
    * input preparation and answer checks between ops do not count. The
    * heap is measured after each pass, after a full collection, as the
    * old generation's used bytes.
    */
  def passes(seconds: Double, minPasses: Int)(pass: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || i < minPasses) {
      tracing = traced
      if (traced) tracer.setActive(true)
      passOpMs = 0.0
      passOps = 0
      val (gc0, jit0, cg0) = (Runner.gcMs, Runner.jitMs, tracer.codegenCompiles)
      pass(i)
      tracer.bump("jvm.gc_ms", Runner.gcMs - gc0)
      tracer.bump("jvm.jit_ms", Runner.jitMs - jit0)
      tracer.bump("codegen.compiles", tracer.codegenCompiles - cg0)
      if (traced) tracer.setActive(false)
      passWall += ((passOpMs / 1000.0, passOps))
      i += 1
      heapPeakMb = math.max(heapPeakMb, Runner.oldGenAfterGcMb())
    }
    tracing = false
  }

  def passSeconds: Seq[Double] = passWall.map(_._1).toSeq
  def passCount: Int = passWall.size

  /** Ops per second of client time. */
  def opsPerSecond: Double = passWall.map(_._2).sum / passWall.map(_._1).sum
}

object Runner {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Old generation used after full collections: the lower of two
    * readings, each after a pause and a collection, so that objects
    * Spark's context cleaner releases only after a collection are not
    * counted as live.
    */
  def oldGenAfterGcMb(): Double = {
    def reading(): Double = {
      Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    System.gc()
    math.min(reading(), reading())
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Canonical text of one value: doubles to 6 significant digits (so
    * float summation order cannot change it), collections in order,
    * maps sorted by key.
    */
  def fmt(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.6g", Double.box(d + 0.0))
    case f: Float => String.format(java.util.Locale.ROOT, "%.6g", Double.box(f + 0.0))
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${fmt(k)}->${fmt(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Hash of one row's canonical text; row hashes are summed, so the
    * order of rows does not matter.
    */
  def hash(text: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(text).toLong & 0xffffffffL

  /** Order-independent checksum of a DataFrame's rows, computed in the
    * action that forces the result: the sum of the rows' hashes and the
    * row count, as "hash:count".
    */
  def checksum(df: DataFrame): (String, Long) = {
    val schema = df.schema
    val (h, n) = df.queryExecution.toRdd.mapPartitions { it =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      var h = 0L
      var n = 0L
      it.foreach { r =>
        h += hash(fmt(conv(r)))
        n += 1
      }
      Iterator((h, n))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (s"$h:$n", n)
  }
}
