package perfbench

import java.nio.file.{Files, Paths}

/** Metric names, units and how each is computed from a run. */
object Report {

  val endToEnd: Seq[String] = Seq("setup_s", "pass_s", "heap_peak_mb")

  /** Counters summed over a traced run's passes, reported per pass. */
  private val perPass: Seq[(String, String)] = Seq(
    "build.ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "codegen.compiles" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "spill.bytes" -> "bytes",
    "plan.shuffles" -> "count", "plan.broadcasts" -> "count",
    "plan.pushed_scans" -> "count",
    "scan.files_read" -> "count", "scan.bytes" -> "bytes", "scan.rows" -> "count",
    "store.files_written" -> "count", "store.bytes_written" -> "bytes",
    "blocks.pinned_delta" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms")

  /** Median time of one call into a store layer. */
  private val calls: Seq[String] = Seq("store.append", "fpx.append", "store.pop",
    "store.compact", "fpx.compact", "xref.block", "xref.append")

  val perLayer: Seq[String] = perPass.map(_._1) ++ Seq("scan.rows_per_result") ++
    calls.map(_ + "_ms") ++ Seq("store.files_live", "blocks.pinned_end") ++
    Batch.queries.map("query_ms." + _)

  private def orZero(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Every metric of a run, by name, with its unit. */
  def metrics(run: Runner, setupS: Double, filesLive: Long): Map[String, (Double, String)] = {
    val t = run.tracer
    val n = run.passCount.toDouble
    Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Runner.median(run.passSeconds), "s"),
      "ops_per_s" -> (run.opsPerSecond, "1/s"),
      "heap_peak_mb" -> (run.heapPeakMb, "MB")) ++
      perPass.map { case (k, u) => k -> (t.counter(k) / n, u) } ++
      Seq(
        "scan.rows_per_result" ->
          (t.counter("scan.rows") / math.max(1.0, t.counter("result.rows")), "ratio"),
        "blocks.pinned_end" ->
          (run.spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
        "store.files_live" -> (filesLive.toDouble, "count")) ++
      calls.map(c => s"${c}_ms" -> (orZero(Runner.median(run.labelLatency(c))), "ms")) ++
      Batch.queries.map(q =>
        s"query_ms.$q" -> (orZero(Runner.median(run.labelLatency(q))), "ms"))
  }
}

/** Minimal JSON writer: objects keep their key order. */
object Json {
  final case class Raw(text: String)

  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }).text
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}

/** The recorded batch checksums: `{"<scale>": {"<query>": "<hash>:<rows>"}}`. */
object Checksums {
  private val Entry = "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9]+:[0-9]+)\"".r

  def load(path: String, scale: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val start = text.indexOf("\"" + scale + "\"")
    require(start >= 0, s"$path has no checksums for scale $scale")
    val body = text.substring(text.indexOf('{', start), text.indexOf('}', start) + 1)
    Entry.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
  }
}
