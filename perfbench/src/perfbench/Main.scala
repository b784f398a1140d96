package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark process: one workload, one seed, one closed-loop client.
  *
  *   --workload store|batch|record|listener   --seed N   --seconds S
  *   --trace 0|1   --scale full|smoke   --inputs DIR   --warehouse DIR
  *   --checksums FILE   --spans FILE   --commit REV
  *
  * Prints a `{"detail": ...}` line with every figure and the host, then
  * the result line `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics, or with `--trace 1` the per-layer ones.
  * `record` prints the checksums of the batch queries; `listener` runs
  * one query twice with a fresh listener each time and prints its job,
  * stage and task counts.
  */
object Main {

  /** Sessions run on 4 local cores, whatever the host has, so runs on
    * different hosts compare like with like; the host's count is echoed.
    */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val scale = Scale.byName(args.getOrElse("scale", "full"))
    val inputs = arg("inputs")
    val warehouse = arg("warehouse")

    val runStart = System.nanoTime()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(Cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val run = new Runner(spark, traced)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "scale" -> scale.name,
      "trace" -> traced, "commit" -> args.getOrElse("commit", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-Xmx")).getOrElse("default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "session_s" -> sessionS)

    val metrics: Map[String, (Double, String)] = workload match {
      case "store" =>
        val store = new Store(run, warehouse, seed)
        val genS = time(Inputs.ensure(s"$inputs/store") { dir =>
          Gen.write(spark, s"$dir/tables", scale, Batch.DataSeed, Gen.storeTables)
          store.statements(s"$dir/tables").coalesce(1).write.parquet(s"$dir/statements")
        })
        val prepS = time(store.prepare(s"$inputs/store/statements"))
        // the store build is the set-up the program does; build it three
        // times (the last one is the live store) and take the median
        val builds = Seq("setup0", "setup1", store.table).map { name =>
          val s = time(store.build(name))
          if (name != store.table) store.drop(name)
          s
        }
        store.startModel()
        // a first pass warms every code path the timed ones run; it
        // ends with a compaction, as each timed pass starts from one
        val warmS = time(store.pass(0))
        run.clearSamples()
        val setupS = sessionS + Runner.median(builds) + warmS
        detail ++= Seq("inputs_s" -> genS, "prepare_s" -> prepS, "store_build_s" -> builds, "warmup_s" -> warmS,
          "statements" -> store.liveStatements)
        run.passes(seconds, minPasses = 1)(p => store.pass(p + 1))
        val (filesLive, bytesLive) = store.disk.live
        val appendMs = run.latency("append")
        detail ++= Seq(
          "lookup_p50_ms" -> Runner.quantile(run.latency("lookup"), 0.5),
          "lookup_p90_ms" -> Runner.quantile(run.latency("lookup"), 0.9),
          "query_p50_ms" -> Runner.quantile(run.latency("query"), 0.5),
          "query_p90_ms" -> Runner.quantile(run.latency("query"), 0.9),
          "append_p50_ms" -> Runner.median(appendMs),
          "ingest_stmts_per_s" -> store.ingestedStatements / (appendMs.sum / 1000.0),
          "compact_s" -> Runner.median(run.latency("compact")) / 1000.0,
          "bytes_written_per_stmt" ->
            store.disk.bytesWritten.toDouble / math.max(1L, store.ingestedStatements),
          "bytes_per_live_stmt" -> bytesLive.toDouble / store.liveStatements,
          "final_statements" -> store.liveStatements)
        Report.metrics(run, setupS, filesLive)

      case "batch" =>
        val expected = Checksums.load(arg("checksums"), scale.name)
        val dataDir = s"$inputs/batch"
        val batch = new Batch(run, dataDir, seed, expected)
        val genS = time(Inputs.ensure(dataDir)(Gen.write(spark, _, scale, Batch.DataSeed)))
        val warmS = time(Batch.queries.foreach(batch.query))
        run.clearSamples()
        val setupS = sessionS + warmS
        detail ++= Seq("inputs_s" -> genS, "warmup_s" -> warmS)
        run.passes(seconds, minPasses = 2)(batch.pass)
        detail ++= Batch.queries.map(q => s"query_ms.$q" -> Runner.median(run.labelLatency(q)))
        Report.metrics(run, setupS, filesLive = 0)

      case "record" =>
        val dataDir = s"$inputs/batch"
        Inputs.ensure(dataDir)(Gen.write(spark, _, scale, Batch.DataSeed))
        val batch = new Batch(run, dataDir, seed, Map.empty)
        val sums = Batch.queries.map(q => q -> batch.query(q).map(_._1).getOrElse("error"))
        println(Json.obj(Seq(scale.name -> Json.obj(sums))).text)
        spark.stop()
        return

      case "listener" =>
        val dataDir = s"$inputs/batch"
        Inputs.ensure(dataDir)(Gen.write(spark, _, scale, Batch.DataSeed))
        val q = "f26_triangles"
        graft.SparkEntry.queries(q)(spark, dataDir).queryExecution.toRdd.count()
        val counts = (0 until 2).map { _ =>
          val t = new Tracer(spark)
          t.start()
          t.setActive(true)
          graft.SparkEntry.queries(q)(spark, dataDir).queryExecution.toRdd.count()
          t.stop()
          Json.obj(Seq("jobs" -> t.counter("sched.jobs"), "stages" -> t.counter("sched.stages"),
            "tasks" -> t.counter("sched.tasks"), "open_jobs" -> t.openJobs))
        }
        println(Json.obj(Seq("query" -> q, "runs" -> counts)).text)
        spark.stop()
        return

      case other => throw new IllegalArgumentException(s"workload: $other")
    }

    detail ++= Seq("op_ms" -> run.kindTotals, "pass_s_all" -> run.passSeconds, "passes" -> run.passCount,
      "ops" -> run.attempted, "failed" -> run.failed,
      "failed_ratio" -> run.failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failureMessages)
    if (traced) {
      val spans = arg("spans")
      detail ++= Seq("spans_file" -> spans,
        "spans" -> run.tracer.writeSpans(spans, runStart))
      run.tracer.stop()
    }
    val names = if (traced) Report.perLayer else Report.endToEnd
    val shown = names.map(n => n -> metrics(n))
    detail ++= metrics.filter { case (k, _) => !names.contains(k) }
      .map { case (k, (v, _)) => k -> v }
    println(Json.obj(Seq("detail" -> Json.obj(detail))).text)
    println(Json.obj(Seq(
      "correct" -> (run.failed == 0), "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> Json.obj(shown.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) }))).text)
    spark.stop()
  }
}
