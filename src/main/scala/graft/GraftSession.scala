package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with graft's standard configuration —
  * one place for the settings every entry point (Verify, Bench, Cli,
  * user code) must agree on.
  */
object GraftSession {

  /** Local-mode builder. `cpus` sizes the master and, by default, the
    * shuffle partitions: on a real cluster set
    * `spark.sql.shuffle.partitions` ≈ 2-3× total cores and let AQE
    * coalesce.
    *
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides the partition count
    * WITHOUT changing parallelism — the scale knob the prompt's
    * "size shuffle partitions so partitions fit in executor memory at
    * the target SF" discipline needs: at sf10 the graph heavies'
    * hash-aggregate state per task outgrows a 32-partition layout
    * (f28 died with AGGREGATE_OUT_OF_MEMORY in the r15 sf10 column),
    * and the fix is more, smaller partitions (AQE coalesces the
    * queries that don't need them), not more heap.
    */
  def local(cpus: Int, aqe: Boolean = true): SparkSession = {
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cpus)
    // measurement escape hatch (SPARK_GRAFT_AQE=0/1 or true/false):
    // lets a probe isolate AQE's replan overhead vs its coalescing wins
    // without a code edit; unset = the caller's default (on
    // everywhere). Any other value fails LOUDLY — r15 ADVICE: the old
    // `_ == "1"` parse silently turned SPARK_GRAFT_AQE=true into
    // AQE-OFF and would have skewed a probe without a trace.
    val aqeOn = sys.env.get("SPARK_GRAFT_AQE").map {
      case "1" | "true" => true
      case "0" | "false" => false
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_AQE must be 1/true/0/false, got '$other'")
    }.getOrElse(aqe)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); see Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark's default INT96 timestamps carry NO usable row-group
      // min/max statistics — every time-range scan over a store would
      // read every row group. Standard INT64 micros restore the
      // skip-index power (the ZOrderLayout pruning story) and are the
      // modern interchange type; INT96 is deprecated upstream.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", aqeOn.toString)
      // The default 100-entry codegen cache thrashes on a suite of 65+
      // queries (several whole-stage/expression classes each): every
      // re-execution Janino-recompiles and the JVM re-JITs the same
      // stages, keeping compiler threads busy ~85% of a bench run
      // (BENCH_DIAG.json: 131s of JIT during 154s of timed wall) and
      // stealing cores from the 32-thread executor pool exactly when a
      // heavy query saturates them — measured as f8's 2× in-suite vs
      // isolated spread that gc_ms had already ruled out as GC. The
      // r8 fix sized it at 2000 for a 65-query workload; by r15 the
      // registry reached 142 queries (~2600 distinct codegen units,
      // BENCH_DIAG janino_n) and the LRU evicted ~550 units per
      // interleaved pass — ~100 s of JIT-compiler-thread time PER PASS
      // re-JITting classes the previous pass had already compiled (the
      // r15 verdict's top item). 8000 fits the whole corpus with
      // growth headroom; the cache never holds more than the workload
      // actually generates, so the cost is bounded by the corpus
      // (~3k units ≈ tens of MB of metaspace per JVM — cheap next to
      // recompile churn on driver AND executors of a real cluster).
      // Env-overridable for measurement (SPARK_GRAFT_CODEGEN_CACHE).
      .config("spark.sql.codegen.cache.maxEntries",
        codegenCacheEntries(sys.env.get("SPARK_GRAFT_CODEGEN_CACHE")).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("GRAFT_WAREHOUSE", "/tmp/graft_warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The codegen cache size from `SPARK_GRAFT_CODEGEN_CACHE` (unset =
    * 8000). Parsed here because the Spark conf is static: a bad value
    * would otherwise reach the session untouched and fail (or be
    * ignored) far from the variable that caused it.
    */
  private[graft] def codegenCacheEntries(raw: Option[String]): Int =
    raw.fold(8000)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CODEGEN_CACHE must be a positive integer, got '$v'")))
}
