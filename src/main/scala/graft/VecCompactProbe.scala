package graft

import org.apache.spark.sql.functions._

import graft.sources.{TableSwap, VecStore}

/** Measures the vector-store OUT-OF-BAND compaction claim (r12,
  * `VecStore.compactStage`/`compactFinish`): the writer's critical
  * path pays only the append-bounded finish, while the corpus-sized
  * work (FINAL dedup + the full `_codes` re-encode) rides the stage a
  * background thread can own. Three timings on a 2×-bloated store
  * with PQ artifacts, fresh state per arm:
  *
  *   - inline `compact`: what st14 paid per cadence tick before the
  *     split — the whole rewrite on the micro-batch path;
  *   - `compactStage`: the same corpus-sized work, now schedulable
  *     off-thread (its cost bounds how STALE a stage can get, not any
  *     batch's latency);
  *   - `compactFinish` after a `batchSize`-row mid-build append: the
  *     only piece left on the critical path — delta catch-up (with
  *     codes re-encode of the delta) plus the metadata swaps.
  *
  * The probe also cross-checks durability: after stage+append+finish,
  * FINAL and codes counts must reconcile exactly and PQ serving must
  * answer.
  *
  *   sbt "runMain graft.VecCompactProbe [sfDir] [batchSize]"
  */
object VecCompactProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val table = "veccompact_probe"
    def dropAll(): Unit =
      for (t <- Seq(table, s"${table}_cents", s"${table}_tops",
          s"${table}_leafmap", s"${table}_pq", s"${table}_codes",
          s"${table}_dels"))
        TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()
    val batch = emb.limit(batchSize)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        col("embedding"))
      .localCheckpoint()
    val n = emb.count()

    // fresh 2×-bloated store with PQ artifacts (the serving state a
    // long-running st14 stream actually compacts)
    def build(): Unit = {
      dropAll()
      VecStore.init(spark, table, emb, col("label"))
      VecStore.trainPqCodebook(spark, table)
      VecStore.append(spark,
        emb.select(col("vec_id"), col("embedding")), table)
    }

    import Probes.timed
    build()
    val (inlineSec, _) = timed {
      VecStore.compact(spark, table)
      VecStore.readFinal(spark, table).count()
    }
    build()
    val (stageSec, _) = timed {
      VecStore.compactStage(spark, table); n
    }
    // rebuild: the stage above consumed the staged names via no swap —
    // drop and restage so the finish arm times a realistic pair
    build()
    val st = VecStore.compactStage(spark, table)
    VecStore.append(spark, batch, table) // the mid-build delta
    val (finishSec, _) = timed {
      VecStore.compactFinish(spark, table, st)
      VecStore.readFinal(spark, table).count()
    }
    val fin = VecStore.readFinal(spark, table).count()
    val codes = VecStore.codes(spark, table)
      .select(col("vec_id")).distinct().count()
    require(fin == n + batchSize && codes == fin,
      s"staged compact must reconcile: final=$fin codes=$codes " +
        s"expected=${n + batchSize}")
    require(VecStore.ivfPqTopK(spark, table,
      batch.limit(5), k = 3, nProbe = 2).count() > 0,
      "PQ serving must answer after the staged swap")

    println(f"rows=$n%d batch=$batchSize%d")
    println(f"inline_compact_sec=$inlineSec%.2f  (the pre-split critical-path cost)")
    println(f"stage_sec=$stageSec%.2f  (off-thread; bounds staleness, not latency)")
    println(f"finish_sec=$finishSec%.2f  (the only on-critical-path piece)")
    println(f"critical_path_ratio=${inlineSec / finishSec}%.1f x")
    spark.stop()
  }
}
