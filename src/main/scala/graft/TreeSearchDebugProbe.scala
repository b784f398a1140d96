package graft

import org.apache.spark.sql.functions._

import graft.sources.{TableSwap, VecStore}

/** Scratch diagnosis: where does the tree store's served-search time
  * go at L = 1000? Times the probe-side construction vs the full
  * search on both stores (expects stp_flat/stp_tree left behind by
  * [[StoreTreeProbe]]).
  */
object TreeSearchDebugProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-sf10")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import Probes.{median3, timed}
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    for (t <- Seq("stp_flat", "stp_tree"))
      for (s <- Seq(t, s"${t}_cents", s"${t}_tops", s"${t}_leafmap",
          s"${t}_dels"))
        TableSwap.dropManaged(spark, s)
    VecStore.init(spark, "stp_flat", emb, col("label"), buckets = 16)
    VecStore.init(spark, "stp_tree", emb, col("label"), buckets = 16,
      treeTopCount = 32)
    for (t <- Seq("stp_flat", "stp_tree")) {
      val (cold, _) = timed {
        VecStore.ivfTopK(spark, t, queries, k = 5, nProbe = 3,
          nProbeTop = 2).queryExecution.toRdd.count()
      }
      val (warm, _) = median3 {
        VecStore.ivfTopK(spark, t, queries, k = 5, nProbe = 3,
          nProbeTop = 2).queryExecution.toRdd.count()
      }
      println(f"$t: cold=$cold%.2f warm_med3=$warm%.2f")
    }
    // pieces on the tree store
    val (litSec, _) = median3 {
      VecStore.withAssignment(spark, queries.limit(1), "stp_tree")
        .queryExecution.toRdd.count()
    }
    println(f"tree litTree+1-row-assign: $litSec%.2f")
    spark.stop()
  }
}
