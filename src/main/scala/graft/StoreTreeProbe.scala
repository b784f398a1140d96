package graft

import org.apache.spark.sql.functions._

import graft.sources.{TableSwap, VecStore}

/** Flat vs TREE coarse assignment at the STORE face — the literal-
  * expression sibling of [[TreeIvfProbe]] (which measures the
  * exchange-based operator forms): `VecStore.withAssignment` rides a
  * scan-local literal plan, so the flat form evaluates all L candidate
  * structs per row (L·dim multiply-adds) while the tree form
  * ([[graft.sources.VecStore.init]] `treeTopCount`) evaluates
  * topCount + ~L/topCount through the lazy when-chain. Reports, per
  * scale (sf1: L = 100, 20k vectors; sf10: L = 1000, 200k):
  *
  *   - flat/tree batch-assignment wall (median-of-3, the pure
  *     scan-local projection — the cost every append pays),
  *   - the assignment agreement rate between the two stores,
  *   - flat/tree served-search wall (`ivfTopK`, 50 queries),
  *   - one-off init wall for each store (corpus write + tree train).
  *
  *   sbt "runMain graft.StoreTreeProbe [sfDir ...]"
  */
object StoreTreeProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/repo/testdata-sf1", "/root/repo/testdata-sf10")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import Probes.{median3, timed}
    val out = dirs.map { dir =>
      val emb = Tables.load(spark, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val nLists = emb.select(col("label")).distinct().count()
      val topCount =
        math.max(2, math.round(math.sqrt(nLists.toDouble)).toInt)
      for (t <- Seq("stp_flat", "stp_tree"))
        for (s <- Seq(t, s"${t}_cents", s"${t}_tops", s"${t}_leafmap",
            s"${t}_dels"))
          TableSwap.dropManaged(spark, s)
      val (flatInit, _) = timed {
        VecStore.init(spark, "stp_flat", emb, col("label"), buckets = 16)
        VecStore.read(spark, "stp_flat").count()
      }
      val (treeInit, _) = timed {
        VecStore.init(spark, "stp_tree", emb, col("label"), buckets = 16,
          treeTopCount = topCount)
        VecStore.read(spark, "stp_tree").count()
      }
      val (flatSec, nFlat) = median3 {
        VecStore.withAssignment(spark, corpus, "stp_flat")
          .queryExecution.toRdd.count()
      }
      val (treeSec, nTree) = median3 {
        VecStore.withAssignment(spark, corpus, "stp_tree")
          .queryExecution.toRdd.count()
      }
      require(nFlat == nTree, s"assignment row drift: $nFlat vs $nTree")
      val agree = VecStore.withAssignment(spark, corpus, "stp_flat")
        .select(col("vec_id"), col("list_id").as("fl"))
        .join(VecStore.withAssignment(spark, corpus, "stp_tree")
          .select(col("vec_id"), col("list_id").as("tl")), Seq("vec_id"))
        .agg(avg(when(col("fl") === col("tl"), 1.0).otherwise(0.0)))
        .collect()(0).getDouble(0)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val (sFlat, _) = median3 {
        VecStore.ivfTopK(spark, "stp_flat", queries, k = 5, nProbe = 3)
          .queryExecution.toRdd.count()
      }
      val (sTree, _) = median3 {
        VecStore.ivfTopK(spark, "stp_tree", queries, k = 5, nProbe = 3,
          nProbeTop = 2).queryExecution.toRdd.count()
      }
      f"""{"dir":"$dir","lists":$nLists,"rows":$nFlat,"top_count":$topCount,
         |"init_flat_sec":$flatInit%.2f,"init_tree_sec":$treeInit%.2f,
         |"assign_flat_sec":$flatSec%.2f,"assign_tree_sec":$treeSec%.2f,
         |"assign_agreement":$agree%.4f,
         |"search_flat_sec":$sFlat%.2f,"search_tree_sec":$sTree%.2f}"""
        .stripMargin.replace("\n", "")
    }
    out.foreach(println)
    spark.stop()
  }
}
