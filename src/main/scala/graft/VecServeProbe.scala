package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{TableSwap, VecStore}

/** Measures what the VecStore's stored artifacts buy at SERVING time:
  * ANN queries answered from the store (persisted quantizer, partition
  * layout, codes cache) versus the self-contained operators that
  * retrain/re-assign/re-encode in-query — the amortization argument
  * for the store, measured. Median of 3 per path, one untimed warmup.
  *
  *   sbt "runMain graft.VecServeProbe [sfDir]"
  */
object VecServeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val table = "vecserve_probe"
    for (t <- Seq(table, s"${table}_cents", s"${table}_pq",
        s"${table}_codes"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sfDir, "embeddings")
    VecStore.init(spark, table, emb, col("label"), buckets = 16)
    VecStore.trainPqCodebook(spark, table, buckets = 16)
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val cents = Similarity.centroids(emb, col("label"))

    import Probes.median3
    val (ivfStoreSec, n1) = median3 {
      VecStore.ivfTopK(spark, table, queries, k = 5, nProbe = 3)
        .queryExecution.toRdd.count()
    }
    val (ivfOpSec, n2) = median3 {
      Similarity.ivfTopK(corpus, queries, cents, k = 5, nProbe = 3)
        .queryExecution.toRdd.count()
    }
    require(n1 == n2, s"ivf row-count drift: $n1 vs $n2")
    val (pqStoreSec, n3) = median3 {
      VecStore.ivfPqTopK(spark, table, queries, k = 5, nProbe = 3)
        .queryExecution.toRdd.count()
    }
    val (pqOpSec, n4) = median3 {
      Similarity.ivfPqTopK(corpus, queries, cents, k = 5, nProbe = 3)
        .queryExecution.toRdd.count()
    }
    require(n3 == n4, s"ivfpq row-count drift: $n3 vs $n4")
    println(
      s"""{"ivf_store_sec":$ivfStoreSec,"ivf_op_sec":$ivfOpSec,""" +
        s""""ivfpq_store_sec":$pqStoreSec,"ivfpq_op_sec":$pqOpSec,""" +
        s""""rows":$n1,"sf":"$sfDir"}""")
    spark.stop()
  }
}
