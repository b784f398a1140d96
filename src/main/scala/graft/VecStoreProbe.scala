package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.{TableSwap, VecStore}

/** Measures the VecStore incremental-dedup claim on real data: probing
  * a STORED vector corpus with an ingest-sized batch versus re-running
  * batch d12 over the whole updated corpus (what a pipeline without
  * the store must do every ingest). Median of 3 per path, one untimed
  * warmup — the DocStoreProbe protocol on the embedding side.
  *
  *   sbt "runMain graft.VecStoreProbe [sfDir] [batchSize]"
  *
  * The probe also cross-checks correctness: the store's verdicts must
  * equal the d13 DataFrame twin's on the identical inputs (the twin is
  * oracle-gated, so this chains the store to DuckDB).
  */
object VecStoreProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val table = "vecstore_probe"
    for (t <- Seq(table, s"${table}_cents"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sfDir, "embeddings")
    VecStore.init(spark, table, emb, col("label"), buckets = 16)
    // the ingest batch: copies of existing vectors under fresh ids
    // (known semantic dups of the store) — every batch vector collides
    // at cosine 1.0 in its own list, the worst probe case
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val batch = emb.filter(col("vec_id") < batchSize)
      .select((col("vec_id") + lit(maxId + 1)).as("vec_id"),
        col("embedding"), col("label"))
      .localCheckpoint()

    import Probes.median3
    val (probeSec, probeN) = median3 {
      VecStore.nearDupVerdicts(spark, table,
        batch.select(col("vec_id"), col("embedding")), minCos = 0.35)
        .filter(col("is_dup")).count()
    }
    // the no-store alternative: batch d12 over the UPDATED corpus
    // (quantizer retrained, every vector re-assigned, every cluster
    // re-pruned) — corpus-sized work per ingest
    val union = emb.unionByName(batch)
    val (fullSec, fullN) = median3 {
      Dedup.semDedup(
        union.select(col("vec_id"), col("embedding")),
        Similarity.centroids(union, col("label")), minCos = 0.35)
        .filter(!col("is_kept") && col("vec_id") > maxId).count()
    }
    // correctness: store verdicts ≡ the oracle-gated DataFrame twin
    val viaStore = VecStore.nearDupVerdicts(spark, table,
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35)
      .collect().map(r => (r.getLong(0), r.get(1), r.getBoolean(2),
        Option(r.get(3)), Option(r.get(4)))).toSet
    val viaTwin = Dedup.semDedupIncremental(
      emb, batch, VecStore.centroids(spark, table), minCos = 0.35)
      .collect().map(r => (r.getLong(0), r.get(1), r.getBoolean(2),
        Option(r.get(3)), Option(r.get(4)))).toSet
    require(viaStore == viaTwin,
      s"store/twin verdict drift: ${(viaStore -- viaTwin).take(3)} / " +
        s"${(viaTwin -- viaStore).take(3)}")
    println(
      s"""{"probe_sec":$probeSec,"probe_dups":$probeN,""" +
        s""""full_d12_sec":$fullSec,"full_d12_dups":$fullN,""" +
        s""""batch":$batchSize,"sf":"$sfDir","twin_check":"ok"}""")
    spark.stop()
  }
}
