package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.{DocStore, TableSwap}

/** Measures the DocStore incremental-dedup claim on real data: probing
  * a STORED corpus with an ingest-sized batch versus re-blocking the
  * whole corpus with batch d3 (what a pipeline without the index must
  * do every ingest). Median of 3 per path, one untimed warmup.
  *
  *   sbt "runMain graft.DocStoreProbe [sfDir] [batchSize]"
  *
  * The probe also cross-checks correctness: every (stored, new)
  * candidate the index probe reports must appear in the full d3
  * re-block of (stored ∪ new), restricted to cross pairs.
  */
object DocStoreProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val table = "docstore_probe"
    for (t <- Seq(table, s"${table}_bands"))
      TableSwap.dropManaged(spark, t)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    DocStore.append(docs, table)
    // the ingest batch: copies of existing docs under fresh ids (known
    // near-dups of the store) — the worst probe case, every batch doc
    // collides in every band
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    // checkpoint the batch so no timed run pays its derivation scan
    val batch = docs.filter(col("doc_id") < batchSize)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
      .localCheckpoint()

    import Probes.median3
    val (probeSec, probeN) = median3 {
      DocStore.nearDupCandidates(spark, table, batch).count()
    }
    val (fullSec, fullN) = median3 {
      Dedup.minhashLsh(docs.unionByName(batch)).count()
    }
    // correctness: index-probe candidates ⊆ full re-block cross pairs.
    // The caps must be aligned for this to be a theorem: the probe
    // bounds DISTINCT STORED docs per key (≤ 1000) while the full
    // re-block bounds the UNION bucket, which additionally holds up to
    // batchSize colliding batch docs — so the full pass gets that much
    // headroom or a bucket the probe kept could drop wholesale from
    // the reference set (a cutoff asymmetry, not an index bug).
    val probePairs = DocStore.nearDupCandidates(spark, table, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossPairs = Dedup.minhashLsh(
      docs.unionByName(batch), maxBucket = 1000 + batchSize)
      .filter(col("right_id") > maxId && col("left_id") <= maxId)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = probePairs -- crossPairs
    require(missing.isEmpty, s"probe pairs not in full re-block: $missing")
    println(
      s"""{"probe_sec":$probeSec,"probe_pairs":$probeN,""" +
        s""""full_d3_sec":$fullSec,"full_d3_pairs":$fullN,""" +
        s""""batch":$batchSize,"sf":"$sfDir","subset_check":"ok"}""")
    spark.stop()
  }
}
