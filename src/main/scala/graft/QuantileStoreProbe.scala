package graft

import org.apache.spark.sql.functions._

import graft.sources.TableSwap

/** Diagnostic main: measures [[graft.sources.QuantileStore]]'s serving
  * claim across the corpus decade — "the live p50/p95/p99 document
  * length per source, ever, WITHOUT a corpus rescan". Read cost is
  * SUMMARY-shaped ((batches-since-compact + 1) × sources rows of
  * ~k-item sketches, independent of document count); the q30-style
  * recompute twin re-tokenizes every document. The gap must widen
  * with the decade, and compaction must re-bound the read side to one
  * row per source.
  *
  * Protocol per scale (sf1 = 50k docs, sf10 = 500k; 250 docs/source
  * at both, far under k — the EXACT regime): ingest as 20 micro-batch
  * appends (the st22 write path), then median-of-3 each face: served
  * quantiles pre-compact, post-compact, and the direct full-corpus
  * KLL aggregation. The served answers are gated EQUAL to the exact
  * rank-select over raw counts — the correctness anchor that makes
  * the timing comparison meaningful.
  *
  * Usage: sbt "runMain graft.QuantileStoreProbe [sf1dir] [sf10dir]"
  */
object QuantileStoreProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.length >= 2) Seq(args(0), args(1))
      else Seq("testdata-sf1", "testdata-sf10")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.QuantileStore
    import graft.operators.Dedup

    val k = 4096
    val ps = Seq(0.5, 0.95, 0.99)
    val out = dirs.zipWithIndex.map { case (dir, i) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .localCheckpoint()
      val nDocs = docs.count()
      val table = s"ql_probe_$i"
      for (s <- Seq("", "_dels")) TableSwap.dropManaged(spark, table + s)
      val nBatches = 20
      val (tIngest, _) = Probes.timed {
        (0 until nBatches).foreach { b =>
          QuantileStore.applyBatch(spark,
            docs.filter(pmod(col("doc_id"), lit(nBatches)) === b),
            table, k, batchId = b.toLong)
        }
        spark.table(table).count()
      }
      def serve() = QuantileStore.readQuantiles(spark, table, k, ps)
      val (tServe, _) = Probes.median3(serve().queryExecution.toRdd.count())
      // exactness anchor (per-source docs ≤ k → no compaction): served
      // quantiles must EQUAL the ceil-rank select over raw token counts
      val served = serve().collect()
        .map(r => r.getString(0) -> (1 to ps.length).map(r.getLong))
        .toMap
      val exact = docs
        .select(col("source"),
          size(Dedup.words(col("text"))).cast("long").as("n"))
        .collect().groupBy(_.getString(0))
        .map { case (s, rows) =>
          val vs = rows.map(_.getLong(1)).sorted
          s -> ps.map(p =>
            vs(math.max(1, math.ceil(p * vs.length).toInt) - 1)).toIndexedSeq
        }
      require(served == exact,
        s"served quantiles must equal exact rank-selects in the exact " +
          s"regime: ${served.size} vs ${exact.size} sources")
      val (tCompact, _) = Probes.timed {
        QuantileStore.compact(spark, table, k)
        spark.table(table).count()
      }
      val (tServeC, _) = Probes.median3(serve().queryExecution.toRdd.count())
      val recompute = () => docs
        .select(col("source"),
          size(Dedup.words(col("text"))).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(graft.functions.Kll.quantileSketch(col("n"), k).as("sk"))
      val (tFull, _) = Probes.median3(
        recompute().queryExecution.toRdd.count())
      (dir, nDocs, tIngest, tServe, tCompact, tServeC, tFull)
    }
    val json = out.map { case (d, n, ti, ts, tc, tsc, tf) =>
      s"""{"dir":"$d","docs":$n,"ingest20_sec":$ti,"serve_sec":$ts,""" +
        s""""compact_sec":$tc,"serve_postcompact_sec":$tsc,""" +
        s""""recompute_sec":$tf}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"quantile_store","k":$k,"scales":$json}""")
    spark.stop()
  }
}
