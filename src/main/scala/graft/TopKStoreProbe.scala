package graft

import org.apache.spark.sql.functions._

import graft.sources.TableSwap

/** Diagnostic main: measures [[graft.sources.TopKStore]]'s serving
  * claim across the corpus decade — "the head terms per source, ever,
  * WITHOUT a corpus rescan". The store's read cost is SUMMARY-shaped
  * ((batches-since-compact + 1) × sources rows of ≤ capacity
  * counters, independent of document count); the q23-style recompute
  * twin re-tokenizes every document. The gap must widen with the
  * decade, and compaction must re-bound the read side to one row per
  * source.
  *
  * Protocol per scale (sf1 = 50k docs, sf10 = 500k): ingest the
  * corpus as 20 micro-batch appends (the st20 write path), then
  * median-of-3 each face: readTopK pre-compact, readTopK post-
  * compact, and the direct full-corpus topK aggregation. Capacity is
  * sized ABOVE the corpus's max per-source distinct-term count
  * (probed first), so the exact regime holds and the served head is
  * gated EQUAL to the exact top-k recomputed from raw counts — the
  * correctness anchor that makes the timing comparison meaningful.
  *
  * Usage: sbt "runMain graft.TopKStoreProbe [sf1dir] [sf10dir]"
  */
object TopKStoreProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.length >= 2) Seq(args(0), args(1))
      else Seq("testdata-sf1", "testdata-sf10")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.TopKStore
    import graft.operators.Dedup

    val out = dirs.zipWithIndex.map { case (dir, i) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .localCheckpoint()
      val nDocs = docs.count()
      // size capacity for the exact regime: the equality gate below is
      // what makes the timing claim honest
      val vocabMax = docs
        .select(col("source"), explode(Dedup.words(col("text"))).as("t"))
        .groupBy(col("source")).agg(countDistinct(col("t")).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
      val cap = math.max(4096L, java.lang.Long.highestOneBit(vocabMax) * 2L)
        .toInt
      val table = s"topk_probe_$i"
      for (s <- Seq("", "_dels")) TableSwap.dropManaged(spark, table + s)
      val nBatches = 20
      val (tIngest, _) = Probes.timed {
        (0 until nBatches).foreach { b =>
          TopKStore.applyBatch(spark,
            docs.filter(pmod(col("doc_id"), lit(nBatches)) === b),
            table, cap, batchId = b.toLong)
        }
        spark.table(table).count()
      }
      def serve() = TopKStore.readTopK(spark, table, 10, cap)
      val (tServe, _) = Probes.median3(serve().queryExecution.toRdd.count())
      // exactness anchor (per-source distinct ≤ capacity → MG exact):
      // the served head must EQUAL the exact top-10 from raw counts
      val served = serve()
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("pos"), col("col.value"), col("col.n"))
        .collect().map(r =>
          (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      val exact = docs
        .select(col("source"), explode(Dedup.words(col("text"))).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("n"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("n").desc, col("t"))) - 1)
        .filter(col("pos") < 10)
        .collect().map(r =>
          (r.getString(0), r.getInt(3), r.getString(1), r.getLong(2))).toSet
      require(served == exact,
        s"served head must equal exact top-10 in the exact regime " +
          s"(cap=$cap, vocabMax=$vocabMax): ${served.size} vs ${exact.size}")
      val (tCompact, _) = Probes.timed {
        TopKStore.compact(spark, table, cap)
        spark.table(table).count()
      }
      val (tServeC, _) = Probes.median3(serve().queryExecution.toRdd.count())
      val recompute = () => docs
        .select(col("source"), explode(Dedup.words(col("text"))).as("t"))
        .groupBy(col("source"))
        .agg(graft.functions.TopKAggregate.topK(col("t"), 10, cap).as("top"))
      val (tFull, _) = Probes.median3(
        recompute().queryExecution.toRdd.count())
      (dir, nDocs, vocabMax, cap, tIngest, tServe, tCompact, tServeC, tFull)
    }
    val json = out.map { case (d, n, v, c, ti, ts, tc, tsc, tf) =>
      s"""{"dir":"$d","docs":$n,"vocab_max":$v,"capacity":$c,""" +
        s""""ingest20_sec":$ti,"serve_sec":$ts,"compact_sec":$tc,""" +
        s""""serve_postcompact_sec":$tsc,"recompute_sec":$tf}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"topk_store","scales":$json}""")
    spark.stop()
  }
}
