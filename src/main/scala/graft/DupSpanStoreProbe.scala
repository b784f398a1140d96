package graft

import org.apache.spark.sql.functions._

import graft.sources.TableSwap

/** Diagnostic main: measures [[graft.sources.DocStore.dupSpanCandidates]]'s
  * batch-shaped claim across a corpus decade — the r13 incremental
  * face of exact-substring dedup (d14). d3 has the band-index probe
  * (DocStoreProbe: near-flat on 10×), d12 has VecStore lists; this is
  * the same question for the anchor index: "which stored docs share
  * ≥ minRun verbatim runs with this batch" must cost a batch-bounded
  * pair stage plus nothing corpus-shaped but the two narrow
  * broadcast-pruned index scans.
  *
  * Protocol: build the anchor store from each corpus (50k docs at
  * sf1, 500k at sf10 — token-grain index, so ~10× the rows), probe
  * with the SAME fixed batch (500 docs: 250 re-keyed copies of
  * sf1-resident docs — planted full-length runs present at BOTH
  * scales — plus 250 novel), median-of-3 after warmup. The sf10
  * corpus ⊇ sf1's first 50k doc ids? NO — ids overlap but texts are
  * regenerated; the probe therefore reports pair counts per scale
  * rather than asserting equality, and asserts only that every
  * planted copy finds its stored twin (recall of the injected runs,
  * scale-invariant by construction: the twin carries the batch text
  * verbatim).
  *
  * Usage: sbt "runMain graft.DupSpanStoreProbe [sf1dir] [sf10dir]"
  */
object DupSpanStoreProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.length >= 2) Seq(args(0), args(1))
      else Seq("testdata-sf1", "testdata-sf10")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.DocStore

    val out = dirs.zipWithIndex.map { case (dir, i) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val nDocs = docs.count()
      val table = s"dupspan_probe_$i"
      for (s <- Seq("", "_bands", "_anchors", "_anchorsmeta", "_dels"))
        TableSwap.dropManaged(spark, table + s)
      val (tBuild, _) = Probes.timed {
        DocStore.append(docs, table, buckets = 64)
        DocStore.initAnchors(spark, table, k = 8, buckets = 64)
        spark.table(s"${table}_anchors").count()
      }
      val idxRows = spark.table(s"${table}_anchors").count()
      // fixed batch: 250 re-keyed copies of low-id docs (planted
      // full-length runs) + 250 novel docs with fresh vocabulary
      val copies = docs.filter(col("doc_id") < 250L)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          col("text"), col("source"))
      val novel = spark.range(250)
        .select((col("id") + lit(2000000000L)).as("doc_id"),
          concat_ws(" ", array((0 until 40).map(j =>
            concat(lit(s"zz${j}_"), col("id"))): _*)).as("text"),
          lit("probe").as("source"))
      val batch = copies.unionByName(novel).localCheckpoint()
      val probe = () => DocStore
        .dupSpanCandidates(spark, table, batch, minRun = 12, maxDf = 20)
      val (tProbe, nPairs) = Probes.median3(
        probe().queryExecution.toRdd.count())
      // twin accounting: most planted copies pair with their stored
      // twin; the misses are df-cap kills (a copy of an injected
      // exact-dup shares every gram with 20+ stored docs, and the
      // batch algorithm drops those anchors IDENTICALLY — proven by
      // the sf1 equivalence below, so a miss here is the cap working,
      // not the index losing a run)
      val twins = probe()
        .filter(col("new_doc_id") === col("stored_doc_id") + 1000000000L)
        .select(col("stored_doc_id")).distinct().count()
      require(twins >= 240L,
        s"planted copies must overwhelmingly find their twins: $twins/250")
      if (i == 0) {
        // the real gate, affordable at sf1: the probe must EQUAL the
        // batch algorithm over stored ∪ batch restricted to
        // stored×batch pairs (the SourcesSpec equivalence, here at
        // corpus scale)
        val full = graft.operators.Dedup
          .dupSpans(docs.unionByName(batch), 8, 12, 20)
          .filter((col("doc_a") < lit(1000000000L)) =!=
            (col("doc_b") < lit(1000000000L)))
          .count()
        require(full == nPairs,
          s"probe diverged from batch d14 restricted: $nPairs vs $full")
      }
      (dir, nDocs, idxRows, tBuild, tProbe, nPairs, twins)
    }
    val json = out.map { case (d, n, ir, tb, tp, np, tw) =>
      s"""{"dir":"$d","docs":$n,"index_rows":$ir,""" +
        s""""build_sec":$tb,"probe_sec":$tp,"pairs":$np,"twins":$tw}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"dupspan_store","scales":$json}""")
    spark.stop()
  }
}
