package graft

import org.apache.spark.sql.functions._

import graft.sources.TableSwap

/** Diagnostic main: measures [[graft.sources.BitmapStore]]'s serving
  * claim across the events decade — "exactly which users has each
  * event type reached, ever, WITHOUT an event-log rescan" — plus the
  * cost of the face that makes this store unique: a USER-grain
  * takedown served immediately (tombstone-masked) and scrubbed
  * physically at compact. Read cost is SUMMARY-shaped
  * ((batches-since-compact + 1) × types bitmap rows, O(audience) bits
  * each, independent of event count); the q33-style recompute twin
  * re-scans every event. Served counts are gated EQUAL to exact
  * COUNT(DISTINCT) — bitmaps are exact in every regime, so the anchor
  * needs no capacity sizing at all (the contrast with the sketch-
  * store probes is the point).
  *
  * Protocol per scale (sf0.1 = 100k events, sf1 = 1M): ingest as 20
  * micro-batch appends (the st23 write path), median-of-3 each face
  * (serve pre-compact, post-compact, full recompute), then pop 1% of
  * users and gate the masked serve against the filtered recompute.
  *
  * Usage: sbt "runMain graft.BitmapStoreProbe [sf01dir] [sf1dir]"
  */
object BitmapStoreProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.length >= 2) Seq(args(0), args(1))
      else Seq("/root/testdata/sf0.1", "testdata-sf1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.BitmapStore

    val out = dirs.zipWithIndex.map { case (dir, i) =>
      val events = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .localCheckpoint()
      val nEvents = events.count()
      val table = s"bm_probe_$i"
      for (s <- Seq("", "_dels")) TableSwap.dropManaged(spark, table + s)
      val nBatches = 20
      val (tIngest, _) = Probes.timed {
        (0 until nBatches).foreach { b =>
          BitmapStore.applyBatch(spark,
            events.filter(pmod(col("event_id"), lit(nBatches)) === b),
            table, batchId = b.toLong)
        }
        spark.table(table).count()
      }
      def serve() = BitmapStore.readAudience(spark, table)
      val (tServe, _) = Probes.median3(serve().queryExecution.toRdd.count())
      def exactAudience(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("users"))
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(toMap(serve()) == toMap(exactAudience(events)),
        "served audience must equal exact COUNT(DISTINCT) — always")
      val (tCompact, _) = Probes.timed {
        BitmapStore.compact(spark, table)
        spark.table(table).count()
      }
      val (tServeC, _) = Probes.median3(serve().queryExecution.toRdd.count())
      val (tFull, _) = Probes.median3(
        exactAudience(events).queryExecution.toRdd.count())
      // user-grain takedown: pop 1% of users, serve must equal the
      // filtered recompute IMMEDIATELY (masked), and still after the
      // physical scrub
      val popped = events.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(100)) === 7)
        .localCheckpoint()
      val nPopped = popped.count()
      val (tPop, _) = Probes.timed {
        BitmapStore.popUsers(spark, table, popped)
        spark.table(s"${table}_dels").count()
      }
      val survivors = events.join(popped, Seq("user_id"), "left_anti")
      val (tServeMasked, _) = Probes.median3(
        serve().queryExecution.toRdd.count())
      require(toMap(serve()) == toMap(exactAudience(survivors)),
        "masked serve must equal the filtered recompute")
      BitmapStore.compact(spark, table)
      require(toMap(serve()) == toMap(exactAudience(survivors)),
        "post-scrub serve must equal the filtered recompute")
      (dir, nEvents, nPopped, tIngest, tServe, tCompact, tServeC, tFull,
        tPop, tServeMasked)
    }
    val json = out.map {
      case (d, n, np, ti, ts, tc, tsc, tf, tp, tsm) =>
        s"""{"dir":"$d","events":$n,"popped_users":$np,""" +
          s""""ingest20_sec":$ti,"serve_sec":$ts,"compact_sec":$tc,""" +
          s""""serve_postcompact_sec":$tsc,"recompute_sec":$tf,""" +
          s""""pop_sec":$tp,"serve_masked_sec":$tsm}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"bitmap_store","scales":$json}""")
    spark.stop()
  }
}
