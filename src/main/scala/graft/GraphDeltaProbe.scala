package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraphStore, TableSwap}

/** Incremental-census probe (r15): is a GraphStore refresh tick
  * BATCH-bounded once the per-edge support snapshot exists?
  *
  * Builds the co-occurrence graph store from one sf directory,
  * refreshes once (full census — the snapshot cost, paid at store
  * birth), then appends a SMALL batch (a 1% slice of the orders'
  * edges, the realistic tick shape) and times:
  *
  *   - `refresh_delta_sec` — the r15 append-only tick: the census is
  *     [[graft.operators.Triangles.perEdgeDeltaDiff]] and the k-core
  *     is [[graft.operators.KCore.membershipDeltaDiff]] over only the
  *     appended edges (PageRank/LP still run full — fixed-round
  *     iterations from a uniform start have no exact warm delta);
  *   - `kcore_delta_sec` / `kcore_full_sec` — the r15-continuation
  *     k-core patch in isolation (Δ-seeded region BFS + region peel
  *     vs the whole-graph peel);
  *   - `refresh_full_sec`  — the same tick with `deltaCensus = false`
  *     (the r14 behavior: full wedge join every tick);
  *   - `census_delta_sec` / `census_full_sec` — the census terms in
  *     isolation, the direct batch-bounded claim.
  *
  * Usage: sbt "runMain graft.GraphDeltaProbe <sfDir> [<sfDir> …]"
  */
object GraphDeltaProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GraphDeltaProbe <sfDir> [<sfDir>…]")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.foreach { dir =>
      val t = "gdelta_probe"
      Seq(t, s"${t}_dels", s"${t}_ranks", s"${t}_communities",
        s"${t}_cohesion", s"${t}_kcore", s"${t}_support")
        .foreach(n => TableSwap.dropManaged(spark, n))
      val li = Tables.load(spark, dir, "lineitem").select(
        col("l_orderkey"),
        concat(lit("order-"), col("l_orderkey")).as("o"),
        concat(lit("part-"), col("l_partkey")).as("p"),
        concat(lit("supplier-"), col("l_suppkey")).as("sp"))
      def edgesOf(rows: org.apache.spark.sql.DataFrame) =
        rows.select(col("o").as("src"), col("p").as("dst"))
          .unionAll(rows.select(col("p").as("src"), col("sp").as("dst")))
          .unionAll(rows.select(col("o").as("src"), col("sp").as("dst")))
      // 99% of orders at store birth; the last 1% is the append tick
      val base = li.filter(pmod(col("l_orderkey"), lit(100)) =!= 0)
      val batch = li.filter(pmod(col("l_orderkey"), lit(100)) === 0)
      GraphStore.append(edgesOf(base), t, ver = 1)
      val (birthSec, _) = Probes.timed { GraphStore.refresh(spark, t); 0L }
      GraphStore.append(edgesOf(batch), t, ver = 2)

      // census terms in isolation (same inputs the refresh split sees)
      val rows = spark.table(t)
      val oldE = rows.filter(col("ver") <= 1L).select(col("src"), col("dst"))
      val newE = rows.filter(col("ver") > 1L).select(col("src"), col("dst"))
      val storedSup = spark.table(s"${t}_support")
      val (censusDelta, nDelta) = Probes.timed {
        val pin = graft.operators.Triangles
          .perEdgeDeltaDiff(oldE, storedSup, newE)
        val n = pin.df.queryExecution.toRdd.count()
        pin.release(); n
      }
      val (censusFull, nFull) = Probes.timed {
        val pin = graft.operators.Triangles
          .perEdgeDiff(GraphStore.edges(spark, t))
        val n = pin.df.queryExecution.toRdd.count()
        pin.release(); n
      }
      require(nDelta == nFull,
        s"delta census row count $nDelta != full $nFull")

      // k-core terms in isolation (r15 continuation): the Δ-seeded
      // region patch vs the full peel, same tick inputs
      val storedCore = spark.table(s"${t}_kcore")
        .select(col("node"), col("core_degree").as("d"))
      val (kcoreDelta, nCoreDelta) = Probes.timed {
        val pin = graft.operators.KCore
          .membershipDeltaDiff(oldE, storedCore, newE, 3L)
        val n = pin.df.queryExecution.toRdd.count()
        pin.release(); n
      }
      val (kcoreFull, nCoreFull) = Probes.timed {
        graft.operators.KCore.membership(GraphStore.edges(spark, t), 3L, 64)
          .queryExecution.toRdd.count()
      }
      require(nCoreDelta == nCoreFull,
        s"delta kcore row count $nCoreDelta != full $nCoreFull")

      // whole-tick wall times, both paths (delta first — it consumes
      // the ver<=1 snapshot; then reset the snapshot and force full)
      val (tickDelta, _) = Probes.timed {
        GraphStore.refresh(spark, t); 0L
      }
      GraphStore.append(edgesOf(batch), t, ver = 3) // keep shapes honest
      val (tickFull, _) = Probes.timed {
        GraphStore.refresh(spark, t, deltaCensus = false); 0L
      }
      println(s"""{"probe":"graph_delta","sf_dir":"$dir",""" +
        s""""birth_refresh_sec":$birthSec,""" +
        s""""census_delta_sec":$censusDelta,"census_full_sec":$censusFull,""" +
        s""""support_rows":$nFull,""" +
        s""""kcore_delta_sec":$kcoreDelta,"kcore_full_sec":$kcoreFull,""" +
        s""""kcore_rows":$nCoreFull,""" +
        s""""refresh_delta_sec":$tickDelta,"refresh_full_sec":$tickFull}""")
    }
    spark.stop()
  }
}
