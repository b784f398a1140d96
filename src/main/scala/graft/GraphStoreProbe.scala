package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraphStore, TableSwap}

/** GraphStore serve-vs-recompute probe (the TopKStore/QuantileStore
  * separation argument applied to whole-graph analytics): builds the
  * store from one sf directory's order-graph edges, refreshes once
  * (the cadence cost, reported), then times the SERVED rank/community
  * reads against the in-query recomputes (f25/f28's work). The point
  * at 100 TB: the refresh is paid once per cadence; every question in
  * between reads a node-grain table.
  *
  * Usage: sbt "runMain graft.GraphStoreProbe <sfDir> [<sfDir> …]"
  */
object GraphStoreProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GraphStoreProbe <sfDir> [<sfDir>…]")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.foreach { dir =>
      val t = "gstore_probe"
      Seq(t, s"${t}_dels", s"${t}_ranks", s"${t}_communities",
        s"${t}_cohesion").foreach(n => TableSwap.dropManaged(spark, n))
      // the f26/f28 CO-OCCURRENCE graph (the statement graph is
      // star-shaped and triangle-free — its community table would be
      // structurally empty)
      val li = Tables.load(spark, dir, "lineitem").select(
        concat(lit("order-"), col("l_orderkey")).as("o"),
        concat(lit("part-"), col("l_partkey")).as("p"),
        concat(lit("supplier-"), col("l_suppkey")).as("sp"))
      val edges = li.select(col("o").as("src"), col("p").as("dst"))
        .unionAll(li.select(col("p").as("src"), col("sp").as("dst")))
        .unionAll(li.select(col("o").as("src"), col("sp").as("dst")))
      GraphStore.append(edges, t, ver = 1)
      val (refreshSec, _) = Probes.timed { GraphStore.refresh(spark, t); 0L }
      val (serveRank, nRank) = Probes.median3(
        GraphStore.ranks(spark, t).queryExecution.toRdd.count())
      val (serveComm, nComm) = Probes.median3(
        GraphStore.communities(spark, t).queryExecution.toRdd.count())
      val (recompute, _) = Probes.median3(
        graft.operators.PageRank.ranks(GraphStore.edges(spark, t))
          .queryExecution.toRdd.count())
      println(s"""{"probe":"graph_store","sf_dir":"$dir",""" +
        s""""refresh_sec":$refreshSec,""" +
        s""""serve_rank_sec":$serveRank,"rank_rows":$nRank,""" +
        s""""serve_comm_sec":$serveComm,"comm_rows":$nComm,""" +
        s""""recompute_rank_sec":$recompute}""")
    }
    spark.stop()
  }
}
