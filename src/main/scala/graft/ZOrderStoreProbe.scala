package graft

import org.apache.spark.sql.functions._

import graft.sources.{BloomSkip, StatementStore, TableSwap, ZOrderLayout}

/** The z-ordered STATEMENT STORE at scale (the spec gates 120k rows;
  * this measures the same three skip claims a decade up): 1.2M
  * statements, 4 buckets, default production-grain row groups scaled
  * to the corpus (1 MiB), independent pseudo-random first_seen /
  * last_seen spreads. Reports, for the z store vs a canonical twin:
  * row-group OPEN pruning on a 2-D time box, PAGE-grain row
  * selectivity (column-index row ranges), and bloom/dictionary
  * point-lookup skipping on canonical_id.
  *
  * Usage: sbt "runMain graft.ZOrderStoreProbe [rows]"
  */
object ZOrderStoreProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(1200000)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Seq("zprobe", "zprobe_plain").foreach(t => TableSwap.dropManaged(spark, t))
    val base = 1700000000L
    val batch = spark.range(rows.toLong)
      .select(
        concat(lit("s-"), col("id")).as("id"),
        concat(lit("e"), pmod(col("id"), lit(rows / 24L))).as("entity_id"),
        concat(lit("e"), pmod(col("id"), lit(rows / 24L))).as("canonical_id"),
        lit("name").as("prop"), lit("name").as("prop_type"),
        lit("Person").as("schema"),
        concat(lit("v"), col("id")).as("value"),
        lit("ds1").as("dataset"),
        timestamp_seconds(lit(base) +
          pmod(col("id") * 2654435761L, lit(31536000L))).as("first_seen"),
        timestamp_seconds(lit(base) +
          pmod(col("id") * 40503L, lit(31536000L))).as("last_seen"))
    val opts = Map("parquet.block.size" -> (1024 * 1024).toString)
    StatementStore.append(batch, "zprobe", buckets = 4,
      zorder = Some((Seq("first_seen", "last_seen"), 16)),
      writerOptions = opts)
    StatementStore.append(batch, "zprobe_plain", buckets = 4,
      writerOptions = opts)
    def dirOf(t: String): String = {
      val f = spark.table(t).inputFiles.head
      new java.io.File(new java.net.URI(f)).getParent
    }
    val lo = (base + 100 * 86400L) * 1000000L
    val hi = (base + 142 * 86400L) * 1000000L
    val box = Map("first_seen" -> ((lo, hi)), "last_seen" -> ((lo, hi)))
    val zG = ZOrderLayout.matchingRowGroups(dirOf("zprobe"), box)
    val pG = ZOrderLayout.matchingRowGroups(dirOf("zprobe_plain"), box)
    val zR = ZOrderLayout.matchingRows(dirOf("zprobe"), box)
    val pR = ZOrderLayout.matchingRows(dirOf("zprobe_plain"), box)
    val present = BloomSkip.skippableRowGroups(
      dirOf("zprobe"), "canonical_id", "e123")
    val absent = BloomSkip.skippableRowGroups(
      dirOf("zprobe"), "canonical_id", "e-nope")
    println(s"""{"probe":"zorder_store","rows":$rows,""" +
      s""""row_groups":{"z":[${zG._1},${zG._2}],"plain":[${pG._1},${pG._2}]},""" +
      s""""page_rows":{"z":[${zR._1},${zR._2}],"plain":[${pR._1},${pR._2}]},""" +
      s""""bloom":{"present":[${present._1},${present._2}],""" +
      s""""absent":[${absent._1},${absent._2}]}}""")
    spark.stop()
  }
}
