package perfbench

import scala.util.Random

import graft.SparkEntry

/** The `batch` workload: registry queries through `SparkEntry.queries`,
  * one pass running each once in a seed-drawn order.
  *
  * The set pairs iterative operators, whose time goes to per-round
  * jobs, stages and checkpoint/release (personalized PageRank, as-of
  * traversal), with shuffle- and executor-bound candidate joins
  * (n-gram Jaccard and containment dedup, triangles). Each query is
  * forced by an action that also computes an order-independent checksum
  * of its rows, which must equal the value recorded for that query in
  * `checksums.json`.
  */
final class Batch(run: Runner, dataDir: String, seed: Long, expected: Map[String, String]) {

  def pass(i: Int): Unit =
    new Random(seed * 7919L + i).shuffle(Batch.queries).foreach(query)

  def query(key: String): Option[(String, Long)] =
    run.op("query", key)(SparkEntry.queries(key)(run.spark, dataDir)) { df =>
      val r = Runner.checksum(df)
      run.tracer.executed(df.queryExecution)
      run.addRows(r._2)
      r
    } { case (sum, _) =>
      expected.get(key) match {
        case Some(want) if want == sum => None
        case Some(want) => Some(s"checksum $sum, recorded $want")
        case None => Some(s"no recorded checksum (got $sum)")
      }
    }
}

object Batch {
  /** The batch inputs are fixed, so the recorded checksums hold for
    * every seed; the seed draws the query order of each pass.
    */
  val DataSeed = 20261017L

  val queries: Seq[String] = Seq(
    "f25b_pagerank_personalized", "f30_traversal_asof",
    "d2_dedup_ngram_jaccard", "d9_dedup_containment", "f26_triangles")
}
