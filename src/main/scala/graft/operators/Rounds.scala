package graft.operators

import java.lang.ref.WeakReference

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Checkpoint rounds — the one block-custody primitive behind every
  * iterative operator (Components, KCore, Traverse, PageRank,
  * LabelProp, Triangles) and the stores and queries that hold their
  * results.
  *
  * OWNERSHIP: a `localCheckpoint` persists exactly one RDD — the one
  * under the `LogicalRDD` leaf of the checkpointed frame's own plan. A
  * [[Pin]] holds that RDD, so its release unpersists this snapshot and
  * nothing else. Nothing here reads the SparkContext's global registry
  * of persisted RDDs, so concurrent queries, store refreshes and
  * stream ticks on one SparkContext never see (or drop) each other's
  * blocks.
  *
  * ONE DRIVER ACTION PER ROUND: [[converge]] pins each round LAZILY and
  * lets the round's own action (a convergence count, a fixed-point
  * signature) materialize it. The persist hooks the RDD iterator below
  * Catalyst, so whatever query runs on top, the blocks cache the
  * checkpoint RDD's FULL rows — the action's plan-level pruning cannot
  * reach inside the RDD boundary — and the action visits every
  * partition, so the whole snapshot is materialized in the same job
  * (an eager checkpoint would pay a checkpoint job PLUS the action's
  * job per round). The superseded snapshot is released only after its
  * successor has materialized, since the successor's lineage reads it.
  *
  * [[chain]] is the fixed-round twin for round bodies that reference
  * their predecessor exactly once: rounds compose lazily inside a
  * segment (one pipelined job, no per-round driver sync) and one eager
  * pin at each segment boundary keeps any single plan shallow.
  */
object Rounds {

  /** A checkpointed frame and the one RDD whose blocks back it. */
  final class Pin private[Rounds] (val df: DataFrame,
      private[Rounds] val rdd: RDD[_]) {
    def id: Int = rdd.id

    /** Unpersist this snapshot's blocks (non-blocking; idempotent). */
    def release(): Unit = unpersist(rdd)
  }

  private def unpersist(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE)
      rdd.unpersist(blocking = false)

  /** `df.localCheckpoint(eager, level)` with custody of its blocks. */
  def pin(df: DataFrame, eager: Boolean = true,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Pin =
    held(df.localCheckpoint(eager, level))

  /** Custody of a frame that is already a checkpoint snapshot — an
    * operator result ([[PageRank.ranks]], [[KCore.membership]], …) or a
    * projection of one: its plan must have exactly one leaf, a
    * `LogicalRDD`.
    */
  def held(checkpointed: DataFrame): Pin =
    checkpointed.queryExecution.logical.collectLeaves() match {
      case Seq(leaf: LogicalRDD) => new Pin(checkpointed, leaf.rdd)
      case leaves => throw new IllegalArgumentException(
        "Rounds.held: expected one checkpoint (LogicalRDD) leaf, got " +
          leaves.map(_.nodeName).mkString("[", ", ", "]"))
    }

  /** Outcome of [[converge]]: the final snapshot (still pinned — the
    * caller owns it), its measure, and whether `done` fired within the
    * round budget.
    */
  final case class Converged[M](last: Pin, measure: M, converged: Boolean)

  /** Convergence loop from `start` (measured as `init`): round `r`
    * (1-based) pins `round(cur, r)` lazily at `level`, materializes it
    * with `measure(next, r)`, then releases `cur`. Stops once
    * `done(previous, current)` holds or after `maxRounds` rounds.
    */
  def converge[M](start: Pin, init: M, maxRounds: Int,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      round: (DataFrame, Int) => DataFrame,
      measure: (DataFrame, Int) => M,
      done: (M, M) => Boolean): Converged[M] = {
    var cur = start
    var m = init
    var r = 0
    var stop = false
    while (!stop && r < maxRounds) {
      r += 1
      val next = pin(round(cur.df, r), eager = false, level)
      val mNext = measure(next.df, r)
      cur.release()
      stop = done(m, mNext)
      cur = next
      m = mNext
    }
    Converged(cur, m, stop)
  }

  /** Fixed-round lazy chain: `rounds` applications of `round` to
    * `start`, composed lazily in segments of up to `segment` rounds,
    * each segment ending in an eager pin that releases the previous
    * boundary. Returns the final boundary (the caller owns it).
    */
  def chain(start: DataFrame, rounds: Int, segment: Int)(
      round: DataFrame => DataFrame): Pin = {
    require(rounds >= 1, s"Rounds.chain: rounds must be >= 1, got $rounds")
    var last: Option[Pin] = None
    var i = 0
    while (i < rounds) {
      val seg = math.min(segment, rounds - i)
      val from = last.fold(start)(_.df)
      val next = pin((1 to seg).foldLeft(from)((d, _) => round(d)))
      last.foreach(_.release())
      last = Some(next)
      i += seg
    }
    last.get
  }

  /** One live result generation per slot, for faces that hand out a
    * frame without its custody: storing a slot's new result releases
    * that slot's previous one (AFTER the new one is built — a delta
    * face may read its previous result). Consume each frame before
    * requesting the next one on the same slot; callers that need to
    * hold a frame longer take the [[Pin]] face instead. A slot holds
    * its RDD WEAKLY: once the caller drops the frame, Spark's
    * ContextCleaner may reclaim the blocks before the next call.
    */
  final class Generations {
    private val last = mutable.Map.empty[String, WeakReference[RDD[_]]]

    def keep(slot: String)(build: => Pin): DataFrame = synchronized {
      val next = build
      last.get(slot).flatMap(r => Option(r.get)).foreach(unpersist)
      last(slot) = new WeakReference(next.rdd)
      next.df
    }
  }
}
