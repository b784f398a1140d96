package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Components, Rounds}

/** Block custody of [[Rounds]]: a pin owns exactly the RDD its own plan
  * checkpointed, so releasing it never touches a frame persisted by
  * anyone else on the shared SparkContext.
  */
class RoundsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collectLeaves() match {
      case Seq(r: LogicalRDD) => r.rdd.id
      case other => fail(s"not a checkpoint leaf: $other")
    }

  test("pin id is the plan's LogicalRDD id; release drops exactly it") {
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    for ((eager, level) <- Seq(
        (true, StorageLevel.MEMORY_AND_DISK),
        (false, StorageLevel.MEMORY_AND_DISK),
        (true, ser))) {
      val before = persisted
      val p = Rounds.pin(spark.range(0, 1000).toDF("x"), eager, level)
      assert(p.id == leafId(p.df))
      assert(persisted -- before == Set(p.id))
      assert(spark.sparkContext.getPersistentRDDs(p.id).getStorageLevel ==
        level)
      assert(p.df.count() == 1000L)
      val others = persisted - p.id
      p.release()
      assert(persisted == others)
      p.release() // idempotent
      assert(persisted == others)
    }
  }

  test("held takes custody of an operator result's checkpoint") {
    import spark.implicits._
    val labels = Components.minLabelStars(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val p = Rounds.held(labels.select($"id"))
    assert(p.id == leafId(labels) && persisted.contains(p.id))
    p.release()
    assert(!persisted.contains(p.id))
    assertThrows[IllegalArgumentException](Rounds.held(spark.range(3).toDF))
  }

  test("a generation slot releases its previous result on the next keep") {
    val gens = new Rounds.Generations
    val first = leafId(gens.keep("s")(Rounds.pin(spark.range(10).toDF)))
    val second = leafId(gens.keep("s")(Rounds.pin(spark.range(20).toDF)))
    assert(!persisted.contains(first) && persisted.contains(second))
  }

  test("a frame persisted by another thread between pin and release survives") {
    val p = Rounds.pin(spark.range(0, 100).toDF("x"))
    var other: RDD[Int] = null
    val t = new Thread(() => {
      other = spark.sparkContext.parallelize(1 to 10, 2).persist()
      other.count(); ()
    })
    t.start(); t.join()
    p.release()
    assert(persisted.contains(other.id) && !persisted.contains(p.id))
    other.unpersist(blocking = true)
  }

  test("two minLabel loops on two threads + a third thread persisting frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // two graphs with chains, so each loop runs several rounds
    def graph(off: Long) = (
      (0L until 40L).map(i => (off + i, off + i + 1)) ++
        Seq.fill(60)((off + rnd.nextInt(80), off + rnd.nextInt(80)))
    ).toDF("src", "dst")
    val g1 = graph(0L)
    val g2 = graph(1000L)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want1 = labels(Components.minLabel(g1))
    val want2 = labels(Components.minLabel(g2))
    for (_ <- 1 to 3) {
      val stop = new AtomicBoolean(false)
      val held = ArrayBuffer.empty[RDD[Int]]
      // the third thread keeps persisting fresh frames while both loops
      // run: none of them may be released by a loop
      val holder = new Thread(() => {
        while (!stop.get()) {
          held.synchronized {
            held += spark.sparkContext.parallelize(1 to 4, 1).persist()
          }
          Thread.sleep(2)
        }
      })
      var got1, got2 = Map.empty[Long, Long]
      val t1 = new Thread(() => got1 = labels(Components.minLabel(g1)))
      val t2 = new Thread(() => got2 = labels(Components.minLabel(g2)))
      holder.start(); t1.start(); t2.start()
      t1.join(); t2.join()
      stop.set(true); holder.join()
      assert(got1 == want1)
      assert(got2 == want2)
      val live = persisted
      assert(held.nonEmpty && held.forall(r => live.contains(r.id)))
      held.foreach(_.unpersist(blocking = false))
    }
  }
}
