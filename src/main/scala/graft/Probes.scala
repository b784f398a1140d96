package graft

/** The shared measurement scaffold of every probe main — one
  * definition of the timing protocol, so a change to the warmup
  * discipline cannot silently diverge across copies.
  */
object Probes {

  def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Median of 3 timed runs after one untimed warmup — the probe
    * protocol every BASELINE table quotes.
    */
  def median3(f: => Long): (Double, Long) = {
    timed(f)
    val runs = (1 to 3).map(_ => timed(f))
    (runs.map(_._1).sorted.apply(1), runs.head._2)
  }
}
