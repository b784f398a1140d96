package org.apache.spark

/** Reaches the listener bus, which is private to Spark's own packages. */
object PerfbenchBridge {

  /** Block until every event posted so far has been delivered to every
    * listener. Call it before reading a listener's counters and before
    * removing the listener, or the last jobs' events can be missed.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
