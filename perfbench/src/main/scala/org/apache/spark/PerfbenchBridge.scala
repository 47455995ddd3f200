package org.apache.spark

/** Listener-bus access the harness needs from inside Spark's package. */
object PerfbenchBridge {
  /** Block until every posted listener event has been delivered, so
    * counters read right after an action include that action.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
