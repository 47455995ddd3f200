package org.apache.spark

/** Test access to the listener bus: events reach listeners
  * asynchronously, so a test that counts them drains the bus first.
  */
object TestListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
