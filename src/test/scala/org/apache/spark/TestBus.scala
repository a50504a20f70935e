package org.apache.spark

/** Test access to the listener bus, whose drain is `private[spark]`:
  * returns once every event posted so far has reached every listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
