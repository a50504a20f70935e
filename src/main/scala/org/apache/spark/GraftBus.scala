package org.apache.spark

/** Reaches the `private[spark]` listener-bus drain for [[graft.obs]]:
  * [[drain]] returns once every event posted so far has reached every
  * listener, so a count read after it holds every event of the work that
  * ran before it. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
