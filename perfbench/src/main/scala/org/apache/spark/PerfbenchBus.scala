package org.apache.spark

/** Reaches the `private[spark]` listener-bus drain so the benchmark's trace
  * sees every event of a call before it reads the call's counters — a
  * deterministic barrier instead of a sleep-poll that could split one
  * call's events across two readings. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
