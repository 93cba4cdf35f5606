package org.apache.spark

/** Listener-bus drain for the benchmark's traced passes: the bus is
  * `private[spark]`, and a listener may only be detached once every event
  * of its pass has reached it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
