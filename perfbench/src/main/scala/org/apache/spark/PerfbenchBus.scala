package org.apache.spark

/** Drains the listener bus, whose wait is `private[spark]`, so that the
  * recorder has seen every event of a pass before the pass is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
