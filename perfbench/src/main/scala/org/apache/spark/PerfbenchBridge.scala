package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: listener events
  * arrive asynchronously, so tallies are read only after the bus drains. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
