package org.apache.spark

/** The one engine-internal call the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * drained. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
