package org.apache.spark

/** The one engine-internal call the benchmark needs: listener events are
  * delivered asynchronously, so counters read at a span boundary are only
  * complete once the listener bus has drained.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
