package org.apache.spark

/** Query execution listeners are called from the listener bus, after the
  * query returns; a spec that inspects what a listener saw drains the bus
  * first.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
