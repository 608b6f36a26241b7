package org.apache.spark

/** Test access to the listener bus: wait until every posted event has
  * reached the listeners, so task metrics summed by a listener are final.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
