package org.apache.spark

/** Test access to the listener bus, so a spec reads listener counts only
  * after every posted event has been delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
