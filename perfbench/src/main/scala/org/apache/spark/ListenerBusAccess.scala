package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * that counters read after an operation include all of its tasks.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
