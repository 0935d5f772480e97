package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counters are complete; the bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
