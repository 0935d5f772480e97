package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters attributed by the benchmark's listeners are complete before
  * they are read. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
