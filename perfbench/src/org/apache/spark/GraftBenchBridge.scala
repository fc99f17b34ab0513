package org.apache.spark

/** Access to the private[spark] listener bus: the benchmark's tracer waits
  * for every posted event to reach its listener before it reads them. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
