package org.apache.spark

/** Test access to the scheduler's asynchronous listener bus: returns once
  * every event posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
