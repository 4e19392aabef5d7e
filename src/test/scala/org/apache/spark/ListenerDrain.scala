package org.apache.spark

/** Test access to the listener bus: returns once every event posted so
  * far (query-execution listener calls included) has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
