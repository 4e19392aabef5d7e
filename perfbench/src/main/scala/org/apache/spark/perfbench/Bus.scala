package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus barrier, which is private to Spark: the
  * benchmark reads its listener totals only after every event of a
  * call has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
