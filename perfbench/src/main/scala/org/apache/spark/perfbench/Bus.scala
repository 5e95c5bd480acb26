package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark:
  * listener events arrive asynchronously, so counters are read only
  * after every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
