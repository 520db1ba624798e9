package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * The listener bus is package-private to Spark, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
