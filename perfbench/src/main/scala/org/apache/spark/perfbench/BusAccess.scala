package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; its drain is what makes listener
  * totals complete when a job returns, so reach it from inside the package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
