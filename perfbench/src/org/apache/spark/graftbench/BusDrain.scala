package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener holds the complete job record before it is read.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
