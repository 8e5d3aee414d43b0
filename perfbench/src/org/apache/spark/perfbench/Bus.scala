package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task and job events asynchronously; the
  * benchmark drains it before reading its listener's counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
