package org.apache.spark.perfbridge

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark needs to wait for it
  * to deliver pending job and task events before reading its recorders.
  */
object Bus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
