package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the traced run drains it before it
  * reads the job records, so every job end is counted. `listenerBus` is
  * `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
