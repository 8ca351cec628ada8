package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Drains the listener bus. `SparkContext.listenerBus` is
  * `private[spark]`; this shim lives in Spark's package namespace so
  * the traced run can wait for every posted event to reach its
  * listeners instead of sleeping a fixed time. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
