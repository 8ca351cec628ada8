package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Listener-bus drain. `SparkContext.listenerBus` is `private[spark]`;
  * this shim lives in Spark's package namespace (same technique as
  * [[ColumnBridge]]) so a listener-based tool can wait until every
  * posted event has reached its listeners instead of sleeping a fixed
  * time and hoping the bus caught up. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
