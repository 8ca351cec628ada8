package org.apache.spark.sql.graftshim

import org.apache.spark.util.ShutdownHookManager

/** Test view of Spark's delete-at-exit registry (`ShutdownHookManager`
  * is `private[spark]`), so a spec can check that a scratch directory
  * made by [[ScratchDir]] is removed when the JVM exits. */
object ShutdownDeletes {
  def registered(dir: java.io.File): Boolean =
    ShutdownHookManager.hasShutdownDeleteDir(dir)
}
