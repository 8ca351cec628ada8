package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** A reliable checkpoint directory for the length of one block.
  * `SparkContext` cannot unset its checkpoint dir through its public
  * API, and every spec shares one context, so a spec that set one
  * would turn every later `Checkpoints.truncate` into a reliable
  * checkpoint into a directory it already deleted. This restores the
  * previous value (`checkpointDir` is `private[spark]`). */
object CheckpointDirs {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
