package org.apache.spark.sql.graftshim

import org.apache.spark.util.Utils

/** Scratch directory for a per-session index build. `Utils.createTempDir`
  * is `private[spark]`; it registers the directory with Spark's
  * `ShutdownHookManager`, so it is deleted when the JVM exits instead of
  * piling up in `java.io.tmpdir` run after run. */
object ScratchDir {
  def create(prefix: String): java.nio.file.Path =
    Utils.createTempDir(System.getProperty("java.io.tmpdir"), prefix).toPath
}
