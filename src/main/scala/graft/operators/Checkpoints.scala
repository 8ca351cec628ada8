package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's one checkpoint policy: every lineage truncation in
  * the engine goes through [[truncate]]. Iterative operators
  * (PageRank, DedupClusters) need it because their plans otherwise
  * double in depth each sweep; shared frames (memo builds, frames with
  * several consumers, stream-entry results) need it so no consumer
  * re-runs the upstream pipeline.
  *
  * The durability level follows Spark's own `spark.checkpoint.dir`
  * (read by `SparkContext` at startup, or set later with
  * `setCheckpointDir`):
  *  - unset: `localCheckpoint`. Blocks live on executors, with no
  *    distributed-FS traffic. Right for local and bench runs, but an
  *    executor loss kills the job, because the truncated lineage
  *    cannot be recomputed.
  *  - set: reliable `checkpoint`. Blocks are written under the
  *    directory (HDFS or an object store on a cluster), so a lost
  *    executor recovers from them instead of failing the job. This is
  *    the setting for long jobs at 100 TB, at the cost of one write
  *    and read per truncation. `GraftSession` turns on
  *    `spark.cleaner.referenceTracking.cleanCheckpoints`, so the files
  *    go when their frame is garbage-collected.
  *
  * Results are identical either way (asserted in CheckpointPolicySpec,
  * PageRankSpec and DedupClustersSpec); only failure recovery differs. */
object Checkpoints {

  /** Truncate `df`'s lineage, eagerly unless `eager = false` (then the
    * first job over the result materializes it, with no job of its
    * own under either setting: see `graftshim.FirstUseCheckpoint`). */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
    else if (eager) df.checkpoint()
    else org.apache.spark.sql.graftshim.FirstUseCheckpoint(df)
}
