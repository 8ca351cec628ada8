package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.config.CLEANER_REFERENCE_TRACKING_CLEAN_CHECKPOINTS
import org.apache.spark.rdd.{CheckpointRDD, RDD, RDDCheckpointData, ReliableCheckpointRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** A lazy reliable checkpoint written by the first job that computes
  * the frame. Spark's own `checkpoint(eager = false)` runs one more
  * job after that one, which computes the frame again to write it.
  * Here each task that computes a partition writes it to the
  * checkpoint directory and caches it, so the files are complete when
  * the first job ends and later jobs read the cached rows, as they
  * read a lazy local checkpoint's blocks. A partition the first job
  * did not compute (a partial job such as a LIMIT) is written by one
  * job over the missing partitions only. Layout (`<dir>/rdd-<id>/
  * part-NNNNN`), read-back and cleanup are Spark's own. */
object FirstUseCheckpoint {

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val sc = ds.sparkSession.sparkContext
    val rdd = new WriteThrough(ds.queryExecution.toRdd.map(_.copy()),
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
    ClassicDataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  private def partFile(i: Int): String = "part-%05d".format(i)

  private class WriteThrough(prev: RDD[InternalRow],
      conf: Broadcast[SerializableConfiguration]) extends RDD[InternalRow](prev) {
    val dir: String = new Path(sparkContext.checkpointDir.get, s"rdd-$id").toString
    checkpointData = Some(new Written(this))
    // two jobs reading one partition at once (AQE runs independent
    // stages concurrently) compute and write it once: the second waits
    // on the block lock and reads the cached rows
    persist(StorageLevel.MEMORY_AND_DISK)

    override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions

    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      ReliableCheckpointRDD.writePartitionToCheckpointFile[InternalRow](dir, conf)(
        ctx, firstParent[InternalRow].iterator(split, ctx))
      ReliableCheckpointRDD.readCheckpointFile[InternalRow](
        new Path(dir, partFile(split.index)), conf, ctx)
    }
  }

  private class Written(rdd: WriteThrough) extends RDDCheckpointData[InternalRow](rdd) {
    protected override def doCheckpoint(): CheckpointRDD[InternalRow] = {
      val sc = rdd.context
      val fs = new Path(rdd.dir).getFileSystem(sc.hadoopConfiguration)
      val missing = rdd.partitions.indices
        .filterNot(i => fs.exists(new Path(rdd.dir, partFile(i))))
      if (missing.nonEmpty) sc.runJob(rdd, (it: Iterator[InternalRow]) => it.foreach(_ => ()), missing)
      val files = new ReliableCheckpointRDD[InternalRow](sc, rdd.dir, rdd.partitioner)
      require(files.partitions.length == rdd.partitions.length,
        s"${rdd.dir} holds ${files.partitions.length} of ${rdd.partitions.length} partitions")
      if (sc.conf.get(CLEANER_REFERENCE_TRACKING_CLEAN_CHECKPOINTS))
        sc.cleaner.foreach(_.registerRDDCheckpointDataForCleanup(files, rdd.id))
      files
    }
  }
}
