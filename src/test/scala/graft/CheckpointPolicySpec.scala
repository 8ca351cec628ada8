package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.{BusDrain, CheckpointDirs}
import org.scalatest.funsuite.AnyFunSuite

/** The one checkpoint policy (`operators.Checkpoints`): with the
  * context's checkpoint dir set, every path that truncates lineage
  * writes a reliable checkpoint and returns what it returns without
  * one. */
class CheckpointPolicySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = s"${TestSpark.testData}/sf0.001"

  /** `rdd-*` directories under `dir` (Spark lays out `<dir>/<uuid>/rdd-N`). */
  private def rddDirs(dir: Path): Int = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.count(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
    finally walk.close()
  }

  /** Runs `entry` with the checkpoint dir unset, then set (through the
    * shim). The second run gets its own session when `fresh`, so
    * session-memo builds run again under the set dir. */
  private def assertReliable(fresh: Boolean = false)(entry: SparkSession => DataFrame): Unit = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val local = Goldens.checksum(entry(spark))
    val dir = Files.createTempDirectory("graft_ckpt_policy")
    try {
      val (reliable, written) = CheckpointDirs.withCheckpointDir(sc, dir.toString) {
        val df = entry(if (fresh) spark.newSession() else spark)
        val sum = Goldens.checksum(df)
        // the frame holds its checkpointed RDDs; while it is reachable
        // the cleaner leaves their files in place
        val n = rddDirs(dir)
        java.lang.ref.Reference.reachabilityFence(df)
        (sum, n)
      }
      assert(sc.getCheckpointDir.isEmpty, "checkpoint dir not restored")
      assert(reliable == local)
      assert(written > 0, s"no rdd-* checkpoint directory under $dir")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def engine(name: String)(s: SparkSession): DataFrame =
    SparkEntry.queries(name)(s, sf)

  test("eng_dedup_pipeline checkpoints reliably under a checkpoint dir") {
    assertReliable()(engine("eng_dedup_pipeline"))
  }

  test("eng_incremental_dedup rebuilds its memo as a reliable checkpoint") {
    assertReliable(fresh = true)(engine("eng_incremental_dedup"))
  }

  test("eng_semantic_dedup checkpoints reliably under a checkpoint dir") {
    assertReliable()(engine("eng_semantic_dedup"))
  }

  test("eng_transformer_block's lazy checkpoint is reliable under a checkpoint dir") {
    assertReliable()(engine("eng_transformer_block"))
  }

  /** Jobs one checksum of `entry` starts, counted as `JobCount` does:
    * a listener, read after the bus has drained. Only jobs carrying
    * this spec's local property count (AQE stage jobs inherit it). */
  private def jobsOf(entry: SparkSession => DataFrame): Int = {
    val sc = spark.sparkContext
    val tag = "graft.checkpointPolicySpec"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    BusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      Goldens.checksum(entry(spark))
      BusDrain.drain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("eng_transformer_block runs the same jobs with and without a checkpoint dir") {
    val sc = spark.sparkContext
    val entry = engine("eng_transformer_block") _
    jobsOf(entry) // warm
    val local = jobsOf(entry)
    val dir = Files.createTempDirectory("graft_ckpt_jobs")
    try {
      val reliable = CheckpointDirs.withCheckpointDir(sc, dir.toString)(jobsOf(entry))
      assert(local > 0)
      assert(reliable == local, s"$reliable jobs with a checkpoint dir, $local without")
      assert(rddDirs(dir) > 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("a lazy reliable checkpoint that its first job reads in part is written whole") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_ckpt_partial")
    try CheckpointDirs.withCheckpointDir(sc, dir.toString) {
      val df = operators.Checkpoints.truncate(spark.range(0, 1000, 1, 4).toDF("id"), eager = false)
      assert(df.limit(1).collect().length == 1) // a job over the first partition only
      val walk = Files.walk(dir)
      val parts = try walk.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
        finally walk.close()
      assert(parts == 4)
      assert(df.selectExpr("sum(id)").head().getLong(0) == 499500L)
      java.lang.ref.Reference.reachabilityFence(df)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("qa19_mad_outliers (impl) checkpoints reliably under a checkpoint dir") {
    assertReliable()(s => QueryInventory.qa19.impl.get(s, sf))
  }

  test("qw5's two-phase ntile checkpoints reliably under a checkpoint dir") {
    spark.conf.set(QueryInventory.TwoPhaseNtileMinBytesKey, "0")
    try assertReliable()(s => QueryInventory.qw5.impl.get(s, sf))
    finally spark.conf.unset(QueryInventory.TwoPhaseNtileMinBytesKey)
  }

  test("only operators/Checkpoints.scala checkpoints a frame in src/main") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/operators/Checkpoints.scala")))
      .filter { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        src.contains("localCheckpoint(") || src.contains(".checkpoint(")
      }
      .map(root.relativize(_).toString).toList
    finally walk.close()
    assert(Files.isRegularFile(root.resolve("graft/operators/Checkpoints.scala")))
    assert(offenders.isEmpty,
      s"raw checkpoint calls outside Checkpoints.truncate in: ${offenders.mkString(", ")}")
  }
}
