package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PageRank

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    PageRank.run(edges.toDF("src", "dst"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("two-node cycle is the fixed point: both ranks stay 1.0") {
    // rank' = 0.15 + 0.85 · (1.0 / 1) = 1.0 every sweep
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(r == Map(1L -> 1.0, 2L -> 1.0))
  }

  test("chain with a dangling sink matches the hand-computed values") {
    // A→B: after sweep 1, A has no in-edges → 0.15; B converges to
    // 0.15 + 0.85·0.15 = 0.2775 from sweep 2 on
    val r = ranks(Seq((1L, 2L)), iters = 5)
    assert(math.abs(r(1L) - 0.15) < 1e-9)
    assert(math.abs(r(2L) - 0.2775) < 1e-9)
  }

  test("rank flows through the hub to its sole successor") {
    // 3 spokes point at the hub; the hub points ONLY at spoke 1, so
    // the hub's whole accumulated rank flows there — both far exceed
    // the pure-source spokes, which settle exactly at 1−d
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (10L, 1L))
    val r = ranks(edges, iters = 10)
    assert(r(1L) > 1.0 && r(10L) > 1.0)
    assert(r(1L) > r(2L) && r(10L) > r(2L))
    assert(math.abs(r(2L) - 0.15) < 1e-9) // pure-source spokes settle at 1−d
    assert(r(2L) == r(3L))                 // symmetric spokes tie exactly
  }

  test("ranks are invariant to input partitioning") {
    import spark.implicits._
    val edges = (0L until 300L).map(i => (i % 17, (i * 7 + 3) % 23))
    def run(parts: Int) =
      PageRank.run(edges.toDF("src", "dst").repartition(parts), iters = 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(run(2) == run(13))
  }

  test("ranks are identical across the broadcast gate (hint+dst-cluster vs plain)") {
    import spark.implicits._
    // multi-edges, a hub, pure sources and a cycle — every structural
    // case the gate's two physical plans must agree on
    val edges = ((0L until 300L).map(i => (i % 17, (i * 7 + 3) % 23)) ++
      Seq((100L, 1L), (100L, 1L), (1L, 100L))).toDF("src", "dst")
    def run(): Seq[(Long, Double)] =
      PageRank.run(edges, iters = 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val withGate = run() // default bound: gate passes (tiny graph)
    val key = PageRank.BroadcastMaxRowsKey
    spark.conf.set(key, "1") // force the gate OFF: plain join, no re-cluster
    val noGate = try run() finally spark.conf.unset(key)
    assert(withGate == noGate)
  }

  test("reliable checkpointing yields identical ranks to localCheckpoint") {
    import spark.implicits._
    val edges = (0L until 300L).map(i => (i % 17, (i * 7 + 3) % 23))
    val df = edges.toDF("src", "dst")
    def ranks(out: DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_pr").toString
    try {
      val (reliable, got) = CheckpointDirs.withCheckpointDir(spark.sparkContext, dir) {
        val r = PageRank.run(df, iters = 6, checkpointEvery = 2)
        (r, ranks(r))
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val local = ranks(PageRank.run(df, iters = 6, checkpointEvery = 2))
      assert(got == local)
      // checkpoint blocks were ACTUALLY written to the reliable dir
      // (Spark lays out <dir>/<uuid>/rdd-*/part-*)
      val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val rddFiles = try {
        import scala.jdk.CollectionConverters._
        parts.iterator().asScala.count(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getParent.getFileName.toString.startsWith("rdd-"))
      } finally parts.close()
      assert(rddFiles > 0, s"no rdd checkpoint part files under $dir")
      // and the lineage is truncated: every leaf of the final plan is
      // a checkpointed RDD scan — the source LocalRelation is gone
      val plan = reliable.queryExecution.optimizedPlan
      assert(plan.collectLeaves().nonEmpty)
      assert(plan.collectLeaves().forall(
        _.getClass.getSimpleName == "LogicalRDD"), plan.toString.take(800))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
