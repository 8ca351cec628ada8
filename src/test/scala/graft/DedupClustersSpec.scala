package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DedupClusters

/** Connected components over pair lists: exact components, canonical
  * min-id labels, convergence on chains (worst-case diameter) and
  * determinism across runs. */
class DedupClustersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] =
    DedupClusters.connectedComponents(
        pairs.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two separate components with min-id canonical labels") {
    val m = comps(Seq((2L, 3L), (3L, 1L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges to a single component (diameter stress)") {
    // 0-1-2-...-15 as a pure chain: worst case for label propagation
    val chain = (0L until 15L).map(i => (i, i + 1))
    val m = comps(chain)
    assert(m.size == 16)
    assert(m.values.toSet == Set(0L))
  }

  test("clique + bridge + isolated pair") {
    val clique = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val m = comps(clique ++ Seq((8L, 20L), (30L, 31L)))
    assert((5L to 8L).forall(m(_) == 5L) && m(20L) == 5L)
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("pair order and direction don't matter (deterministic)") {
    val a = comps(Seq((1L, 2L), (2L, 3L), (7L, 4L)))
    val b = comps(Seq((4L, 7L), (3L, 2L), (2L, 1L)))
    assert(a == b)
    assert(a(7L) == 4L)
  }

  test("distributed propagation path matches single-task union-find") {
    val pairs = Seq((2L, 3L), (3L, 1L), (10L, 11L), (8L, 20L), (5L, 8L)) ++
      (40L until 55L).map(i => (i, i + 1))
    val local = comps(pairs)
    val dist = DedupClusters.connectedComponents(
        pairs.toDF("a", "b"), "a", "b", maxIter = 12, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(dist(55L) == 40L)
  }

  test("empty pair list yields empty components on both paths") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupClusters.connectedComponents(empty, "a", "b").count() == 0)
    assert(DedupClusters.connectedComponents(empty, "a", "b",
      maxIter = 12, localThreshold = 0L).count() == 0)
  }

  test("reliable checkpointing yields identical components (distributed path)") {
    val pairs = (Seq((2L, 3L), (3L, 1L), (10L, 11L)) ++
      (40L until 55L).map(i => (i, i + 1))).toDF("a", "b")
    def components() = DedupClusters.connectedComponents(pairs, "a", "b",
      maxIter = 12, localThreshold = 0L)
    def labels(c: DataFrame) = c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_cc").toString
    try {
      val (reliable, got) = CheckpointDirs.withCheckpointDir(spark.sparkContext, dir) {
        val c = components()
        (c, labels(c))
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val local = labels(components())
      assert(got == local)
      // checkpoint blocks actually landed in the reliable dir
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val rddFiles = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getParent.getFileName.toString.startsWith("rdd-"))
      } finally walk.close()
      assert(rddFiles > 0, s"no rdd checkpoint part files under $dir")
      // lineage truncated: the source LocalRelation never survives as
      // a leaf — every leaf is a checkpointed RDD scan or the cached
      // edge relation built from one
      val leaves = reliable.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty &&
        !leaves.exists(_.getClass.getSimpleName.contains("LocalRelation")),
        leaves.map(_.getClass.getSimpleName).mkString(","))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("cluster stats roll up members and id checksum") {
    val stats = DedupClusters.clusterStats(
        DedupClusters.connectedComponents(
          Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == Set((1L, 3L, 6L), (10L, 2L, 21L)))
  }
}
