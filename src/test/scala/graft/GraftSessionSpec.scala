package graft

import org.scalatest.funsuite.AnyFunSuite

/** The local-only AQE tunings must travel with the LOCAL master, not
  * with the engine: a cluster session inheriting the 1 MB advisory
  * reducer size would explode task counts at 100 TB, so builder()
  * applies those configs only when the resolved master is local. */
class GraftSessionSpec extends AnyFunSuite {

  test("local masters get the measured AQE tunings; cluster masters keep Spark defaults") {
    val local = GraftSession.localTunings("local[32]").toMap
    assert(local("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
    assert(local("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(local("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1000000")
    assert(GraftSession.localTunings("local").nonEmpty)
    assert(GraftSession.localTunings("local[4,2]").nonEmpty)
    assert(GraftSession.localTunings("yarn").isEmpty)
    assert(GraftSession.localTunings("spark://host:7077").isEmpty)
    assert(GraftSession.localTunings("k8s://https://host:443").isEmpty)
    // local-cluster[…] is Spark's multi-JVM pseudo-cluster — it
    // exists to SIMULATE distributed behavior, so it must get the
    // production defaults, not the single-node tunings
    assert(GraftSession.localTunings("local-cluster[2,1,1024]").isEmpty)
  }

  test("a repeated pass of the interactive queries hits the codegen cache") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val s = TestSpark.spark
    val dir = s"${TestSpark.testData}/sf0.01"
    Tables.register(s, dir)
    def compilations(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each query with the small-query route and without it (advisory
    // size 1 byte), which together generate more classes than Spark's
    // default 100-entry cache keeps
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def pass(): Long = {
      val c0 = compilations()
      for (size <- Seq("1m", "1"); n <- TestSpark.interactiveQueries) {
        s.conf.set(advisory, size)
        try SparkEntry.queries(n)(s, dir).write.format("noop").mode("overwrite").save()
        finally s.conf.set(advisory, "1m")
      }
      compilations() - c0
    }
    pass()
    assert(pass() == 0)
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("the live (local) test session carries the local tunings") {
    val s = TestSpark.spark
    assert(s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
  }
}
