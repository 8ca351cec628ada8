package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.graftshim.ShutdownDeletes
import org.scalatest.funsuite.AnyFunSuite

class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("one build per (session, dir); another dir or session builds again") {
    val memo = new SessionMemo[Int]
    val builds = new AtomicInteger()
    def get(s: org.apache.spark.sql.SparkSession, dir: String) =
      memo(s, dir)(builds.incrementAndGet())
    assert(get(spark, "a") == 1)
    assert(get(spark, "a") == 1)
    assert(builds.get == 1)
    assert(get(spark, "b") == 2)
    val other = spark.newSession()
    assert(get(other, "a") == 3)
    assert(get(spark, "a") == 1 && get(other, "a") == 3)
    assert(builds.get == 3)
  }

  test("a build may call another memo (the ensureIvfCompSrc -> ensureIvfIncr shape)") {
    val incr = new SessionMemo[String]
    val compSrc = new SessionMemo[String]
    def ensureIncr(dir: String) = incr(spark, dir)(s"$dir/base")
    def ensureCompSrc(dir: String) = compSrc(spark, dir)(ensureIncr(dir) + "_compsrc")
    assert(ensureCompSrc("x") == "x/base_compsrc")
    assert(ensureIncr("x") == "x/base")
  }

  test("two threads asking for one key build once") {
    val memo = new SessionMemo[Int]
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { _ =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            start.await()
            memo(spark, "race") { Thread.sleep(200); builds.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)) == Seq(1, 1))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a memo scratch directory is registered for deletion at JVM exit") {
    val sf = s"${TestSpark.testData}/sf0.001"
    val scratch = new java.io.File(EngineOps.ensureCsLayout(spark, sf)).getParentFile
    assert(scratch.getName.startsWith("graft_glog_cs"))
    assert(ShutdownDeletes.registered(scratch))
  }
}
