package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.BusDrain
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallQueryRoute
import graft.sources.BucketedTables

/** The one-task route for small queries
  * ([[graft.plans.SmallQueryRoute]]) must give the same answer as its
  * fallback on every query it accepts, and must leave alone every plan
  * whose partition layout someone can observe.
  *
  * The fallback is reached three ways: the advisory partition size set
  * to 1 byte (no non-empty input fits, so the route never applies), AQE
  * partition coalescing off (the only switch for an empty input), or a
  * plan run through `DataFrame.rdd`, which AQE prepares outside any SQL
  * execution, where the route cannot see the sink and keeps the plan. */
class SmallQueryRouteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.{exchanges, jobsOf, testData, withConf}
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def routeOff[A](f: => A): A = withConf(advisory -> "1")(f)
  /** AQE keeps every reducer even of a tiny shuffle, so a layout change
    * by the route would show in partition ids and file counts. */
  private def parallelReducers[A](f: => A): A = withConf(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1000",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(f)

  private def layout(plan: SparkPlan): Seq[String] = exchanges(plan)
    .collect { case s: ShuffleExchangeLike => s.outputPartitioning }
    .map(p => s"${p.getClass.getSimpleName}/${p.numPartitions}")
    .sorted

  /** The executed plan of the last SQL execution `f` runs: a write runs
    * its own execution, not the frame's. */
  private def executed(f: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; BusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.last.executedPlan
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (layout as collected, layout through the rdd path) of one query. */
  private def collectedVsRdd(q: () => DataFrame): (Seq[String], Seq[String]) = {
    val viaCollect = q()
    viaCollect.collect()
    val viaRdd = q()
    viaRdd.queryExecution.toRdd.count()
    (layout(viaCollect.queryExecution.executedPlan), layout(viaRdd.queryExecution.executedPlan))
  }

  private def accepted(dir: String): Seq[String] = {
    Tables.register(spark, dir)
    QueryInventory.all.map(_.name).filter { n =>
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => SmallQueryRoute.accepts(a.inputPlan, SQLConf.get)
        case _ => false
      }
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"every accepted contract query checksums equal with the route on and off ($sf)") {
      val dir = s"$testData/$sf"
      val names = accepted(dir)
      // most of the inventory is small and join-free at these sizes
      assert(names.size > QueryInventory.all.size / 2, names)
      val drift = names.filter { n =>
        val on = Goldens.checksum(SparkEntry.queries(n)(spark, dir))
        val off = routeOff(Goldens.checksum(SparkEntry.queries(n)(spark, dir)))
        on != off
      }
      assert(drift.isEmpty, s"route changed the result of: $drift")
    }

  test("accepted queries plan no exchange and run one job") {
    val dir = s"$testData/sf0.01"
    Tables.register(spark, dir)
    TestSpark.interactiveQueries.foreach { n =>
      def q() = SparkEntry.queries(n)(spark, dir)
      val on = executed(noop(q()))
      assert(exchanges(on).isEmpty, s"$n: ${layout(on)}")
      // building these frames runs no job, so every job counted is the write's
      assert(jobsOf(noop(q())) == 1, n)
      val off = routeOff(jobsOf(noop(q())))
      assert(off >= 2, s"$n: $off jobs with the route off")
    }
  }

  test("empty inputs keep their row") {
    // a global aggregate answers one row even over no input; the
    // coalesce must hand it one (empty) partition
    def total(df: DataFrame) = df.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    def both(q: () => DataFrame, off: (=> Seq[String]) => Seq[String]): Unit = {
      val df = q()
      val on = df.collect().map(_.toString).toSeq
      assert(exchanges(df.queryExecution.executedPlan).isEmpty, "route did not apply")
      assert(on == Seq("[0,null]"))
      assert(off(q().collect().map(_.toString).toSeq) == on)
    }
    val empty = java.nio.file.Files.createTempDirectory("graft_route_empty").toFile
    try {
      // a zero-byte input fits even a 1-byte advisory size; coalescing
      // off is the route's other gate
      both(() => total(spark.read.schema("x BIGINT").parquet(empty.getPath)),
        withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(_))
    } finally empty.delete(): Unit
    val dir = s"$testData/sf0.001"
    Tables.register(spark, dir)
    both(() => total(spark.table("lineitem").where(col("l_quantity") < 0)
      .select(col("l_orderkey").as("x"))), routeOff(_))
  }

  test("a small orderBy written to parquet keeps its file count") {
    val dir = s"$testData/sf0.001"
    Tables.register(spark, dir)
    def q() = spark.table("orders").select("o_orderkey", "o_totalprice").orderBy("o_totalprice")
    val out = java.nio.file.Files.createTempDirectory("graft_route").toFile
    def parts(name: String): Int =
      new File(out, name).listFiles().count(_.getName.startsWith("part-"))
    try parallelReducers {
      val written = executed(q().write.parquet(new File(out, "on").getPath))
      routeOff(q().write.parquet(new File(out, "off").getPath))
      assert(exchanges(written).nonEmpty, layout(written))
      assert(parts("on") == parts("off") && parts("on") > 1, (parts("on"), parts("off")))
      // the same frame to the noop sink is routed: the guard is the sink
      val toNoop = executed(noop(q()))
      assert(exchanges(toNoop).isEmpty, layout(toNoop))
    } finally {
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
      rm(out)
    }
  }

  test("partition-id and monotonic-id queries return the same rows") {
    val dir = s"$testData/sf0.001"
    Tables.register(spark, dir)
    def agg() = spark.table("lineitem").groupBy("l_suppkey").agg(sum("l_quantity").as("q"))
    def pid() = agg().select(col("l_suppkey"), col("q"), spark_partition_id().as("pid"))
    def mid() = agg().select(col("l_suppkey"), col("q"), monotonically_increasing_id().as("id"))
    parallelReducers {
      Seq(pid _, mid _).foreach { q =>
        val collected = q().collect().map(_.toString).sorted.toSeq
        val unrouted = q().rdd.collect().map(_.toString).sorted.toSeq
        assert(collected == unrouted)
      }
      // the rows really depend on the layout: the same aggregate alone
      // is routed to one partition when collected
      val (routed, unrouted) = collectedVsRdd(() => agg())
      assert(routed != unrouted, routed)
      assert(pid().collect().map(_.getInt(2)).distinct.length > 1)
    }
  }

  test("a cached frame keeps its partitioning") {
    val dir = s"$testData/sf0.001"
    Tables.register(spark, dir)
    // two shuffles: the sort's is planned again after the aggregate's
    // stage has run, inside the counting query's execution; Spark keeps
    // a cached plan's final partitions, and so must the route
    val cached = spark.table("lineitem").groupBy("l_suppkey").agg(sum("l_quantity").as("q"))
      .orderBy("l_suppkey")
    cached.cache()
    try {
      cached.count()
      assert(cached.rdd.getNumPartitions > 1)
    } finally cached.unpersist(blocking = true): Unit
  }

  test("joins keep their plans, including the bucketed fact join") {
    val dir = s"$testData/sf0.001"
    Tables.register(spark, dir)
    BucketedTables.ensureFacts(spark, dir)
    def bucketed() = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
    def shuffled() = spark.table("lineitem")
      .join(spark.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
    withConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1") {
      Seq(bucketed _, shuffled _).foreach { q =>
        val (routed, unrouted) = collectedVsRdd(q)
        assert(routed == unrouted)
        assert(routed.exists(!_.startsWith("SinglePartition")), routed)
      }
      assert(bucketed().collect().map(_.toString).sorted.toSeq ==
        shuffled().collect().map(_.toString).sorted.toSeq)
    }
  }
}
