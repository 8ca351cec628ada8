package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.BusDrain
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallQueryRoute
import graft.sources.BucketedTables

/** The single-partition route for small queries
  * ([[graft.plans.SmallQueryRoute]]) must give the same answer as its
  * fallback on every query it accepts, and must leave alone every plan
  * whose partition layout someone can observe.
  *
  * The fallback is reached two ways: the advisory partition size set to
  * 1 byte (no non-empty input fits, so the route never applies), or a
  * plan run through `DataFrame.rdd`, which AQE prepares outside any SQL
  * execution, where the route cannot see the sink and keeps the plan. */
class SmallQueryRouteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.testData
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
  private def routeOff[A](f: => A): A = withConf(advisory -> "1")(f)
  /** AQE keeps every reducer even of a tiny shuffle, so a layout change
    * by the route would show in partition ids and file counts. */
  private def parallelReducers[A](f: => A): A = withConf(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1000",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(f)

  /** Every shuffle of an executed plan, stages included. */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = {
    def flat(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      case r: ReusedExchangeExec => flat(r.child)
      case other => other.children.flatMap(flat)
    })
    flat(plan).collect { case s: ShuffleExchangeLike => s }
  }
  private def layout(plan: SparkPlan): Seq[String] = shuffles(plan)
    .map(s => s"${s.outputPartitioning.getClass.getSimpleName}/${s.outputPartitioning.numPartitions}")
    .sorted
  private def singlePartition(plan: SparkPlan): Boolean =
    shuffles(plan).forall(_.outputPartitioning == SinglePartition)

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

  test("accepted queries run with single-partition shuffles only and no range sampling") {
    val dir = s"$testData/sf0.01"
    Tables.register(spark, dir)
    TestSpark.interactiveQueries.foreach { n =>
      val on = executed(noop(SparkEntry.queries(n)(spark, dir)))
      val off = routeOff(executed(noop(SparkEntry.queries(n)(spark, dir))))
      assert(singlePartition(on), s"$n: ${layout(on)}")
      assert(!singlePartition(off), s"$n: ${layout(off)}")
    }
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
      assert(!singlePartition(written), layout(written))
      assert(parts("on") == parts("off") && parts("on") > 1, (parts("on"), parts("off")))
      // the same frame to the noop sink is routed: the guard is the sink
      val toNoop = executed(noop(q()))
      assert(singlePartition(toNoop), layout(toNoop))
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
