package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.graftshim.BusDrain

/** Shared local session for all specs. */
object TestSpark {
  /** Hive-catalog-backed session (same facade the engine ships). */
  lazy val spark: SparkSession = GraftSession.create("4")

  /** Root of the read-only sf0.001/sf0.01/sf0.1 tables (TESTDATA.md). */
  val testData = "/root/testdata"

  /** Seven floor-bound contract queries (scan/filter, grouping sets,
    * as-of join, windows, text rollup, funnel): small, join-free and
    * dominated by per-query overhead at sf0.01. */
  val interactiveQueries: Seq[String] = Seq("qf1_project_filter", "qa7_grouping_sets",
    "qj10_asof_tolerance", "qw4_prefix_sum", "ql5_source_rollup", "qs6_funnel",
    "qx7_window_extras")

  /** Runs `f` with the session confs `kv` set, restoring the old values. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Every exchange of an executed plan, inside query stages too (a
    * final AQE plan wraps even a plan without exchanges in a result
    * stage). */
  def exchanges(plan: SparkPlan): Seq[Exchange] = {
    def flat(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      case r: ReusedExchangeExec => flat(r.child)
      case other => other.children.flatMap(flat)
    })
    flat(plan).collect { case e: Exchange => e }
  }

  /** Spark jobs that `f` starts: a listener, read after the bus has
    * drained. Only jobs carrying this helper's local property count (AQE
    * stage jobs inherit it), so no other spec's jobs do. */
  def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft.testSpark.jobsOf"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    BusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      f
      BusDrain.drain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
