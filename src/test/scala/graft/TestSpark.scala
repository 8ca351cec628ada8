package graft

import org.apache.spark.sql.SparkSession

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
}
