package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry: registers the driver-generated parquet tables
  * (`/root/repo/TESTDATA.md`) as temp views so every query in the
  * inventory can run through `spark.sql` verbatim.
  *
  * Scale note (100 TB): at cluster scale these would be external
  * catalog tables over partitioned directories; a temp view over
  * `spark.read.parquet` keeps the same logical plan (a
  * `LogicalRelation` with full filter/column pushdown into the
  * parquet scan), so nothing here blocks pushdown or pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tracks the LAST dir registered per session (temp views are
    * session-global, so only one dir's views exist at a time —
    * memoizing on (session, dir) would let register(A); register(B);
    * register(A) silently leave the views pointing at B). Weak-keyed
    * like [[SessionMemo]], so a session that is gone is not kept
    * reachable. */
  private val registered = scala.collection.mutable.WeakHashMap[SparkSession, String]()

  /** Normalize the events `ts` column to TIMESTAMP (LTZ, session tz
    * UTC) regardless of how the generator wrote it:
    *  - parquet TIMESTAMP(NANOS) — no Spark type; with
    *    `nanosAsLong=true` it reads as a raw ns LongType → convert
    *    via `timestamp_micros(ns DIV 1000)` (lossless: generated data
    *    is µs-aligned);
    *  - parquet TIMESTAMP(MICROS) without tz — reads as
    *    TimestampNTZType → cast to TIMESTAMP, which under the UTC
    *    session zone reinterprets the wall-clock instant exactly as
    *    DuckDB's naive TIMESTAMP read does;
    *  - already TIMESTAMP (LTZ) — leave untouched.
    * Every downstream `unix_micros(ts)` / `window(ts, …)` call needs
    * LTZ, so the views must never expose NTZ or a raw long. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(CAST(ts AS BIGINT) DIV 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def register(spark: SparkSession, dir: String): Unit = synchronized {
    if (!registered.get(spark).contains(dir)) {
      // set BEFORE the read so a TIMESTAMP(NANOS) file surfaces as a
      // long (no-op for micros files); normalizeTs handles both
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      names.foreach { n =>
        val df = spark.read.parquet(s"$dir/$n.parquet")
        val fixed = if (n == "events") normalizeTs(df) else df
        // one-line diagnosis at registration time instead of an
        // AnalysisException cascade mid-query (the r5 ts outage,
        // generalized to every table/column)
        SchemaContract.check(n, fixed.schema)
        fixed.createOrReplaceTempView(n)
      }
      registered(spark) = dir
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    register(spark, dir)
    spark.table(name)
  }
}
