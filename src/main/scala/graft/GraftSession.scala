package graft

import org.apache.spark.sql.SparkSession

/** Session facade — the engine's public entry point (API analog of
  * the reference's `CIM(config)` SDK object,
  * /root/reference/imc22_sdk/python/imc22.py:133-187).
  *
  * Centralizes the scale-tuned configuration so Verify, Bench, tests
  * and library users build identical sessions:
  *  - AQE on (runtime re-plan, skew-join splitting — the engine's
  *    answer to the reference's cost-based partitioner §4);
  *  - shuffle partitions sized to cores for local mode (a cluster
  *    deployment overrides via --conf; AQE coalesces down anyway);
  *  - UTC session time zone (oracle comparability);
  *  - broadcast threshold left at default 10 MB — all dimension
  *    tables (region/nation/customer/supplier/part) broadcast at
  *    every tested SF;
  *  - a generated-code cache that holds the whole inventory's working
  *    set ([[CodegenCacheEntries]]);
  *  - the engine's extensions ([[graft.plans.GraftExtensions]]),
  *    among them the single-partition route for small join-free
  *    queries ([[graft.plans.SmallQueryRoute]]), whose size gate is
  *    the advisory partition size below;
  *  - a `file:` filesystem that does not fork
  *    ([[graft.sources.NoForkLocalFileSystem]] and its `FileContext`
  *    twin [[graft.sources.NoForkLocalFs]]). Without libhadoop,
  *    Hadoop's local filesystem runs `chmod` in a child process on
  *    every `create` and `mkdirs` (5.6-6.4 ms each) and `readlink` on
  *    every `getFileLinkStatus` (3.0-3.4 ms, four per
  *    `FileContext.rename`, the call behind Spark's streaming offset
  *    and commit logs); the `java.nio` chmod takes 0.01-0.03 ms.
  *    `FileSystem` caches one `file:` instance per JVM, so this holds
  *    only where no local FileSystem was made before the first session.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf: the first
    * session of the JVM fixes it). Spark's default of 100 is split over
    * 4 cache segments of about 25 classes each, fewer than even the
    * 7-query `sql_interactive` benchmark set generates: with it, every
    * pass of that set recompiled 17-39 classes through Janino and then
    * the JIT (one traced run, 11 passes). One pass over the whole
    * inventory (all contract and engine entries, sf0.001) compiles
    * 2784 classes into an unbounded cache and a second pass 35 (code
    * that embeds per-call values, which no cache size helps), so the
    * working set is ~2750 classes. 4096 keeps it with room for the
    * segments' uneven split (~1024 each against ~690 expected). */
  val CodegenCacheEntries = 4096

  /** `master` defaults to `local[cores]`. The LOCAL-ONLY AQE tunings
    * (1 MB advisory size, size-first coalescing — measured by
    * interleaved A/B on the single-node rig) are applied only when
    * the resolved master is local: a caller reusing this builder with a cluster master gets
    * Spark's production defaults (64 MB advisory) instead of a
    * pathological 1 MB reducer size at 100 TB. */
  def builder(cores: String = "4", master: String = ""): SparkSession.Builder = {
    val resolvedMaster = if (master.nonEmpty) master else s"local[$cores]"
    // Hive-compatible catalog (the north-star "Spark SQL + Hive
    // metastore" layer): managed/external tables, databases, and
    // DDL resolve through a real HMS client. The embedded derby
    // metastore gets a per-JVM path so concurrent driver runs never
    // contend on derby's single-instance lock; a cluster deployment
    // points ConnectionURL at the shared metastore instead.
    val metastoreDir = s"${System.getProperty("java.io.tmpdir")}/graft_metastore_${ProcessHandle.current().pid()}"
    val common = SparkSession.builder()
      .master(resolvedMaster)
      .appName("graft")
      // engine optimizer passes (e.g. HOF dot-product fold →
      // codegen'd VecDotExpr); cluster deployments can equivalently
      // set spark.sql.extensions=graft.plans.GraftExtensions
      .withExtensions(new graft.plans.GraftExtensions)
      .enableHiveSupport()
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir;create=true")
      // warehouse lives beside the metastore: a fresh metastore must
      // not see a previous JVM's managed-table directories
      .config("spark.sql.warehouse.dir", s"$metastoreDir-warehouse")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // write timestamps as INT64 TIMESTAMP_MICROS, not the legacy
      // INT96 default: INT96 carries no usable parquet min/max stats,
      // which silently disables ALL row-group skipping on time
      // predicates — the single biggest scan-pruning lever for
      // event-time data at scale (asserted by LayoutSpec's
      // eng_zorder_scan pruning test)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      // under spark.checkpoint.dir, Checkpoints.truncate writes reliable
      // checkpoints; their files go when the frame is garbage-collected,
      // as local checkpoint blocks already do, not at session end
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NoForkLocalFs].getName)
    localTunings(resolvedMaster).foldLeft(common) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  /** LOCAL-ONLY tunings, empty for any cluster master.
    *  - Size-first coalescing: small post-shuffle stages collapse to
    *    few tasks instead of fanning 32 near-empty ones. Measured
    *    (interleaved A/B over the full headline set, sf0.1): −15% vs
    *    parallelism-first at the same advisory size.
    *  - 1 MB advisory size: on a single 32-thread node the sub-GB
    *    bench stages need small reducers to keep the cores busy —
    *    1 MB beats the 64 MB default by another −13% headline
    *    (61.1 s vs 72.1 s) and un-serializes few-group
    *    aggregates like qa16's 3-group exact percentile (3.6 MB of
    *    buffers → 1 task at 64 MB). 1 MB reducers at 100 TB would
    *    explode the task count, so a cluster session keeps Spark's
    *    64 MB default (tune via --conf). */
  private[graft] def localTunings(master: String): Seq[(String, String)] =
    // "local" / "local[N]" / "local[N,F]" only — NOT "local-cluster[…]",
    // Spark's multi-JVM pseudo-cluster, which exists precisely to
    // simulate distributed behavior and must get production defaults
    if (!(master == "local" || master.startsWith("local["))) Nil
    else Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      // Spark's default of 128 in-memory keys demotes every
      // collect_list/collect_set aggregate to sort-based aggregation
      // almost immediately; raising the bar is worth −10% headline
      // (interleaved A/B, sf0.1: 59.7 s → 53.8 s). Local-only
      // because the safety argument differs on a cluster: sort-based
      // fallback is the memory-safe choice for unbounded per-key
      // buffers, and although every object agg in THIS library keeps
      // bounded per-key state (≤ lines-per-order style caps), a
      // cluster deployment should opt in deliberately via --conf.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000")

  def create(cores: String = "4"): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Session + tables registered: ready to run any inventory query. */
  def createWithTables(dir: String, cores: String = "4"): SparkSession = {
    val s = create(cores)
    Tables.register(s, dir)
    s
  }
}
