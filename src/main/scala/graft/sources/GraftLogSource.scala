package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.io.Text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Hadoop `Configuration` that survives the driver→executor hop.
  * Captured ONCE on the driver (from the session's Hadoop conf, so
  * s3a/hdfs credentials and tunings ride along) and rebuilt in each
  * task.
  *
  * Wire format: an `Int` entry count, then each raw key and value of
  * `conf.iterator()` (no variable substitution) as `Text.writeString`.
  * The reader builds `new Configuration(false)` and calls `set(key,
  * value)` per pair, which is what `Configuration.readFields` does;
  * deprecated keys resolve the same way. Hadoop's `Configuration.write`
  * (what Spark's private `SerializableConfiguration` uses) also writes
  * each property's source list, gzip-compressed one property at a
  * time, which only `getPropertySources` diagnostics read. For the
  * session's 1,108-entry conf that is 114 KB per copy against 65 KB
  * here. One warm `eng_dsv2_stream_sink` call (sf0.01×4, two task
  * threads on 4 vCPUs) serializes 10 copies and deserializes 24: that
  * took 68 ms and 255 ms through `Configuration.write`, and takes
  * 5–7 ms and 20–26 ms in this format. */
private[graft] class SerializableConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    import scala.jdk.CollectionConverters._
    val entries = conf.asScala.toSeq
    out.writeInt(entries.size)
    entries.foreach { e =>
      Text.writeString(out, e.getKey)
      Text.writeString(out, e.getValue)
    }
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    for (_ <- 0 until in.readInt())
      conf.set(Text.readString(in), Text.readString(in))
  }
}

/** A complete DataSource V2 connector over the `graft-log` format —
  * the extension surface a library user reaches for when their data
  * does NOT already live in a Spark-native format (the reference
  * ingests sensor/flash streams through its own `flash_io` layer,
  * imc22_sdk/flash_loader.c:61-62 qspi_flash_read-style, rather
  * than a columnar store;
  * this is the Spark-idiomatic analog: teach the planner the format
  * instead of pre-converting by hand).
  *
  * Format: one event per line, TAB-separated
  * `event_id  ts_micros  user_id  event_type  value  props`, files
  * named `part-NNNN_<minBits>_<maxBits>.glog` where min/max are the
  * file's `value` range as raw IEEE-754 bits in hex — a zone map in
  * the listing, so planning can skip whole files without opening
  * them (the same at-rest pruning contract as eng_zorder_scan, but
  * implemented INSIDE the source instead of on top of parquet).
  *
  * ALL IO goes through the Hadoop FileSystem API resolved from the
  * session's Hadoop configuration — `path` may be a plain local
  * path, a `file:` URI, or any scheme the deployment's Hadoop conf
  * resolves (hdfs://, s3a://, …). That is the same one-seam IO
  * boundary the reference draws at `imc22_sdk/flash_loader.c:61-62`
  * (a single read primitive with a swappable backend). For the
  * `file` scheme the RAW local filesystem is used (no `.crc`
  * sidecars — the format carries no checksum contract, and mixing
  * checksummed writes with the atomic-replace rewrite would strand
  * stale checksums). Executors receive the driver's conf via
  * [[SerializableConf]].
  *
  * What the connector implements (each one measured, none assumed):
  *  - SupportsPushDownRequiredColumns — readers parse/materialize
  *    ONLY requested fields; `colsRead` censused by the entry.
  *  - SupportsPushDownFilters — value/event_type/user_id predicates
  *    evaluate inside the reader BEFORE rows reach Spark; value
  *    range predicates additionally prune whole files at PLANNING
  *    time via the filename zone map. Pushed filters are also
  *    returned as residuals (parquet's own discipline) so Spark
  *    re-checks them — the pushdown is a measured optimization, not
  *    a correctness dependency.
  *  - SupportsPushDownLimit — a pushed LIMIT caps every reader, so
  *    `SELECT ... LIMIT k` over 100 TB of logs stops after the first
  *    lines of each split instead of draining the scan.
  *  - SupportsReportStatistics — post-pruning byte/row estimates, so
  *    the planner can broadcast a filtered glog relation exactly the
  *    way eng_cbo_stats proves it does for catalog tables.
  *  - CustomSumMetric `rowsEmitted` — reader-side output rows,
  *    reported through the standard DSv2 metric channel into the SQL
  *    UI / executedPlan metrics (how the entry measures row pruning
  *    on a real cluster, no driver-side shortcuts).
  *  - MICRO_BATCH_READ — the directory doubles as a stream
  *    (GlogMicroBatchStream below): offsets follow the MANIFEST
  *    VERSION history (so compaction/DML cannot silently shift a
  *    checkpoint; replace commits fail loud or skip under
  *    `ignoreChanges`), admission control bounds each batch, and
  *    Trigger.AvailableNow drains-and-terminates.
  *  - DataSourceRegister — `format("glog")` and SQL
  *    `CREATE TABLE ... USING glog` resolve via the service loader.
  *
  * Scale: one InputPartition per file (the fixture writes 8; a real
  * deployment writes thousands — Spark schedules them like any other
  * splits). Planning reads ONLY the directory listing; zone-map
  * pruning is O(files). Readers stream lines — O(1) memory.
  * Everything serializable crosses the driver→executor boundary the
  * way a multi-node cluster requires (plain case classes plus the
  * Writable-encoded Hadoop conf, no driver-captured state); the
  * planning census below is DRIVER-side bookkeeping only.
  */
object GraftLogSource {
  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftLogSource])

  val SchemaFixed: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Schema of a change-feed read (batch AND stream): the data
    * columns plus the CDC metadata columns of the Delta CDF contract —
    *  - `_change_type`: 'insert' | 'delete';
    *  - `_commit_version`: the manifest version that PRODUCED the row
    *    (the feed's `to` endpoint — exact per-commit attribution when
    *    the range spans one version, which is the stream's DEFAULT
    *    `maxVersionsPerTrigger = 1` admission; a multi-version NET
    *    feed — an explicitly raised budget, or a batch feed spanning
    *    several versions — stamps the range's end, documented on
    *    [[changeFeed]]);
    *  - `_commit_timestamp`: that version's commit time (its manifest
    *    file's modification time — the same filesystem clock
    *    TIMESTAMP AS OF resolves against). */
  val ChangeFeedSchema: StructType =
    StructType(SchemaFixed.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false),
      StructField("_commit_timestamp", TimestampType, nullable = false)))

  /** Partition count a clustered write requests (see
    * GlogClusteredWrite): pinned so the committed file count — and
    * every census over it — is independent of
    * spark.sql.shuffle.partitions. */
  val ClusteredWriteFiles = 8

  /** Cost gate for the driver-side DELETE path: when a delete
    * predicate's zone-map-affected file count exceeds this, the
    * statement routes through the executor-parallel copy-on-write
    * rewrite instead (see GlogTable.canDeleteWhere). */
  val MaxDriverDeleteFiles = 16

  /** Driver-side planning census: path → (files total, files kept
    * after zone-map pruning, columns materialized). Populated during
    * `toBatch` planning (always on the driver), read by the entry /
    * spec right after an action. */
  val planCensus: java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int)] =
    new java.util.concurrent.ConcurrentHashMap()

  /** Driver-side census of RUNTIME filters delivered to a scan
    * (SupportsRuntimeV2Filtering), keyed like [[planCensus]]: the
    * v1-translated filters of the latest `filter(...)` call. */
  val runtimeFilterCensus: java.util.concurrent.ConcurrentHashMap[String, Array[Filter]] =
    new java.util.concurrent.ConcurrentHashMap()

  /** The session's Hadoop configuration — the one seam every IO
    * operation resolves its FileSystem through. Driver-side only;
    * executors get a [[SerializableConf]] snapshot of this. */
  private[graft] def driverHadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** FileSystem for a path under a conf. For the `file` scheme the
    * RAW local filesystem (no checksum sidecars) — the glog format
    * has no checksum contract, and stray `.crc` files would go stale
    * under the claim-rename commit and fail later reads. */
  private[graft] def fsFor(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case l: LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  def minMaxFromName(name: String): Option[(Double, Double)] = {
    // part-NNNN_<minBits>_<maxBits>.glog
    val core = name.stripSuffix(".glog")
    val parts = core.split('_')
    if (parts.length == 3)
      try Some((
        java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(parts(1), 16)),
        java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(parts(2), 16))))
      catch { case _: NumberFormatException => None }
    else None
  }

  /** The table directory as a Hadoop Path, whatever shape the caller
    * handed over — a plain path, a `file:` URI (the session catalog
    * stores table locations scheme-qualified), or any other scheme
    * the Hadoop conf resolves. Parse failures name the offending
    * option instead of surfacing a bare URISyntaxException. */
  def resolveDir(path: String): Path =
    try new Path(path)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"glog: cannot parse option path='$path' as a filesystem path/URI", e)
    }

  /** planCensus key for a directory: the local absolute path for the
    * `file` scheme (so callers can look up by `File.getAbsolutePath`)
    * and the fully-qualified URI for everything else. */
  private[graft] def censusKey(dir: Path, fs: FileSystem): String = {
    val q = fs.makeQualified(dir)
    if (q.toUri.getScheme == "file") q.toUri.getPath else q.toString
  }

  def fileName(idx: Int, min: Double, max: Double): String =
    f"part-$idx%04d_${java.lang.Double.doubleToRawLongBits(min)}%x_" +
      f"${java.lang.Double.doubleToRawLongBits(max)}%x.glog"

  /** Numeric part index parsed from a committed file name, or
    * Int.MaxValue for foreign names. */
  private[graft] def partIndex(name: String): Int =
    name.stripPrefix("part-").takeWhile(_.isDigit).toIntOption
      .getOrElse(Int.MaxValue)

  /** Listing order: by NUMERIC part index, name as tie-break. A pure
    * lexicographic sort would break past part-9999 (part-10000 sorts
    * before part-2000), silently shifting the streaming offset→file
    * mapping; the numeric key keeps the listing append-ordered at
    * any file count. */
  private[graft] def listingOrder(name: String): (Int, String) =
    (partIndex(name), name)

  /** Normalize -0.0 to 0.0 so hashed set membership agrees with
    * [[cmp]]'s total ordering (boxed -0.0 != 0.0 but cmp says
    * equal). */
  private[sources] def normD(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Double comparison matching Spark SQL's total ordering — NaN is
    * the LARGEST value and equals itself, and -0.0 == 0.0. Every
    * reader-side predicate and zone-map bound uses this, never raw
    * Java operators: Java's `NaN > x == false` would silently drop
    * rows the engine's residual filter would keep (pushdown must be
    * an optimization, never a semantics change). */
  def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** EXACT comparison of a Long column value against a pushed
    * literal. Widening the Long to Double (the obvious spelling)
    * corrupts IDs above 2^53 — a pushed `user_id > X` range would
    * silently drop/keep the wrong rows, and the DELETE kernel would
    * delete them. Integral literals compare as longs; fractional
    * ones through BigDecimal (exact for any double); NaN sorts
    * largest per Spark's ordering, so every long is below it. */
  private[graft] def cmpLongExact(l: Long, v: Number): Int = v match {
    case x: java.lang.Long => java.lang.Long.compare(l, x)
    case x: java.lang.Integer => java.lang.Long.compare(l, x.longValue())
    case x: java.lang.Short => java.lang.Long.compare(l, x.longValue())
    case x: java.lang.Byte => java.lang.Long.compare(l, x.longValue())
    case x: java.math.BigDecimal => java.math.BigDecimal.valueOf(l).compareTo(x)
    case x: scala.math.BigDecimal =>
      java.math.BigDecimal.valueOf(l).compareTo(x.bigDecimal)
    case x =>
      val d = x.doubleValue()
      if (java.lang.Double.isNaN(d)) -1 // NaN is largest: every long below
      else if (d == Double.PositiveInfinity) -1 // every long below +Inf
      else if (d == Double.NegativeInfinity) 1 // every long above -Inf
      else java.math.BigDecimal.valueOf(l).compareTo(new java.math.BigDecimal(d))
  }

  /** Can a file with value-range [min,max] contain rows passing all
    * pushed `value` range predicates? Conservative: unknown filter
    * shapes keep the file. NaN-aware via [[cmp]]: a file whose max is
    * NaN (contains NaN rows) survives any `value > x` predicate,
    * matching Spark's NaN-as-largest ordering. */
  def zoneMapKeeps(min: Double, max: Double, pushed: Seq[Filter]): Boolean =
    pushed.forall {
      case GreaterThan("value", v: Number) => cmp(max, v.doubleValue()) > 0
      case GreaterThanOrEqual("value", v: Number) => cmp(max, v.doubleValue()) >= 0
      case LessThan("value", v: Number) => cmp(min, v.doubleValue()) < 0
      case LessThanOrEqual("value", v: Number) => cmp(min, v.doubleValue()) <= 0
      case EqualTo("value", v: Number) =>
        cmp(min, v.doubleValue()) <= 0 && cmp(v.doubleValue(), max) <= 0
      case In("value", vs) if vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
        vs.exists { v =>
          val d = v.asInstanceOf[Number].doubleValue()
          cmp(min, d) <= 0 && cmp(d, max) <= 0
        }
      case _ => true
    }

  /** Does the zone map PROVE every row of a file with value-range
    * [min,max] satisfies all `filters`? True only for pure
    * value-range conjunctions whose ranges contain the whole file —
    * the retention-window case, where the file can be unlinked
    * without ever being opened. Any non-value predicate → false
    * (conservative: fall back to the row-wise rewrite). */
  def zoneMapFullyCovers(min: Double, max: Double, filters: Seq[Filter]): Boolean =
    filters.nonEmpty && filters.forall {
      case GreaterThan("value", v: Number) => cmp(min, v.doubleValue()) > 0
      case GreaterThanOrEqual("value", v: Number) => cmp(min, v.doubleValue()) >= 0
      case LessThan("value", v: Number) => cmp(max, v.doubleValue()) < 0
      case LessThanOrEqual("value", v: Number) => cmp(max, v.doubleValue()) <= 0
      case EqualTo("value", v: Number) =>
        cmp(min, v.doubleValue()) == 0 && cmp(max, v.doubleValue()) == 0
      case IsNotNull(_) => true // format is dense
      case _ => false
    }

  /** LIVE files under `dir` surviving the zone map for `pushed`
    * → (kept, live total). The ONE listing+pruning kernel shared by
    * batch planning, streaming planning, the DELETE cost gate, and
    * the DELETE executor — they must agree on the affected set.
    * Liveness resolves through the newest manifest (or the one at
    * `versionAsOf` — time travel); data files on disk that no
    * manifest references (DML/compact orphans awaiting [[vacuum]],
    * a crashed commit's renamed-but-never-committed output) are
    * INVISIBLE. A directory with no manifest history falls back to
    * the raw listing. Files with unparsable names are conservatively
    * kept by the zone map. A missing directory is an empty table,
    * not an error (the first write creates it). */
  def listCommitted(dir: Path, conf: Configuration,
      pushed: Seq[Filter],
      versionAsOf: Option[Long] = None): (Array[FileStatus], Int) = {
    val fs = fsFor(dir, conf)
    val listed =
      (try fs.listStatus(dir)
       catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .filter(s => s.isFile && s.getPath.getName.endsWith(".glog"))
    // stats: the manifest-carried per-file statistics entry (ts /
    // user_id ranges + event_type dictionary; absent = unknown)
    val (all, stats) = liveEntries(dir, conf, versionAsOf) match {
      case Some((v, entries)) =>
        val byName = listed.map(s => s.getPath.getName -> s).toMap
        val missing = entries.map(_.name).filterNot(byName.contains)
        require(missing.isEmpty,
          s"glog: manifest version $v of $dir lists files missing on disk " +
            s"(vacuumed while still referenced?): ${missing.take(3).mkString(", ")}")
        val sorted = entries.sortBy(e => listingOrder(e.name))
        (sorted.map(e => byName(e.name)).toArray,
          sorted.map(e => e.name -> e).toMap)
      case None =>
        (listed.sortBy(s => listingOrder(s.getPath.getName)),
          Map.empty[String, ManifestEntry])
    }
    val kept = all.filter { s =>
      val name = s.getPath.getName
      val valueKeeps = minMaxFromName(name) match {
        case Some((mn, mx)) => zoneMapKeeps(mn, mx, pushed)
        case None => true
      }
      valueKeeps && stats.get(name).forall(entryStatsKeep(_, pushed))
    }
    (kept, all.length)
  }

  /** Normalize ts literals (java.sql.Timestamp / java.time.Instant —
    * the shapes Spark pushes for TimestampType) to micros LONGS, so
    * every downstream consumer — reader eval, manifest ts-stats
    * pruning, the DELETE kernel — compares exact longs. Filters whose
    * literal cannot be converted stay as-is and fail [[pushable]]
    * (never half-evaluated). Applied at every boundary filters enter
    * through: pushFilters, canDeleteWhere/deleteWhere, overwrite. */
  private[graft] def normalizeTsFilters(fs: Array[Filter]): Array[Filter] = {
    def micros(v: Any): Option[Any] = v match {
      case _: java.lang.Long => Some(v) // already normalized
      case other => tsMicrosOf(other).map(java.lang.Long.valueOf)
    }
    fs.map {
      case GreaterThan("ts", v) =>
        micros(v).map(GreaterThan("ts", _)).getOrElse(GreaterThan("ts", v))
      case GreaterThanOrEqual("ts", v) =>
        micros(v).map(GreaterThanOrEqual("ts", _))
          .getOrElse(GreaterThanOrEqual("ts", v))
      case LessThan("ts", v) =>
        micros(v).map(LessThan("ts", _)).getOrElse(LessThan("ts", v))
      case LessThanOrEqual("ts", v) =>
        micros(v).map(LessThanOrEqual("ts", _))
          .getOrElse(LessThanOrEqual("ts", v))
      case EqualTo("ts", v) =>
        micros(v).map(EqualTo("ts", _)).getOrElse(EqualTo("ts", v))
      case f => f
    }
  }

  private[sources] def pushable(f: Filter): Boolean = f match {
    case GreaterThan(a, _: Number) =>
      a == "value" || a == "user_id" || a == "ts"
    case GreaterThanOrEqual(a, _: Number) =>
      a == "value" || a == "user_id" || a == "ts"
    case LessThan(a, _: Number) =>
      a == "value" || a == "user_id" || a == "ts"
    case LessThanOrEqual(a, _: Number) =>
      a == "value" || a == "user_id" || a == "ts"
    case EqualTo(a, v) =>
      v != null && (a == "value" || a == "user_id" || a == "event_type" ||
        (a == "ts" && v.isInstanceOf[Number]))
    // IN-lists may carry null literals (SQL `IN ('a', NULL)`): leave
    // those to the engine rather than mis-evaluating them here.
    // Numeric IN on value/user_id is the shape runtime (DPP) filters
    // arrive in — admitted when every element is a plain number.
    case In(a, vs) => vs != null && !vs.contains(null) &&
      (a == "event_type" ||
        ((a == "value" || a == "user_id") && vs.forall(_.isInstanceOf[Number])))
    case IsNotNull(a) => SchemaFixed.fieldNames.contains(a)
    case _ => false
  }

  /** Row-level evaluation of one pushed filter against a parsed
    * line (full-schema field order). Long columns compare EXACTLY
    * (see [[cmpLongExact]]); only `value` takes the double path. */
  private[graft] def eval(f: Filter, eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String): Boolean = {
    def col(a: String): Any = a match {
      case "event_id" => eventId
      case "ts" => tsMicros
      case "user_id" => userId
      case "event_type" => eventType
      case "value" => value
      case "props" => props
      case _ => null
    }
    // exact typed comparison for range predicates — only numeric
    // columns are pushable as ranges, anything else is a bug upstream
    def rangeCmp(a: String, v: Number): Int = col(a) match {
      case l: Long => cmpLongExact(l, v)
      case d: Double => cmp(d, v.doubleValue())
      case other => throw new IllegalArgumentException(
        s"glog: range predicate on non-numeric column $a ($other)")
    }
    f match {
      case GreaterThan(a, v: Number) => rangeCmp(a, v) > 0
      case GreaterThanOrEqual(a, v: Number) => rangeCmp(a, v) >= 0
      case LessThan(a, v: Number) => rangeCmp(a, v) < 0
      case LessThanOrEqual(a, v: Number) => rangeCmp(a, v) <= 0
      case EqualTo(a, v) => col(a) match {
        case s: String => v != null && s == v.toString
        case l: Long => v.isInstanceOf[Number] &&
          cmpLongExact(l, v.asInstanceOf[Number]) == 0
        case d: Double =>
          v.isInstanceOf[Number] && cmp(d, v.asInstanceOf[Number].doubleValue()) == 0
        case _ => false
      }
      case In(a, vs) => col(a) match {
        case s: String => vs != null && vs.exists(v => v != null && v.toString == s)
        case l: Long => vs != null && vs.exists(v =>
          v.isInstanceOf[Number] && cmpLongExact(l, v.asInstanceOf[Number]) == 0)
        case d: Double => vs != null && vs.exists(v =>
          v.isInstanceOf[Number] && cmp(d, v.asInstanceOf[Number].doubleValue()) == 0)
        case _ => false
      }
      case IsNotNull(_) => true // format is dense: no nulls by construction
      case _ => true
    }
  }

  // ==================== versioned-manifest commit ====================
  // The table's source of truth is a MANIFEST, not the directory
  // listing: `_glog_metadata/_v<N>.manifest` lists the live data-file
  // names at version N, and readers resolve through the NEWEST
  // manifest (a directory with no manifest history — a hand-built
  // fixture, a pre-manifest table — falls back to the raw listing).
  // A commit is ONE compare-and-swap: write the new live list to a
  // temp, publish it as version N+1 iff N+1 does not exist yet, retry
  // against the re-read snapshot on a lost race. This single
  // mechanism buys (a) concurrent-writer safety — losers retry, never
  // collide or clobber; (b) snapshot isolation — DML and compaction
  // REPLACE names in the manifest and leave the old files on disk as
  // unreferenced orphans (reclaimed by [[vacuum]]), so a reader
  // planned at version N keeps reading version N's files; (c) an
  // object-store story — visibility is one conditional manifest PUT,
  // no rename atomicity required. Reference analog: the flash image
  // commits through ONE header + layer table that readers resolve
  // (tools/hive_compile.py:143-194), never a directory scan.

  val MetaDirName = "_glog_metadata"
  def metaDir(dir: Path): Path = new Path(dir, MetaDirName)

  /** Distinct-value dictionary cap for the manifest's event_type
    * stats: a file with more distinct types than this records no
    * dictionary (conservatively kept by every event_type predicate).
    * The column's domain is tiny by design; the cap bounds manifest
    * bytes per entry on adversarial data. */
  private[graft] val EtypeDictCap = 8

  /** Escape one event_type value for the comma-joined dictionary
    * encodings (manifest line + commit message): '%' → %25,
    * ',' → %2C, the empty string → %00 (a bare join would silently
    * erase it), and a lone '*' → %2A (it would collide with the
    * unknown-dictionary sentinel). Keeps the dictionary EXACT for
    * values the round-13 encoding had to degrade to unknown — one
    * comma-bearing or empty type no longer forfeits pruning for the
    * file's other types.
    *
    * New-reads-old is gated OUT-OF-BAND by the manifest-level
    * [[FormatHeader]] (round-15+ manifests/checkpoints declare
    * themselves), because no in-band byte sequence can be made safe
    * against round-13 fields (they allowed ANY non-comma, non-TAB
    * chars — including a first value that happens to start with the
    * "%1" marker round-14 used). [[ManifestEntry.parse]] decodes per
    * the CARRYING FILE's declared format:
    *  - header present (v2): the field is [[etypesJoin]]'s output —
    *    strip the marker, unescape, EXACT dictionary;
    *  - no header, field unmarked: a round-13 raw comma join —
    *    verbatim, EXACT under round-13's own encoding (a raw 'a%2Cb'
    *    stays 'a%2Cb', never mis-decoded to 'a,b');
    *  - no header, field MARKED ("%1"-prefixed): ambiguous — a
    *    round-14 escaped join or a freak round-13 raw value — so the
    *    dictionary degrades to UNKNOWN (None): conservatively kept
    *    by every predicate and never proving DELETE coverage, the
    *    only reading that is safe for BOTH generations (verbatim
    *    would mis-prune round-14 tables; unescaping would mis-prune
    *    and mis-prove DELETEs on round-13 tables). The entry regains
    *    its exact dictionary only when an operation that RESCANS the
    *    file's data re-derives it (compact/rewrite via GlogStatsAcc);
    *    a vacuum or periodic checkpoint re-encodes the already-parsed
    *    entry, so the degraded '*' persists through those.
    * The in-band marker is still written (it keeps [[etypesJoin]]/
    * [[etypesSplit]] a self-contained pair for the commit-message
    * channel, where both ends are the same library version). */
  private[sources] val EtypesMarker = "%1"
  private[sources] def etypeEscape(t: String): String =
    if (t.isEmpty) "%00"
    else if (t == "*") "%2A"
    else t.replace("%", "%25").replace(",", "%2C")
  private[sources] def etypeUnescape(t: String): String =
    if (t == "%00") ""
    else if (t == "%2A") "*"
    else t.replace("%2C", ",").replace("%25", "%")
  private[sources] def etypesJoin(ts: Seq[String]): String =
    EtypesMarker + ts.map(etypeEscape).mkString(",")
  private[sources] def etypesSplit(s: String): Seq[String] =
    if (s.startsWith(EtypesMarker))
      s.substring(EtypesMarker.length)
        .split(',').toSeq.filter(_.nonEmpty).map(etypeUnescape)
    else s.split(',').toSeq.filter(_.nonEmpty) // legacy raw: verbatim

  /** One live file in a manifest: its name (the value zone map rides
    * the NAME, unchanged) plus manifest-carried file statistics on
    * the OTHER filterable columns, collected for free by the writers
    * (the Iceberg/Delta file-stats pattern: stats live in the commit
    * metadata, not the file names), so planning prunes whole files —
    * never opening them — on predicates over ANY pushable column:
    *  - `tsRange`: ts min/max in micros (time-range queries,
    *    metadata-only time-retention DELETEs);
    *  - `uidRange`: user_id min/max (point/range lookups over a
    *    clustered-ish id column);
    *  - `etypes`: the file's exact distinct event_type dictionary
    *    (≤ [[EtypeDictCap]] values, sorted; the tiny-domain
    *    dimension column) — equality/IN predicates on a type a file
    *    does not contain skip it entirely.
    * Every stat is None for files adopted from a pre-manifest
    * directory or written by pre-round-13 code (unknown →
    * conservatively kept by every predicate).
    *
    * Line format (TAB-separated): `name`, `name ts ts` (legacy), or
    * `name ts ts uid uid etypes` with `-` for an unknown numeric
    * pair and `*` for an unknown dictionary (etypes comma-joined,
    * each value [[etypeEscape]]d so commas, '%', the empty string,
    * and a lone '*' all round-trip EXACTLY instead of degrading the
    * whole dictionary to unknown; the writer already rejects
    * TAB/newline in data). Compatibility
    * is NEW-READS-OLD: round-13+ readers parse every older form, but
    * a pre-round-13 reader cannot parse a stats-bearing line (it
    * fails loudly as a missing-file name, like every prior manifest
    * format extension — the delta records, the checkpoint header);
    * rolling BACK the library below a table's writer version is not
    * a supported operation. */
  case class ManifestEntry(name: String, tsRange: Option[(Long, Long)],
      uidRange: Option[(Long, Long)] = None,
      etypes: Option[Seq[String]] = None) {
    def line: String =
      if (uidRange.isEmpty && etypes.isEmpty) tsRange match {
        case Some((a, b)) => s"$name\t$a\t$b"
        case None => name
      }
      else {
        def num(r: Option[(Long, Long)]): String =
          r.map { case (a, b) => s"$a\t$b" }.getOrElse("-\t-")
        // an empty dictionary is unrepresentable in the comma join
        // (and means "stats unknown", never "file holds no types")
        val et = etypes.filter(_.nonEmpty).map(etypesJoin).getOrElse("*")
        s"$name\t${num(tsRange)}\t${num(uidRange)}\t$et"
      }
  }
  object ManifestEntry {
    private def pair(a: String, b: String): Option[(Long, Long)] =
      for (x <- a.toLongOption; y <- b.toLongOption) yield (x, y)
    /** Parse one entry line. `v2` = the carrying manifest/checkpoint
      * declared [[FormatHeader]], gating the event_type dictionary
      * decoding OUT-OF-BAND (see the [[EtypesMarker]] scaladoc for
      * the three-way policy; names and numeric stats parse
      * identically either way). */
    def parse(line: String, v2: Boolean): ManifestEntry = line.split('\t') match {
      case Array(n, a, b) => ManifestEntry(n, pair(a, b))
      case Array(n, a, b, c, d, et) =>
        val dict: Option[Seq[String]] =
          if (et == "*") None
          else if (v2) Some(etypesSplit(et)).filter(_.nonEmpty)
          else if (et.startsWith(EtypesMarker)) None // header-less marked: ambiguous → unknown
          else Some(et.split(',').toSeq.filter(_.nonEmpty)) // round-13 raw: verbatim
            .filter(_.nonEmpty)
        ManifestEntry(n, pair(a, b), pair(c, d), dict)
      case _ => ManifestEntry(line, None)
    }
  }

  /** Can a file whose ts range is `stats` contain rows passing all
    * pushed `ts` range predicates? Conservative: unknown stats and
    * unknown shapes keep the file. Timestamps compare as micros
    * (exact long compares). */
  private[graft] def tsStatsKeep(stats: Option[(Long, Long)],
      pushed: Seq[Filter]): Boolean = stats match {
    case None => true
    case Some((mn, mx)) => pushed.forall {
      case GreaterThan("ts", v) => tsMicrosOf(v).forall(mx > _)
      case GreaterThanOrEqual("ts", v) => tsMicrosOf(v).forall(mx >= _)
      case LessThan("ts", v) => tsMicrosOf(v).forall(mn < _)
      case LessThanOrEqual("ts", v) => tsMicrosOf(v).forall(mn <= _)
      case EqualTo("ts", v) =>
        tsMicrosOf(v).forall(t => mn <= t && t <= mx)
      case _ => true
    }
  }

  /** Do the manifest ts stats PROVE every row of the file satisfies
    * all `filters`? The time-retention fast path: `DELETE WHERE
    * ts < cutoff` drops whole aged-out files without opening them.
    * Only pure ts-range conjunctions covering the whole range qualify
    * (IsNotNull is vacuous — the format is dense). */
  private[graft] def tsStatsFullyCover(stats: Option[(Long, Long)],
      filters: Seq[Filter]): Boolean = stats match {
    case None => false
    case Some((mn, mx)) => filters.nonEmpty && filters.forall {
      case GreaterThan("ts", v) => tsMicrosOf(v).exists(mn > _)
      case GreaterThanOrEqual("ts", v) => tsMicrosOf(v).exists(mn >= _)
      case LessThan("ts", v) => tsMicrosOf(v).exists(mx < _)
      case LessThanOrEqual("ts", v) => tsMicrosOf(v).exists(mx <= _)
      case IsNotNull(_) => true
      case _ => false
    }
  }

  /** Can a file whose user_id range is `stats` contain rows passing
    * all pushed user_id predicates? Exact long compares via
    * [[cmpLongExact]] (a fractional literal can exclude both
    * neighbors); unknown stats/shapes keep the file. */
  private[graft] def uidStatsKeep(stats: Option[(Long, Long)],
      pushed: Seq[Filter]): Boolean = stats match {
    case None => true
    case Some((mn, mx)) => pushed.forall {
      case GreaterThan("user_id", v: Number) => cmpLongExact(mx, v) > 0
      case GreaterThanOrEqual("user_id", v: Number) => cmpLongExact(mx, v) >= 0
      case LessThan("user_id", v: Number) => cmpLongExact(mn, v) < 0
      case LessThanOrEqual("user_id", v: Number) => cmpLongExact(mn, v) <= 0
      case EqualTo("user_id", v: Number) =>
        cmpLongExact(mn, v) <= 0 && cmpLongExact(mx, v) >= 0
      case In("user_id", vs) if vs != null && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Number]) =>
        vs.exists { v =>
          val n = v.asInstanceOf[Number]
          cmpLongExact(mn, n) <= 0 && cmpLongExact(mx, n) >= 0
        }
      case _ => true
    }
  }

  /** Do the user_id stats PROVE every row satisfies all `filters`?
    * The id-partitioned-retention twin of [[tsStatsFullyCover]]. */
  private[graft] def uidStatsFullyCover(stats: Option[(Long, Long)],
      filters: Seq[Filter]): Boolean = stats match {
    case None => false
    case Some((mn, mx)) => filters.nonEmpty && filters.forall {
      case GreaterThan("user_id", v: Number) => cmpLongExact(mn, v) > 0
      case GreaterThanOrEqual("user_id", v: Number) => cmpLongExact(mn, v) >= 0
      case LessThan("user_id", v: Number) => cmpLongExact(mx, v) < 0
      case LessThanOrEqual("user_id", v: Number) => cmpLongExact(mx, v) <= 0
      case EqualTo("user_id", v: Number) =>
        cmpLongExact(mn, v) == 0 && cmpLongExact(mx, v) == 0
      case IsNotNull(_) => true // format is dense
      case _ => false
    }
  }

  /** Can a file whose exact distinct event_type set is `dict` contain
    * rows passing all pushed event_type predicates? A type the
    * dictionary does not hold cannot appear in the file — the
    * tiny-domain dimension prune. Unknown dictionary keeps. */
  private[graft] def etypeStatsKeep(dict: Option[Seq[String]],
      pushed: Seq[Filter]): Boolean = dict match {
    case None => true
    case Some(ts) =>
      val set = ts.toSet
      pushed.forall {
        case EqualTo("event_type", v) => v != null && set.contains(v.toString)
        case In("event_type", vs) if vs != null && vs.nonEmpty =>
          vs.exists(v => v != null && set.contains(v.toString))
        case _ => true
      }
  }

  /** Does the dictionary PROVE every row satisfies all `filters`?
    * Only when the predicate's accepted set COVERS the whole
    * dictionary (e.g. DELETE of a type a file holds exclusively). */
  private[graft] def etypeStatsFullyCover(dict: Option[Seq[String]],
      filters: Seq[Filter]): Boolean = dict match {
    case None => false
    case Some(ts) => filters.nonEmpty && ts.nonEmpty && filters.forall {
      case EqualTo("event_type", v) =>
        v != null && ts.forall(_ == v.toString)
      case In("event_type", vs) if vs != null =>
        ts.forall(t => vs.exists(v => v != null && v.toString == t))
      case IsNotNull(_) => true // format is dense
      case _ => false
    }
  }

  /** All manifest-stats pruning for one entry (ts + user_id +
    * event_type) — the single predicate [[listCommitted]] applies. */
  private[graft] def entryStatsKeep(e: ManifestEntry,
      pushed: Seq[Filter]): Boolean =
    tsStatsKeep(e.tsRange, pushed) && uidStatsKeep(e.uidRange, pushed) &&
      etypeStatsKeep(e.etypes, pushed)

  /** Micros-since-epoch of a pushed timestamp literal. Spark hands
    * TimestampType literals to v1 filters as java.sql.Timestamp (or
    * java.time.Instant under the Java-8 API flag); anything else is
    * unknown (None → conservative). */
  private[graft] def tsMicrosOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      // floorDiv: getTime truncates toward zero, which mis-rounds
      // pre-1970 instants; nanos carries the full sub-second part
      Some(Math.addExact(
        Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000).toLong))
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong))
    case l: java.lang.Long => Some(l) // already micros (internal callers)
    case _ => None
  }

  private val ManifestPrefix = "_v"
  private val ManifestSuffix = ".manifest"
  private val CheckpointSuffix = ".checkpoint"
  private[graft] def manifestPath(dir: Path, version: Long): Path =
    new Path(metaDir(dir), f"$ManifestPrefix$version%012d$ManifestSuffix")
  private[graft] def manifestVersionOf(name: String): Option[Long] =
    if (name.startsWith(ManifestPrefix) && name.endsWith(ManifestSuffix))
      name.stripPrefix(ManifestPrefix).stripSuffix(ManifestSuffix).toLongOption
    else None

  // ---- delta manifests ----
  // A commit writes either a FULL manifest (the complete live list —
  // the pre-round-12 format, still what a fresh table's version 1 and
  // every CheckpointEvery-th version get) or a DELTA: a `#delta`
  // header followed by `R\t<name>` / `A\t<entry-line>` records against
  // the previous version. Per-commit metadata is O(changed files)
  // instead of O(table files) — at 10^5-10^6 live files with frequent
  // (e.g. per-epoch streaming) commits, full-list rewrites are
  // O(files·versions) bytes between vacuums; deltas bound that at one
  // full write per CheckpointEvery commits (the Delta-Lake
  // checkpoint+deltas / Iceberg manifest-list shape, re-expressed).
  // Resolution walks back from the requested version to the nearest
  // full manifest (≤ CheckpointEvery-1 hops, each a file the apply
  // needs anyway) or to a `.checkpoint` SIDECAR — the full list
  // [[vacuum]] materializes for the oldest retained version so the
  // chain below it can be GC'd without breaking retained reads.

  /** Delta-chain length bound: every CheckpointEvery-th version is a
    * full manifest. */
  private[graft] val CheckpointEvery = 16L

  private[graft] def checkpointPath(dir: Path, version: Long): Path =
    new Path(metaDir(dir), f"$ManifestPrefix$version%012d$CheckpointSuffix")

  private def readLinesOf(fs: FileSystem, p: Path): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toSeq
    finally in.close()
  }

  /** Only the LEADING '#' header lines of a manifest/checkpoint —
    * stops reading at the first record line, so a header probe on a
    * large checkpoint (O(live files) records) costs a few hundred
    * bytes of IO, not the whole file. */
  private def readHeaderLinesOf(fs: FileSystem, p: Path): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).takeWhile(_.startsWith("#")).toSeq
    finally in.close()
  }

  private val DeltaHeader = "#delta"

  /** Format-declaration header (round-15+): written as a leading
    * '#'-line of every manifest, delta, and checkpoint. Its presence
    * gates the event_type dictionary decoding OUT-OF-BAND (see
    * [[EtypesMarker]]) — the version/format-header discipline of
    * Delta's protocol-version action, minimized. Header lines are
    * invisible to every pre-existing reader path (all skip
    * '#'-prefixed lines); new-reads-old parses headerless files under
    * the legacy policy, and rolling BACK below a table's writer
    * version remains unsupported (the standing contract). */
  private[graft] val FormatHeader = "#glog-format\t2"

  /** Checkpoint header carrying the checkpointed version's ORIGINAL
    * commit time (its manifest's mtime at vacuum time), so
    * [[manifestStat]]'s checkpoint fallback — and through it the
    * change feed's `_commit_timestamp` — stays EXACT after the
    * manifest itself is gone (the checkpoint file's own mtime is
    * vacuum time, not commit time). */
  private[sources] val CommitTsHeaderPrefix = "#commit-ts\t"

  /** Live entries at `version`: read the version's manifest; a full
    * one answers directly, a delta walks back (checkpoint sidecars
    * short-circuit the walk) and re-applies the records forward.
    * Reconstruction is exact: commit wrote the delta as
    * (removed names, added/changed entries) of a list that is always
    * name-distinct and listing-ordered, so remove+upsert+sort
    * reproduces the committed list byte-for-byte. */
  private def resolveEntries(dir: Path, conf: Configuration,
      version: Long): Seq[ManifestEntry] = {
    val fs = fsFor(dir, conf)
    // per-file v2 flag rides with the records: the etype-dictionary
    // decoding policy is a property of the WRITING file's declared
    // format, not of the chain's newest member
    var deltas = List.empty[(Boolean, Seq[String])] // oldest-first after the walk
    var cur = version
    var base: Seq[ManifestEntry] = null
    while (base == null) {
      val cp = checkpointPath(dir, cur)
      if (fs.exists(cp)) {
        val lines = readLinesOf(fs, cp)
        val v2 = lines.contains(FormatHeader)
        base = lines.filterNot(_.startsWith("#"))
          .map(ManifestEntry.parse(_, v2))
      } else {
        val lines =
          try readLinesOf(fs, manifestPath(dir, cur))
          catch {
            case e: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"glog: manifest version $cur of $dir is missing but version " +
                  s"$version's delta chain needs it (vacuumed while a newer " +
                  "delta still referenced it?)", e)
          }
        val v2 = lines.contains(FormatHeader)
        if (lines.exists(_ == DeltaHeader)) {
          deltas ::= ((v2, lines.filterNot(_.startsWith("#"))))
          cur -= 1
          require(cur >= 1,
            s"glog: delta chain under $dir reaches below version 1 " +
              "without a full manifest — metadata corrupt")
        } else base = lines.filterNot(_.startsWith("#"))
          .map(ManifestEntry.parse(_, v2))
      }
    }
    if (deltas.isEmpty) base.sortBy(e => listingOrder(e.name))
    else {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, ManifestEntry]
      base.foreach(e => m.update(e.name, e))
      deltas.foreach { case (v2, recs) => recs.foreach { line =>
        line.split("\t", 2) match {
          case Array("R", name) => m.remove(name): Unit
          case Array("A", rest) =>
            val e = ManifestEntry.parse(rest, v2)
            m.update(e.name, e)
          case _ => throw new IllegalStateException(
            s"glog: unparseable delta-manifest record under $dir: '$line'")
        }
      }}
      m.values.toSeq.sortBy(e => listingOrder(e.name))
    }
  }

  /** Does any manifest/checkpoint present under `dir` mention `name`
    * (as a full/checkpoint entry or an A/R delta record)? The
    * streaming sink's replay uses this as commit evidence when the
    * epoch marker's post-CAS version record was lost to a crash. */
  private[graft] def manifestsMention(dir: Path, conf: Configuration,
      names: Set[String]): Boolean = {
    val fs = fsFor(dir, conf)
    val metas =
      (try fs.listStatus(metaDir(dir))
       catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .filter(s => s.getPath.getName.endsWith(ManifestSuffix) ||
          s.getPath.getName.endsWith(CheckpointSuffix))
    metas.exists { s =>
      readLinesOf(fs, s.getPath).exists { line =>
        // name-only parsing: the v2 flag only affects the etype
        // dictionary, which this evidence check never reads
        val entryLine = line.split("\t", 2) match {
          case Array("R", name) => name
          case Array("A", rest) => ManifestEntry.parse(rest, v2 = false).name
          case _ if line.startsWith("#") => ""
          case _ => ManifestEntry.parse(line, v2 = false).name
        }
        names.contains(entryLine)
      }
    }
  }

  /** All manifest versions present under `dir`, ascending. */
  def manifestVersions(dir: Path, conf: Configuration): Seq[Long] = {
    val fs = fsFor(dir, conf)
    (try fs.listStatus(metaDir(dir))
     catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
      .flatMap(s => manifestVersionOf(s.getPath.getName)).sorted.toSeq
  }

  /** The live-file entries at `versionAsOf` (or the newest version),
    * stats included, resolved through the delta chain (see the
    * delta-manifests section). None = the directory has no manifest
    * history yet: the raw `*.glog` listing IS the live set (fixture/
    * back-compat mode). */
  def liveEntries(dir: Path, conf: Configuration,
      versionAsOf: Option[Long] = None): Option[(Long, Seq[ManifestEntry])] = {
    val versions = manifestVersions(dir, conf)
    val v = versionAsOf match {
      case Some(want) =>
        require(versions.contains(want),
          s"glog: no manifest version $want under $dir " +
            s"(available: ${versions.mkString(", ")}; older versions may " +
            "have been vacuumed)")
        want
      case None => if (versions.isEmpty) return None else versions.max
    }
    Some((v, resolveEntries(dir, conf, v)))
  }

  /** Name-level view of [[liveEntries]]. */
  def liveSnapshot(dir: Path, conf: Configuration,
      versionAsOf: Option[Long] = None): Option[(Long, Seq[String])] =
    liveEntries(dir, conf, versionAsOf)
      .map { case (v, es) => (v, es.map(_.name)) }

  /** Atomically publish `tmp` as `dst` iff `dst` does not exist —
    * the CAS primitive of the manifest commit (and of data-file
    * claims). Raw local: a hard LINK, which is atomic and fails with
    * EEXIST on a lost race while the target appears fully written or
    * not at all (a plain rename(2) would silently REPLACE an existing
    * target). Other schemes: FileSystem.rename, which refuses an
    * existing destination server-side on HDFS. An object-store
    * deployment swaps this seam for a conditional PUT
    * (If-None-Match) — the one primitive the protocol needs. On
    * success the temp is consumed; on a lost race it is kept so the
    * caller can retry under a new target. */
  private[graft] def publishIfAbsent(fs: FileSystem, tmp: Path,
      dst: Path): Boolean = fs match {
    case _: RawLocalFileSystem =>
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        fs.delete(tmp, false): Unit
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case _ =>
      !fs.exists(dst) &&
        (try fs.rename(tmp, dst)
         catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false })
  }

  /** Write `content` to a dot-temp beside `dst` and publish it via
    * [[publishIfAbsent]] — the shared atomic publish-once-text
    * primitive behind vacuum's checkpoint sidecar, the streaming
    * sink's epoch version sidecar, and the CDC stream's start marker.
    * On a lost race the temp is removed (every caller's content is a
    * pure function of the destination, so the winner wrote the same
    * thing). Returns whether THIS call published. */
  private[graft] def publishTextIfAbsent(fs: FileSystem, dst: Path,
      content: String): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val won = publishIfAbsent(fs, tmp, dst)
    if (!won) fs.delete(tmp, false): Unit
    won
  }

  /** Thrown when a manifest transform finds another writer already
    * swapped out files this commit was about to replace (two DELETEs
    * rewriting the same file, a compact racing a DELETE): the loser
    * fails LOUDLY instead of resurrecting deleted rows. Appends never
    * conflict. */
  class GlogConcurrentModificationException(msg: String)
    extends RuntimeException(msg)

  /** Commit a new manifest version via CAS-with-retry: read the
    * current snapshot, apply `transform` to its live entries, publish
    * as version+1; on a lost race re-read and re-apply (the transform
    * must be a pure function of the live list so a retry is safe).
    * Returns (committed version, its live entries). */
  private[graft] def commitManifest(dir: Path, conf: Configuration)(
      transform: Seq[ManifestEntry] => Seq[ManifestEntry])
      : (Long, Seq[ManifestEntry]) = {
    val fs = fsFor(dir, conf)
    fs.mkdirs(metaDir(dir)): Unit
    var attempt = 0
    while (attempt < 10000) {
      attempt += 1
      val (cur, live) = liveEntries(dir, conf) match {
        case Some((v, entries)) => (v, entries)
        case None =>
          // first manifest: baseline is the raw listing with UNKNOWN
          // ts stats (version 0 is implicit — the pre-manifest
          // directory itself; its files never met a stats-tracking
          // writer, so every ts predicate conservatively keeps them)
          (0L,
            (try fs.listStatus(dir)
             catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
              .filter(s => s.isFile && s.getPath.getName.endsWith(".glog"))
              .map(s => ManifestEntry(s.getPath.getName, None))
              .sortBy(e => listingOrder(e.name)).toSeq)
      }
      // name collisions keep the LAST occurrence: a pre-manifest
      // baseline adopts already-claimed files with UNKNOWN stats, and
      // the appending transform then re-adds them WITH stats — the
      // later, richer entry must win
      val next = transform(live).reverse.distinctBy(_.name)
        .sortBy(e => listingOrder(e.name))
      // full manifest on the first commit (the pre-manifest baseline
      // exists in no earlier version) and every CheckpointEvery-th
      // version; otherwise a delta — O(changed files) bytes per
      // commit. The fullness rule is a pure function of the target
      // version, so racing committers produce the same shape and the
      // name CAS below still arbitrates.
      val target = cur + 1
      // every manifest declares its format (FormatHeader) — the
      // out-of-band gate for the etype-dictionary decoding
      val body: Seq[String] =
        if (cur == 0 || target % CheckpointEvery == 0)
          FormatHeader +: next.map(_.line)
        else {
          val nextByName = next.map(e => e.name -> e).toMap
          val liveByName = live.map(e => e.name -> e).toMap
          val removed = live.map(_.name).filterNot(nextByName.contains)
          val added = next.filter(e => !liveByName.get(e.name).contains(e))
          DeltaHeader +: FormatHeader +: (removed.map(n => s"R\t$n") ++
            added.map(e => s"A\t${e.line}"))
        }
      val tmp = new Path(metaDir(dir),
        s".manifest-${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (publishIfAbsent(fs, tmp, manifestPath(dir, target)))
        return (target, next)
      fs.delete(tmp, false): Unit // lost the race: retry from the new snapshot
    }
    throw new IllegalStateException(
      s"glog: manifest CAS under $dir did not converge after $attempt attempts")
  }

  /** Parse a user-supplied timestamp option to epoch millis: numeric
    * epoch millis, `yyyy-MM-dd HH:mm:ss[.f…]` (resolved in the
    * SESSION time zone — `spark.sql.session.timeZone`, the same clock
    * a SQL `TIMESTAMP AS OF` literal resolves under; NOT the JVM
    * default, which can silently skew the pinned snapshot by the
    * zone offset on clusters whose JVMs don't run UTC), or an
    * ISO-8601 instant. Loud on anything else. */
  private[graft] def parseTimestampMs(option: String, s: String): Long = {
    val t = s.trim
    t.toLongOption.getOrElse {
      try {
        val ldt = java.time.LocalDateTime.parse(t.replaceFirst(" ", "T"))
        val zone = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(sp => java.time.ZoneId.of(
            sp.conf.get("spark.sql.session.timeZone")))
          .getOrElse(java.time.ZoneId.systemDefault())
        ldt.atZone(zone).toInstant.toEpochMilli
      } catch { case _: java.time.format.DateTimeParseException =>
        try java.time.Instant.parse(t).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"glog: $option must be epoch millis, " +
              s"'yyyy-MM-dd HH:mm:ss[.f]', or an ISO-8601 instant, got '$s'")
        }
      }
    }
  }

  /** Newest committed version whose manifest mtime is <= `tsMs` — the
    * TIMESTAMP AS OF resolution (GlogCatalog.loadTable's rule) as a
    * reusable helper behind every timestamp-addressed spelling: the
    * `timestampAsOf` reader option, the CDC stream's
    * `startingTimestamp`, and the batch feed's
    * `changeFeedFrom/ToTimestamp` endpoints. Loud (naming the
    * offending option) when the table has no history or no version
    * qualifies — never a silent earliest/latest fallback. */
  private[sources] def versionAtTimestamp(dir: Path, conf: Configuration,
      tsMs: Long, option: String): Long = {
    val fs = fsFor(dir, conf)
    val versions = manifestVersions(dir, conf)
    require(versions.nonEmpty,
      s"glog: $option needs manifest history at $dir (write through the " +
        "connector once)")
    val eligible = versions.filter { v =>
      // a version vacuumed between the listing and this stat is by
      // definition OLDER than any surviving candidate (vacuum reclaims
      // from the oldest end) — skip it instead of surfacing a raw
      // FileNotFoundException mid-resolution
      try fs.getFileStatus(manifestPath(dir, v)).getModificationTime <= tsMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    require(eligible.nonEmpty,
      s"glog: no committed version of $dir at or before $option $tsMs ms " +
        s"(oldest retained manifest is version ${versions.head})")
    eligible.max
  }

  /** Commit history of a glog table — one row per RETAINED manifest
    * version, newest last: the version, its commit timestamp (the
    * manifest file's mtime — the same clock every timestamp-addressed
    * spelling resolves against), the live-file count, and the
    * added/removed file counts vs the PREVIOUS retained version
    * (NULL for the oldest row, whose predecessor may have been
    * vacuumed). The DESCRIBE HISTORY analog: how a user finds the
    * version or timestamp to hand to versionAsOf / timestampAsOf /
    * changeFeedFrom / startingVersion. Driver-side: ONE full resolve
    * for the oldest retained version, then a FORWARD fold applying
    * each later manifest's body in turn — O(versions) manifest
    * reads, never O(versions · chain) re-resolves — bounded by
    * vacuum retention exactly like Delta's DESCRIBE HISTORY,
    * returned as a local DataFrame. */
  def history(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    val conf = driverHadoopConf()
    val dir = resolveDir(path)
    val fs = fsFor(dir, conf)
    val versions = manifestVersions(dir, conf)
    val rows = versions.zipWithIndex.foldLeft(
        (Set.empty[String], Seq.newBuilder[org.apache.spark.sql.Row])) {
      case ((prev, out), (v, i)) =>
        // oldest retained version: full resolve (walks to its
        // checkpoint anchor); every later version: apply ITS manifest
        // body to the running set — a delta applies its R/A records,
        // a full/checkpointed manifest restates the set outright
        val names: Set[String] =
          if (i == 0) resolveEntries(dir, conf, v).map(_.name).toSet
          else {
            // name-only parsing (v2 flag immaterial); header lines
            // ('#delta', '#glog-format', …) are skipped in both shapes
            val lines = readLinesOf(fs, manifestPath(dir, v))
            if (lines.exists(_ == DeltaHeader)) {
              val s = scala.collection.mutable.Set.empty[String] ++ prev
              lines.filterNot(_.startsWith("#")).foreach(_.split("\t", 2) match {
                case Array("R", name) => s -= name
                case Array("A", rest) =>
                  s += ManifestEntry.parse(rest, v2 = false).name
                case other => throw new IllegalStateException(
                  s"glog: unparseable delta-manifest record under $dir: " +
                    s"'${other.mkString("\t")}'")
              })
              s.toSet
            } else lines.filterNot(_.startsWith("#"))
              .map(ManifestEntry.parse(_, v2 = false).name).toSet
          }
        val ts = new java.sql.Timestamp(
          fs.getFileStatus(manifestPath(dir, v)).getModificationTime)
        val (added, removed) =
          if (i == 0) (null, null) // predecessor may be vacuumed — unknown
          else (java.lang.Long.valueOf((names -- prev).size.toLong),
            java.lang.Long.valueOf((prev -- names).size.toLong))
        out += org.apache.spark.sql.Row(
          v, ts, names.size.toLong, added, removed)
        (names, out)
    }._2.result()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("commit_timestamp", TimestampType, nullable = false),
        StructField("n_live_files", LongType, nullable = false),
        StructField("n_added", LongType, nullable = true),
        StructField("n_removed", LongType, nullable = true))))
  }

  /** Grace window [[vacuum]] applies before unlinking an unreferenced
    * file: only orphans OLDER than this (by modification time) are
    * reclaimed, so a concurrent commit's just-claimed,
    * not-yet-CAS'd files — which look orphaned for the instant
    * between their claim and their manifest CAS — survive a racing
    * vacuum (the Delta/Iceberg retention-interval pattern).
    * [[renameStagedIn]] RE-STAMPS each file's mtime at claim time
    * (rename/hard-link preserve the temp's write-finish time, which
    * for a straggler-delayed job can be arbitrarily old), so the
    * clock the grace measures really is claim→CAS — a window of
    * milliseconds that 10 minutes dwarfs. Still-STAGED `.inprogress`
    * temps of a job that runs longer than the grace can be reclaimed
    * by a concurrent vacuum: that job then fails LOUDLY at commit
    * (claim of a missing temp) and re-runs — never silent corruption;
    * size graceMs above the longest expected write job when vacuums
    * run concurrent with ingest. `graceMs = 0` is the explicit
    * I-know-nothing-is-in-flight spelling for controlled
    * maintenance. */
  val DefaultVacuumGraceMs: Long = 10L * 60 * 1000

  /** Suffix of the claim-time sidecar [[renameStagedIn]] publishes
    * when the store rejects `setTimes` (object stores, some HDFS
    * configs): the sidecar's OWN creation mtime carries the claim
    * time the grace clock needs; [[vacuum]] prefers it over the data
    * file's (write-finish) mtime and reclaims it once the claim is
    * resolved. Never matches a data (.glog) or temp (.inprogress)
    * name, so readers and the zone-map listing never see it. */
  private[sources] val ClaimSuffix = ".claim"

  /** Reclaim files no retained snapshot references: data files outside
    * the union of the newest `retainVersions` manifests (DML/compact
    * orphans), manifests older than those, and abandoned `.inprogress`
    * temps. Keeping `retainVersions > 1` preserves time-travel reads
    * (`option("versionAsOf", n)`) and in-flight readers of recent
    * versions; a vacuumed version fails LOUDLY on read. Before GC'ing
    * the chain below the oldest retained version, its FULL live list
    * is materialized as a `.checkpoint` sidecar (idempotent
    * publish-if-absent; content is a pure function of the version) so
    * retained delta manifests stay resolvable without their
    * pre-retention ancestors. SAFE-BY-DEFAULT against in-flight
    * commits: only orphans older than `graceMs`
    * ([[DefaultVacuumGraceMs]]) are unlinked, so a concurrent
    * committer's claimed-but-not-yet-CAS'd files survive
    * (spec-proven by racing a mid-commit table); pass `graceMs = 0`
    * to reclaim everything when provably quiescent. Returns the
    * number of data files removed. */
  def vacuum(path: String, retainVersions: Int = 1,
             graceMs: Long = DefaultVacuumGraceMs,
             dryRun: Boolean = false): Int = {
    val conf = driverHadoopConf()
    val dir = resolveDir(path)
    val fs = fsFor(dir, conf)
    val versions = manifestVersions(dir, conf)
    if (versions.isEmpty) return 0
    val retained = versions.takeRight(math.max(1, retainVersions))
    val keep: Set[String] = retained
      .flatMap(v => liveSnapshot(dir, conf, Some(v)).map(_._2).getOrElse(Seq.empty))
      .toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    val listing =
      (try fs.listStatus(dir)
       catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .filter(_.isFile)
    // claim-time sidecars (setTimes-rejecting stores): the grace clock
    // takes max(data mtime, sidecar mtime) so a claim whose rename
    // preserved an ancient write-finish time still gets its full grace
    val claimMtimes: Map[String, Long] = listing
      .filter(_.getPath.getName.endsWith(ClaimSuffix))
      .map(s => s.getPath.getName.stripSuffix(ClaimSuffix) ->
        s.getModificationTime).toMap
    // ONE candidate selection shared by dry-run and the real pass —
    // the single property a dry run exists to guarantee is that it
    // reports exactly the set the real pass would reclaim
    val orphans = listing.filter { s =>
      val n = s.getPath.getName
      !n.endsWith(ClaimSuffix) &&
        ((n.endsWith(".glog") && !keep(n)) || n.endsWith(".inprogress"))
    }
    val (reclaim, graced) = orphans.partition(s =>
      math.max(s.getModificationTime,
        claimMtimes.getOrElse(s.getPath.getName, Long.MinValue)) <= cutoff)
    // DRY RUN: report and mutate NOTHING — no checkpoint anchor, no
    // manifest GC, no sidecar/tmp sweeps (Delta's VACUUM ... DRY RUN)
    if (dryRun) return reclaim.length
    // anchor the retained chain: a full checkpoint at the oldest
    // retained version (no-op when one exists or the manifest there
    // is already full — resolve would stop at it anyway, but the
    // sidecar is cheap and makes the GC below unconditional)
    val minRetained = retained.head
    if (!fs.exists(checkpointPath(dir, minRetained))) {
      val entries = resolveEntries(dir, conf, minRetained)
      // the version's ORIGINAL commit time (its manifest's mtime —
      // still present here, GC only runs below minRetained) rides a
      // header so _commit_timestamp attribution stays exact even when
      // the checkpoint later becomes the version's only resolvable
      // form (the checkpoint file's own mtime is vacuum time)
      val commitTs =
        try fs.getFileStatus(manifestPath(dir, minRetained)).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L }
      val hdrs = FormatHeader +:
        (if (commitTs >= 0L) Seq(s"$CommitTsHeaderPrefix$commitTs") else Seq.empty)
      // a lost race means a racing vacuum published the same content
      publishTextIfAbsent(fs, checkpointPath(dir, minRetained),
        (hdrs ++ entries.map(_.line)).mkString("", "\n", "\n")): Unit
    }
    var removed = 0
    val deleted = scala.collection.mutable.Set.empty[String]
    reclaim.foreach { s =>
      if (fs.delete(s.getPath, false)) { removed += 1; deleted += s.getPath.getName }
    }
    if (graced.nonEmpty)
      // surface the safe-by-default behavior change (round-13+): a
      // vacuum right after a DELETE/compact reclaims nothing until the
      // orphans age past graceMs — pass graceMs = 0 when provably
      // quiescent
      logger.info(s"glog vacuum($dir): ${graced.length} orphan(s) " +
        s"within the ${math.max(0L, graceMs)} ms grace window were kept " +
        "(in-flight-commit protection); re-run later or pass graceMs = 0 " +
        "if nothing is in flight")
    // claim sidecars whose job is done: the claim is live (its CAS
    // landed), or its data file is gone (vacuumed above, or never
    // committed and already reclaimed)
    val present = listing.map(_.getPath.getName).toSet
    claimMtimes.keysIterator.foreach { base =>
      if (keep(base) || deleted(base) || !present(base))
        fs.delete(new Path(dir, base + ClaimSuffix), false): Unit
    }
    versions.filter(_ < minRetained).foreach { v =>
      fs.delete(manifestPath(dir, v), false): Unit
      fs.delete(checkpointPath(dir, v), false): Unit
    }
    // crashed publish temps (`.name.uuid.tmp` — a manifest CAS, claim
    // sidecar, or epoch marker whose writer died between create and
    // rename): invisible to every reader and referenced by nothing,
    // but they leak forever without a sweep; the same grace cutoff
    // protects an in-flight publisher's fresh temp
    def sweepTmps(d: Path): Unit =
      (try fs.listStatus(d)
       catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .filter(s => s.isFile && s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime <= cutoff)
        .foreach(s => fs.delete(s.getPath, false): Unit)
    sweepTmps(dir)
    sweepTmps(metaDir(dir))
    removed
  }

  /** Row-level CHANGE FEED between two committed versions — the
    * incremental-consumer primitive a training-data pipeline reads
    * instead of re-scanning 100 TB per day: returns the data columns
    * plus `_change_type` ('insert' | 'delete') for exactly the rows
    * that changed between `fromVersion` and `toVersion`.
    *
    * File-level diff first (manifest set difference), then a
    * row-level signed multiset diff between the added-file rows and
    * the removed-file rows (EXCEPT ALL semantics, computed as one
    * grouped sum of ±1 so each side is scanned once), so a
    * copy-on-write rewrite's carried-over survivors cancel and only
    * true row changes emit. The diffed file
    * sets travel into scan PLANNING through the `filesOf` read option
    * (the static twin of the runtime `_file` group filter), so files
    * common to both versions are never planned, opened, or parsed —
    * IO scales with the CHANGED files, not the table (planCensus- and
    * rowsEmitted-asserted in Dsv2SourceSpec). Requires both versions
    * (and their files) to still be retained — a vacuumed range fails
    * loudly.
    *
    * Public reader spelling (no Scala call needed):
    * `spark.read.format("glog").option("path", dir)
    *   .option("changeFeedFrom", a).option("changeFeedTo", b).load()`
    * — rewritten to this plan by graft.plans.GraftExtensions. */
  /** Memo of the change feed's manifest diff, keyed by
    * (qualified dir, from, to, to-manifest identity) WITHIN a
    * session: committed versions are IMMUTABLE, so the name diff
    * never changes once resolved — without this, repeated re-analysis
    * of plans referencing a feed (the ChangeFeedRewrite resolution
    * rule fires per analysis pass) and every streaming CDC
    * micro-batch would re-resolve two manifest chains (O(live files)
    * text) per touch. The identity component — (mtime, len) of the
    * `to` version's manifest/checkpoint file, one getFileStatus — is
    * what makes a DELETED-AND-RECREATED directory (version numbering
    * restarts, names can recur) miss instead of serving the old
    * generation's diff; per-session WeakHashMap scoping additionally
    * bounds lifetime. The analyzer-rule twin of the stream's
    * add-list memo. The identity rides the key as SEPARATE (mtime,
    * length) components — an XOR fold could collide a
    * delete-and-recreate on a coarse-mtime filesystem and serve the
    * old generation's diff. */
  private type FeedDiffKey = (String, Long, Long, Long, Long)
  private val feedDiffMemos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[FeedDiffKey, (Set[String], Set[String])]]())
  private def feedDiffMemo(spark: SparkSession)
      : java.util.LinkedHashMap[FeedDiffKey, (Set[String], Set[String])] =
    feedDiffMemos.computeIfAbsent(spark, _ =>
      new java.util.LinkedHashMap[FeedDiffKey, (Set[String], Set[String])](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[FeedDiffKey, (Set[String], Set[String])])
            : Boolean = size() > 256
      })

  /** (mtime, length) of a committed version's metadata file — the
    * memo-key identity (manifest, else the checkpoint sidecar a
    * vacuum may have left as the only resolvable form), and the
    * mtime doubles as the version's COMMIT TIMESTAMP (the same
    * filesystem clock TIMESTAMP AS OF resolves against). (-1, -1) =
    * not found — the caller skips caching and lets resolution fail
    * loudly. */
  private[graft] def manifestStat(fs: FileSystem, dir: Path, v: Long): (Long, Long) = {
    def statOf(p: Path): Option[(Long, Long)] =
      try { val s = fs.getFileStatus(p); Some((s.getModificationTime, s.getLen)) }
      catch { case _: java.io.FileNotFoundException => None }
    statOf(manifestPath(dir, v)).orElse {
      val cp = checkpointPath(dir, v)
      statOf(cp).map { case (cpMtime, len) =>
        // the checkpoint's #commit-ts header carries the ORIGINAL
        // commit time (vacuum copied it from the manifest before GC);
        // a header-less (pre-round-15) checkpoint falls back to the
        // checkpoint's own mtime — vacuum time, the documented
        // legacy approximation
        val hdrTs =
          try readHeaderLinesOf(fs, cp)
            .collectFirst { case l if l.startsWith(CommitTsHeaderPrefix) =>
              l.stripPrefix(CommitTsHeaderPrefix).trim.toLongOption }.flatten
          catch { case _: java.io.FileNotFoundException => None }
        (hdrTs.getOrElse(cpMtime), len)
      }
    }.getOrElse((-1L, -1L))
  }

  /** CDC metadata attribution (`_commit_version` /
    * `_commit_timestamp`): every row stamps the feed's `to` ENDPOINT
    * — the version (and its manifest mtime) whose snapshot produced
    * the net change. When the range spans ONE commit (to == from+1 —
    * the streaming source's `maxVersionsPerTrigger = 1` default
    * admission) this is exact per-commit attribution, Delta-CDF
    * style; a multi-version NET feed collapses intermediate commits
    * by construction (an insert-then-delete within the range cancels
    * entirely), so its rows attribute to the range's end — the
    * documented endpoint-stamping contract, chosen over per-version
    * unions to keep IO O(changed files between the endpoints). */
  def changeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): org.apache.spark.sql.DataFrame = {
    require(fromVersion <= toVersion,
      s"glog changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    import org.apache.spark.sql.functions.{col, lit}
    val conf = driverHadoopConf()
    val dir = resolveDir(path)
    val fs = fsFor(dir, conf)
    val (toMtime, toLen) = manifestStat(fs, dir, toVersion)
    val key = (censusKey(dir, fs), fromVersion, toVersion, toMtime, toLen)
    val memo = feedDiffMemo(spark)
    // resolve OUTSIDE the monitor: a miss pays two manifest-chain
    // reads (filesystem IO), and holding the lock through them would
    // serialize every concurrent feed/CDC planning in the session; a
    // rare duplicate resolve on a race is harmless (versions are
    // immutable)
    val cached = memo.synchronized(Option(memo.get(key)))
    val (a, b) = cached.getOrElse {
      val computed = (
        liveSnapshot(dir, conf, Some(fromVersion)).get._2.toSet,
        liveSnapshot(dir, conf, Some(toVersion)).get._2.toSet)
      if (toMtime != -1L) memo.synchronized(memo.put(key, computed)): Unit
      computed
    }
    import org.apache.spark.sql.functions.{abs, sum, when}
    val dataCols = SchemaFixed.fieldNames.map(col).toSeq
    def rowsOf(version: Long, names: Set[String]) = spark.read
      .format("glog").option("path", path)
      .option("versionAsOf", version.toString)
      // the planning-time file restriction: only the diffed names are
      // planned (an empty set plans zero partitions — a pure append's
      // removed side costs nothing)
      .option("filesOf", names.toSeq.sorted.mkString(","))
      .load()
      .select(dataCols: _*)
    val added = rowsOf(toVersion, b -- a)
    val removed = rowsOf(fromVersion, a -- b)
    // SIGNED multiset diff — one union + ONE grouped aggregate — in
    // place of the former `added.exceptAll(removed)` /
    // `removed.exceptAll(added)` PAIR. Row-identical: for a row with
    // multiplicity x among the added-file rows and y among the
    // removed-file rows, the pair emitted max(x−y,0) 'insert's and
    // max(y−x,0) 'delete's; sum(±1) = x−y yields the same |x−y| rows
    // typed by the sign (at most one direction is ever nonzero), and
    // both spellings group through the same hash-aggregate float
    // normalization. What the pair paid twice now happens once: each
    // diffed side is planned and SCANNED once (each exceptAll rewrite
    // re-scanned BOTH sides), one exchange instead of two, one
    // aggregate pipeline instead of two — feed IO is 1× the changed
    // files, not 2× (guide §2.4/§8; Dsv2SourceSpec's differential
    // suite pins equality against the exceptAll-pair spelling,
    // duplicate multiplicities included). Replication of a surviving
    // row |cnt| times goes through the same streaming ReplicateRows
    // generator exceptAll's own rewrite uses — no per-row array.
    val signed = added.withColumn("_sign", lit(1L))
      .unionAll(removed.withColumn("_sign", lit(-1L)))
      .groupBy(dataCols: _*)
      .agg(sum(col("_sign")).as("_cnt"))
      .where(col("_cnt") =!= 0L)
    import org.apache.spark.sql.graftshim.ColumnBridge
    val replicated = signed.select(ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.ReplicateRows(
        (abs(col("_cnt")) +: dataCols :+ col("_cnt"))
          .map(ColumnBridge.expr))))
      .toDF(SchemaFixed.fieldNames.toIndexedSeq :+ "_cnt": _*)
    replicated
      .withColumn("_change_type",
        when(col("_cnt") > 0L, lit("insert")).otherwise(lit("delete")))
      .drop("_cnt")
      // metadata stamps are pure literals (the version + its manifest
      // mtime, both already on the driver from planning) — zero
      // executor-side cost, and the signed diff above stays over the
      // data columns only
      .withColumn("_commit_version", lit(toVersion))
      .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(toMtime)))
  }

  /** Claim-based job-commit tail shared by every write shape: rename
    * the staged `.inprogress` temps to final zone-map names (fresh
    * indices past the directory's current maximum — orphans included,
    * so a reused slot can never collide) and discard empty-task
    * temps. Each rename is a [[publishIfAbsent]] CLAIM: when a
    * concurrent committer wins a name, the loser re-lists and
    * re-plans the remainder at higher indices — no clobbering, no
    * collision failures. Returns the committed final manifest
    * entries (name + ts stats); the files stay INVISIBLE to readers
    * until the caller's manifest CAS references them. */
  private[graft] def renameStagedIn(dir: Path, conf: Configuration,
      messages: Array[WriterCommitMessage]): Seq[ManifestEntry] = {
    val fs = fsFor(dir, conf)
    var remaining = messages.map(_.asInstanceOf[GlogCommit])
      .filter(_.rows > 0).sortBy(_.tempPath).toSeq
    val done = Seq.newBuilder[ManifestEntry]
    var attempt = 0
    while (remaining.nonEmpty) {
      attempt += 1
      require(attempt <= 10000,
        s"glog: commit rename into $dir did not converge after $attempt attempts")
      val names =
        (try fs.listStatus(dir)
         catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
          .map(_.getPath.getName).filter(_.endsWith(".glog"))
      var nextIdx = names.map(partIndex).filter(_ != Int.MaxValue)
        .maxOption.getOrElse(-1) + 1
      val pending = remaining
      remaining = Seq.empty
      var collided = false
      pending.foreach { m =>
        if (collided) remaining :+= m
        else {
          val name = fileName(nextIdx, m.min, m.max)
          nextIdx += 1
          // restart the vacuum grace clock at CLAIM time, BEFORE the
          // rename publishes the file under its final name: re-stamp
          // the TEMP's mtime (rename/hard-link preserve it), so a
          // straggler-delayed job's file is never visible to a racing
          // vacuum with its ancient write-finish mtime — not even for
          // the instant between rename and a post-rename re-stamp
          try fs.setTimes(new Path(m.tempPath),
            System.currentTimeMillis(), -1): Unit
          catch { case _: UnsupportedOperationException =>
            // store rejects mtime re-stamps: publish a claim-time
            // SIDECAR instead — creating a file stamps its own mtime
            // with no setTimes needed, and vacuum's grace check takes
            // max(data mtime, sidecar mtime). Published BEFORE the
            // rename for the same no-visible-stale-instant reason.
            // Written as an UNCONDITIONAL overwrite, not
            // publish-if-absent: a stale sidecar left by a crashed
            // earlier claimant of this (recurrable) name would win an
            // if-absent race and keep its ANCIENT mtime — exactly the
            // reverted grace clock the sidecar exists to prevent. The
            // content is empty; the mtime IS the payload, so an
            // in-place create-overwrite (the object-store PUT shape)
            // suffices — a fresher stamp only ever EXTENDS grace
            // protection, never strips it, including for a concurrent
            // claimant of the same name (each lands a fresh stamp). A
            // lost claim leaves the sidecar behind ON PURPOSE: the
            // name's winner may rely on it; vacuum reclaims it once
            // the claim resolves either way
            fs.create(new Path(dir, name + ClaimSuffix), true).close()
          }
          if (publishIfAbsent(fs, new Path(m.tempPath), new Path(dir, name))) {
            done += ManifestEntry(name, m.tsRange, m.uidRange, m.etypesOpt)
          } else { collided = true; remaining :+= m }
        }
      }
    }
    // empty tasks leave no file behind
    messages.map(_.asInstanceOf[GlogCommit]).filter(_.rows == 0)
      .foreach(m => fsFor(new Path(m.tempPath), conf)
        .delete(new Path(m.tempPath), false): Unit)
    done.result()
  }

  private[graft] def discardStaged(conf: Configuration,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GlogCommit => m }.foreach { m =>
      val p = new Path(m.tempPath)
      fsFor(p, conf).delete(p, false): Unit
    }

  /** Stage (but do NOT commit) the file-level work of removing every
    * row satisfying ALL `filters` from the live files under `dir` —
    * the shared kernel behind DELETE FROM (SupportsDelete) and
    * overwrite-by-filter (SupportsOverwrite). Returns
    * (liveNamesToDrop, replacementNames) for the caller's manifest
    * CAS, so a DELETE (one CAS) and a REPLACE WHERE (delete + append
    * in the SAME CAS) are each atomic for readers.
    *
    * Per file: the zone map proves it unaffected → byte-untouched;
    * proves it FULLY covered → dropped from the live set without ever
    * being opened (the metadata-only retention-window path,
    * spec-proven on a file whose content would not even parse);
    * otherwise survivors are rewritten COPY-ON-WRITE to a fresh part
    * file with TIGHT recomputed bounds (claimed via
    * [[renameStagedIn]]). The old file is never touched — it stays on
    * disk as an orphan for snapshot-pinned readers until [[vacuum]].
    * A crash before the caller's CAS leaves the table untouched (only
    * invisible orphans); re-running converges. */
  private[graft] def deleteMatchingStaged(dir: Path, conf: Configuration,
      filters: Array[Filter]): (Set[String], Seq[ManifestEntry]) = {
    val fs = fsFor(dir, conf)
    val (affected, _) = listCommitted(dir, conf, filters.toSeq)
    // manifest file stats, for the retention full-coverage proofs
    val stats: Map[String, ManifestEntry] =
      liveEntries(dir, conf).map(_._2.map(e => e.name -> e).toMap)
        .getOrElse(Map.empty)
    val drops = Set.newBuilder[String]
    val staged = Seq.newBuilder[GlogCommit]
    affected.foreach { st =>
      val f = st.getPath
      // retention-window fast path: the value zone map (from the
      // NAME) or the manifest file stats (ts/user_id range, exact
      // event_type dictionary) PROVE every row matches → drop from
      // the live set without opening the file — `DELETE WHERE
      // ts < cutoff` (and its user_id/event_type siblings) ages out
      // whole files metadata-only
      val fullyCovered = minMaxFromName(f.getName)
        .exists { case (mn, mx) => zoneMapFullyCovers(mn, mx, filters.toSeq) } ||
        stats.get(f.getName).exists { e =>
          tsStatsFullyCover(e.tsRange, filters.toSeq) ||
            uidStatsFullyCover(e.uidRange, filters.toSeq) ||
            etypeStatsFullyCover(e.etypes, filters.toSeq)
        }
      if (fullyCovered) {
        drops += f.getName
      } else {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(f), java.nio.charset.StandardCharsets.UTF_8))
        val tmp = new Path(dir,
          s".rewrite-${java.util.UUID.randomUUID()}.glog.inprogress")
        val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
        var rows = 0L
        var mn = Double.PositiveInfinity
        var mx = Double.NegativeInfinity
        var tsMn = Long.MaxValue
        var tsMx = Long.MinValue
        val statsAcc = new GlogStatsAcc
        try {
          var line = in.readLine()
          while (line != null) {
            val c = line.split("\t", 6)
            val value = java.lang.Double.parseDouble(c(4))
            val tsMicros = c(1).toLong
            // a row is deleted iff it satisfies EVERY filter
            val deleted = filters.nonEmpty && filters.forall(
              eval(_, c(0).toLong, tsMicros, c(2).toLong,
                c(3), value, if (c.length > 5) c(5) else ""))
            if (!deleted) {
              out.write(line); out.write('\n')
              rows += 1
              // tight replacement bounds, NaN-aware like the writer
              if (cmp(value, mn) < 0) mn = value
              if (cmp(value, mx) > 0) mx = value
              if (tsMicros < tsMn) tsMn = tsMicros
              if (tsMicros > tsMx) tsMx = tsMicros
              statsAcc.add(c(2).toLong, c(3))
            }
            line = in.readLine()
          }
        } finally { in.close(); out.close() }
        drops += f.getName
        if (rows == 0L) fs.delete(tmp, false): Unit
        else staged += GlogCommit(tmp.toString, rows, mn, mx, tsMn, tsMx,
          statsAcc.uidMin, statsAcc.uidMax, statsAcc.etypesEncoded)
      }
    }
    val replacements = renameStagedIn(dir, conf,
      staged.result().toArray[WriterCommitMessage])
    (drops.result(), replacements)
  }

  /** Conflict guard for manifest transforms that REPLACE files: every
    * name this commit drops must still be live, else another writer
    * already swapped it (concurrent DELETE/compact over the same
    * files) and blindly committing would resurrect deleted rows or
    * drop the other writer's replacements — fail loudly instead.
    * Concurrent APPENDS never trip this (they only add names). */
  private[graft] def requireStillLive(live: Seq[String],
      dropping: Iterable[String], op: String): Unit = {
    val gone = dropping.filterNot(live.toSet)
    if (gone.nonEmpty) throw new GlogConcurrentModificationException(
      s"glog $op: files were replaced by a concurrent commit: " +
        s"${gone.take(3).mkString(", ")} — re-run the statement")
  }

  /** DELETE FROM, committed: stage the copy-on-write work, then ONE
    * manifest CAS swapping dropped names for replacements. */
  private[graft] def deleteMatching(dir: Path, conf: Configuration,
      filters: Array[Filter]): Unit = {
    val (drop, repl) = deleteMatchingStaged(dir, conf, filters)
    if (drop.nonEmpty || repl.nonEmpty)
      commitManifest(dir, conf) { live =>
        requireStillLive(live.map(_.name), drop, "DELETE")
        live.filterNot(e => drop(e.name)) ++ repl
      }: Unit
  }

  /** Driver-conf convenience overload (DELETE/overwrite entry points
    * and specs run on the driver). */
  private[graft] def deleteMatching(dir: Path, filters: Array[Filter]): Unit =
    deleteMatching(dir, driverHadoopConf(), filters)

  /** Compact the table: rewrite the live files through the CLUSTERED
    * write path (value-ordered range exchange), so the layout comes
    * out with tight, disjoint zone-map bounds and a bounded file
    * count — the cure for many-small-files after long append streams
    * (copy-on-write DML already leaves tight bounds, so compaction's
    * job here is file-count consolidation). Executor-parallel: the
    * rewrite is a normal Spark job (read → range exchange → clustered
    * write into a staging dir); the driver claims the staged files
    * under fresh indices and commits ONE manifest CAS swapping the
    * old generation for the new — readers see either generation in
    * full, never both, and a crash at ANY point leaves only invisible
    * orphans, so re-running compact converges without ever folding a
    * duplicate generation in. The old generation stays on disk for
    * snapshot-pinned readers until [[vacuum]]. Safe under concurrent
    * APPENDS (their files carry over through the CAS); a concurrent
    * DELETE/compact over the same files loses loudly
    * ([[GlogConcurrentModificationException]]). A STREAMING read of
    * the same directory keeps its place: stream offsets follow the
    * manifest versions, the compacted generation stays on disk for
    * lagging streams until [[vacuum]], and the replace commit itself
    * fails the stream loudly by default, or under
    * `option("ignoreChanges", "true")` re-emits the compacted
    * generation's files (at-least-once duplicates, never loss) — see
    * [[GlogMicroBatchStream]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    val conf = driverHadoopConf()
    val dir = resolveDir(path)
    val fs = fsFor(dir, conf)
    // pin the generation being compacted to ONE manifest version (a
    // pre-manifest directory gets its baseline committed first), so
    // an append landing DURING the staging read can neither be folded
    // into the new generation nor dropped by the swap below
    val snap = liveEntries(dir, conf)
    if (snap.isEmpty && listCommitted(dir, conf, Seq.empty)._2 == 0)
      return // empty/missing directory: a no-op, leave no metadata behind
    val (gen, oldEntries) =
      snap.getOrElse(commitManifest(dir, conf)(identity))
    if (oldEntries.isEmpty) return
    val oldNames = oldEntries.map(_.name).toSet
    val staging = new Path(dir.getParent, dir.getName + ".compact")
    fs.delete(staging, true): Unit
    spark.read.format("glog").option("path", path)
      .option("versionAsOf", gen.toString).load()
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.format("glog").option("path", staging.toString)
      .option("clustered", "true").mode("overwrite").save()
    // claim the staged files into the table dir under fresh indices
    // (invisible until the CAS below references them); the staging
    // manifest carries each file's ts stats — they ride along
    val stagedEntries = liveEntries(staging, conf)
      .map(_._2).getOrElse(Seq.empty)
    val claims = stagedEntries.map { e =>
      val (mn, mx) = minMaxFromName(e.name).getOrElse(
        throw new IllegalStateException(
          s"compact: staged file ${e.name} lacks zone-map bounds"))
      val (tsA, tsB) = e.tsRange.getOrElse((Long.MinValue, Long.MaxValue))
      val (uA, uB) = e.uidRange.getOrElse((Long.MaxValue, Long.MinValue))
      GlogCommit(new Path(staging, e.name).toString, 1L, mn, mx, tsA, tsB,
        uA, uB, e.etypes.map(etypesJoin).getOrElse("*"))
        : WriterCommitMessage
    }
    val newEntries = renameStagedIn(dir, conf, claims.toArray)
    commitManifest(dir, conf) { live =>
      requireStillLive(live.map(_.name), oldNames, "compact")
      // concurrent appends landed between the read and this CAS ride
      // along untouched; only the compacted generation is swapped
      live.filterNot(e => oldNames(e.name)) ++ newEntries
    }: Unit
    fs.delete(staging, true): Unit
  }

  /** Translate a connector V2 `Predicate` (the shape runtime filters
    * arrive in through SupportsRuntimeV2Filtering) into the v1
    * `Filter` vocabulary the zone map and readers already speak.
    * Only the IN shape Spark's dynamic pruning actually emits is
    * handled (`IN(col, lit, lit, …)`); anything else is dropped —
    * a runtime filter is always an optimization, never required for
    * correctness, so dropping is safe. */
  private[graft] def v2PredicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Filter] = {
    import org.apache.spark.sql.connector.{expressions => v2e}
    def colName(e: v2e.Expression): Option[String] = e match {
      case r: v2e.NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def litVal(e: v2e.Expression): Option[Any] = e match {
      case l: v2e.Literal[_] => Some(l.value match {
        case u: UTF8String => u.toString
        case other => other
      })
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty =>
        val vs = p.children().drop(1).map(litVal)
        colName(p.children()(0)) match {
          case Some(c) if vs.forall(_.isDefined) => Some(In(c, vs.map(_.get)))
          case _ => None
        }
      case _ => None
    }
  }
}

/** Entry point: `spark.read.format("glog").option("path", dir)` (the
  * short name registers through the DataSourceRegister service
  * loader, so SQL `CREATE TABLE ... USING glog` resolves too; the
  * fully-qualified class name also works). `option("pushdown",
  * "false")` disables every optimization (the measured A/B foil).
  *
  * Also a [[org.apache.spark.sql.sources.StreamSourceProvider]]: the
  * row-level CDC stream (`readStream ... option("readChangeFeed",
  * "true")`) is a multiset-diff composition per micro-batch — a plan no
  * single DSv2 scan can express — so it rides Spark's V1 streaming
  * Source API (whose `getBatch` returns an arbitrary DataFrame; the
  * same seam Delta's streaming source uses). The resolver falls back
  * to V1 exactly when the returned table does not claim
  * MICRO_BATCH_READ, which [[GlogChangeFeedStreamTable]] deliberately
  * doesn't; the plain append stream keeps the DSv2
  * [[GlogMicroBatchStream]] path. */
class GraftLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider {
  override def shortName(): String = "glog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("changeFeedFrom") ||
        options.containsKey("changeFeedTo") ||
        options.containsKey("changeFeedFromTimestamp") ||
        options.containsKey("changeFeedToTimestamp") ||
        options.getBoolean("readChangeFeed", false))
      GraftLogSource.ChangeFeedSchema
    else GraftLogSource.SchemaFixed
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // properties carry the reader options verbatim (case preserved) —
    // resolve the change-feed keys case-insensitively like the
    // CaseInsensitiveStringMap inferSchema saw
    def opt(key: String): Option[String] = {
      import scala.jdk.CollectionConverters._
      properties.asScala.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v
      }
    }
    if (opt("readChangeFeed").exists(_.equalsIgnoreCase("true")))
      return new GlogChangeFeedStreamTable(properties.get("path"))
    val cfKeys = Seq("changeFeedFrom", "changeFeedTo",
      "changeFeedFromTimestamp", "changeFeedToTimestamp")
    if (cfKeys.forall(k => opt(k).isEmpty))
      new GlogTable(properties.get("path"),
        !"false".equalsIgnoreCase(properties.getOrDefault("pushdown", "true")))
    else {
      // each endpoint independently takes a version OR a timestamp
      // (resolved like TIMESTAMP AS OF — endpoints can mix, e.g. a
      // checkpointed from-version with a wall-clock to-timestamp)
      def endpoint(which: String): Long = {
        val vKey = s"changeFeed$which"
        val tKey = s"changeFeed${which}Timestamp"
        val (v, t) = (opt(vKey), opt(tKey))
        require(v.isEmpty || t.isEmpty,
          s"glog change feed: $vKey and $tKey are mutually exclusive — " +
            s"address the $which endpoint one way")
        v.map(s => s.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"glog: $vKey must be a numeric manifest version")))
          .orElse(t.map { s =>
            val path = properties.get("path")
            require(path != null,
              "graft-log source requires option(\"path\", dir)")
            GraftLogSource.versionAtTimestamp(
              GraftLogSource.resolveDir(path),
              GraftLogSource.driverHadoopConf(),
              GraftLogSource.parseTimestampMs(tKey, s), tKey)
          })
          .getOrElse(throw new IllegalArgumentException(
            s"glog change feed requires BOTH endpoints " +
              s"(missing $vKey or $tKey)"))
      }
      new GlogChangeFeedTable(properties.get("path"),
        endpoint("From"), endpoint("To"))
    }
  }
  override def supportsExternalMetadata(): Boolean = false

  // ---- V1 StreamSourceProvider (the readChangeFeed stream) ----
  // sourceSchema is consulted eagerly for EVERY streaming load once a
  // provider implements StreamSourceProvider (the resolver builds the
  // V1 fallback relation up front), so it must stay a pure schema
  // function; createSource only ever runs for the CDC mode — plain
  // streams resolve to the DSv2 micro-batch path before V1 is tried.
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("glog",
      if (parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true")))
        GraftLogSource.ChangeFeedSchema
      else GraftLogSource.SchemaFixed)

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    require(parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true")),
      "glog: the V1 streaming path serves only option(\"readChangeFeed\", " +
        "\"true\") — plain streams use the DSv2 micro-batch reader")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-log source requires option(\"path\", dir)"))
    new GlogChangeFeedSource(sqlContext.sparkSession, path, metadataPath,
      parameters.get("startingVersion").map(s => s.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"glog: startingVersion must be a numeric manifest version, got '$s'"))),
      parameters.get("startingTimestamp")
        .map(GraftLogSource.parseTimestampMs("startingTimestamp", _)),
      parameters.get("maxVersionsPerTrigger").map(s =>
        s.toLongOption.filter(_ >= 1L).getOrElse(
          throw new IllegalArgumentException(
            s"glog: maxVersionsPerTrigger must be a positive integer, got '$s'"))))
  }
}

/** Marker table behind the PUBLIC change-feed reader spelling
  * (`option("changeFeedFrom", a).option("changeFeedTo", b)`): it
  * never executes — graft.plans.GraftExtensions' resolution rule
  * replaces its relation with [[GraftLogSource.changeFeed]]'s plan
  * (the multiset-diff composition cannot be expressed inside one
  * DSv2 scan). Reading it WITHOUT the extension registered fails loudly at
  * planning instead of silently mis-reading. */
private[graft] class GlogChangeFeedTable(val path: String,
    val fromVersion: Long, val toVersion: Long)
    extends Table with SupportsRead {
  require(path != null, "graft-log source requires option(\"path\", dir)")
  require(fromVersion <= toVersion,
    s"glog changeFeed: changeFeedFrom $fromVersion > changeFeedTo $toVersion")
  override def name(): String =
    s"glog_change_feed($path)@v$fromVersion..v$toVersion"
  override def schema(): StructType = GraftLogSource.ChangeFeedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      "glog change feed reads require the graft.plans.GraftExtensions " +
        "session extension (GraftSession registers it; clusters set " +
        "spark.sql.extensions=graft.plans.GraftExtensions)")
}

/** Marker table behind the STREAMING change-feed spelling
  * (`readStream ... option("readChangeFeed", "true")`): it claims no
  * MICRO_BATCH_READ capability, which makes Spark's resolver fall
  * back to the provider's V1 [[GlogChangeFeedSource]] — the only API
  * whose per-batch plan can carry the feed's multiset-diff composition.
  * A BATCH read of this spelling fails loudly toward the batch
  * options instead of mis-reading. */
private[graft] class GlogChangeFeedStreamTable(val path: String)
    extends Table with SupportsRead {
  require(path != null, "graft-log source requires option(\"path\", dir)")
  override def name(): String = s"glog_change_feed_stream($path)"
  override def schema(): StructType = GraftLogSource.ChangeFeedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      "glog: readChangeFeed is a STREAMING option (spark.readStream); a " +
        "batch change feed reads option(\"changeFeedFrom\"/\"changeFeedTo\")")
}

/** The row-level CDC stream over a glog table — the streaming twin of
  * batch [[GraftLogSource.changeFeed]], closing the
  * incremental-training-data loop end to end (no more hand-managed
  * version cursors + batch polling). Offsets ARE manifest versions: a
  * position P means "every change up to and including version P has
  * been delivered", and each micro-batch is exactly
  * `changeFeed(P, P')` — data columns plus `_change_type`
  * ('insert' | 'delete'), insert AND delete rows, carried-over
  * rewrite survivors cancelled by the feed's multiset diff, IO bounded
  * by the `filesOf` planning restriction to the manifest diff
  * (O(changed files), never O(table)). Reference analog: the 1 kHz
  * loop consumes every sample, corrections included
  * (codegen_cim.py:524-548).
  *
  *  - `startingVersion` (default: the newest version at stream start
  *    — "changes from now on") is the snapshot the stream starts
  *    AFTER — EXCLUSIVE: the named version's own changes are never
  *    emitted; the first batch is changeFeed(startingVersion, next).
  *    (Delta's option of the same name is inclusive — ours anchors on
  *    the snapshot you already hold, which is what a caught-up batch
  *    consumer hands over.) Must be a retained manifest version; a
  *    vacuumed start fails loudly, never silently skips.
  *  - `startingTimestamp` (mutually exclusive with startingVersion):
  *    the stream starts after the newest version whose commit
  *    (manifest mtime) is <= the timestamp — the batch TIMESTAMP AS
  *    OF resolution reused for the stream's zero point. A timestamp
  *    before the first commit fails loudly (there is no pre-history
  *    snapshot to diff against), as does one on a table with no
  *    manifest history.
  *  - `maxVersionsPerTrigger` bounds admission: each getOffset
  *    advances at most that many versions. DEFAULT 1 — one
  *    micro-batch per commit, so `_commit_version` /
  *    `_commit_timestamp` are exact per-commit attribution out of
  *    the box (Delta-CDF parity) and a backlog drains version by
  *    version. Raising it is the explicit opt-in to NET catch-up: a
  *    multi-version batch emits the net change between its two
  *    snapshot endpoints (same semantics as batch changeFeed(a, b))
  *    and stamps every row with the range's END — faster (IO stays
  *    O(changed files), intermediate insert-then-delete cancels) but
  *    endpoint-attributed.
  *  - Restart safety: the stream's zero point persists under the
  *    query's own checkpoint metadata (`<metadataPath>/graft-cdc-start`
  *    — the Kafka/File-source pattern), so a restarted source never
  *    recomputes "latest" as its start (which would silently mark
  *    versions committed before the crash-window as already covered);
  *    the offset json additionally carries that zero point, so the
  *    first batch's lower endpoint replays from the checkpoint, and
  *    the engine's recovery getBatch / commit callbacks re-home
  *    `lastPlanned` before any new offset is handed out. A
  *    `startingVersion` option on an EXISTING checkpoint is ignored
  *    in favor of the persisted one (the Kafka startingOffsets
  *    contract).
  * V1 Source (not DSv2): `getBatch` must return the multiset-diff
  * composition as one DataFrame — the same reason the batch public
  * spelling rewrites through ChangeFeedRewrite. */
private[graft] class GlogChangeFeedSource(spark: SparkSession, path: String,
    metadataPath: String,
    startingVersion: Option[Long], startingTimestampMs: Option[Long],
    maxVersionsPerTrigger: Option[Long])
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}

  private def dir = GraftLogSource.resolveDir(path)
  // one Hadoop-conf copy per query, as in GlogScan.scanConf
  @transient private lazy val conf: Configuration = GraftLogSource.driverHadoopConf()

  /** The stream's zero point: changes BEFORE it are never emitted.
    * Computed once per CHECKPOINT (not per source instance) and
    * persisted via publish-if-absent; the read-back after a lost
    * publish race keeps concurrent instances agreeing. */
  private val initV: Long = {
    val marker = new Path(metadataPath, "graft-cdc-start")
    val fs = GraftLogSource.fsFor(marker, conf)
    def readBack(): Long = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(marker), java.nio.charset.StandardCharsets.UTF_8))
      try in.readLine().trim.toLong finally in.close()
    }
    if (fs.exists(marker)) readBack()
    else {
      val vs = GraftLogSource.manifestVersions(dir, conf)
      require(vs.nonEmpty,
        s"glog readChangeFeed: $path has no manifest history — the change " +
          "feed is defined over committed manifest versions (write through " +
          "the connector once, or stream the plain append feed instead)")
      require(startingVersion.isEmpty || startingTimestampMs.isEmpty,
        "glog readChangeFeed: startingVersion and startingTimestamp are " +
          "mutually exclusive — pass one anchor, not both")
      val v = (startingVersion, startingTimestampMs) match {
        case (Some(want), _) =>
          require(vs.contains(want),
            s"glog readChangeFeed: startingVersion $want is not a retained " +
              s"manifest version of $path (available: ${vs.head}..${vs.last}; " +
              "older versions may have been vacuumed)")
          want
        case (None, Some(ts)) =>
          // the TIMESTAMP AS OF resolution reused for the stream's
          // zero point — the stream starts AFTER that snapshot (same
          // exclusivity as startingVersion)
          GraftLogSource.versionAtTimestamp(dir, conf, ts,
            "startingTimestamp")
        case (None, None) => vs.max
      }
      fs.mkdirs(marker.getParent): Unit
      GraftLogSource.publishTextIfAbsent(fs, marker, s"$v\n"): Unit
      readBack()
    }
  }

  /** Versions whose changes are already planned into offsets —
    * re-homed by recovery getBatch/commit on restart. */
  @volatile private var lastPlanned: Long = initV

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case g: GlogCdcOffset => g.v
      case other => GlogCdcOffset.parse(other.json()).v
    }

  override def schema: StructType = GraftLogSource.ChangeFeedSchema

  /** Trigger.AvailableNow: freeze the drain END at start (committed
    * versions are immutable, so freezing the version freezes the
    * backlog). Implemented HERE rather than through Spark's generic
    * V1 AvailableNowSourceWrapper because the wrapper snapshots ONE
    * getOffset result as the terminal offset — it would turn a
    * maxVersionsPerTrigger-paced drain into a single unbounded batch.
    * With the native implementation the engine keeps triggering and
    * [[getOffset]] advances budget-by-budget to the frozen end, so
    * AvailableNow drains paced AND terminates (spec-asserted). */
  @volatile private var frozenEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(GraftLogSource.manifestVersions(dir, conf)
      .lastOption.getOrElse(initV))

  private def nextTarget(): Option[GlogCdcOffset] = {
    val latest = frozenEnd.getOrElse(
      GraftLogSource.manifestVersions(dir, conf).lastOption.getOrElse(initV))
    // DEFAULT 1: per-commit batches — every row's _commit_version /
    // _commit_timestamp is exact per-commit attribution out of the
    // box (Delta-CDF parity); a backlog drains one version per
    // trigger. Raising the budget is the explicit opt-in to faster
    // NET catch-up batches with documented endpoint stamping.
    val budget = maxVersionsPerTrigger.getOrElse(1L)
    val target =
      if (latest - lastPlanned <= budget) math.max(latest, lastPlanned)
      else lastPlanned + budget // admission: at most `budget` versions/trigger
    if (target > lastPlanned) lastPlanned = target
    if (lastPlanned > initV) Some(new GlogCdcOffset(initV, lastPlanned)) else None
  }

  override def getOffset: Option[OffsetV1] = nextTarget()

  // SupportsAdmissionControl spelling of the same advance (the engine
  // prefers this over getOffset once the interface is present): the
  // budget is the source's own option, so the default read limit
  // stays allAvailable and `limit` needs no interpretation.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    if (start != null) { // re-home on the engine's own notion of progress
      try { val v = versionOf(start); if (v > lastPlanned) lastPlanned = v }
      catch { case _: IllegalArgumentException => }
    }
    nextTarget().orNull
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1)
      : org.apache.spark.sql.DataFrame = {
    val to = versionOf(end)
    // the lower endpoint: the previous batch's end; for the FIRST
    // batch, the starting version RECORDED IN THE OFFSET (a restart
    // must replay the checkpointed range, not a recomputed "latest")
    val from = start.map(versionOf).getOrElse(end match {
      case g: GlogCdcOffset => g.init
      case other => GlogCdcOffset.parse(other.json()).init
    })
    // restart recovery: the engine replays the last batch (and commits
    // the restored offset) before asking for new ones — never hand out
    // an offset below what the checkpoint already covers
    if (to > lastPlanned) lastPlanned = to
    // the V1 contract: the returned plan must carry isStreaming=true
    org.apache.spark.sql.graftshim.StreamBridge.asStreaming(spark,
      GraftLogSource.changeFeed(spark, path, from, to))
  }

  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = {
    val v = versionOf(end)
    if (v > lastPlanned) lastPlanned = v
  }

  override def stop(): Unit = ()
  override def toString: String = s"GlogChangeFeedSource($path from v$initV)"
}

/** Offset of [[GlogChangeFeedSource]]: the covered end version plus
  * the stream's own starting version (so a restarted query replays
  * its first range from the checkpoint — see getBatch). */
private[graft] class GlogCdcOffset(val init: Long, val v: Long)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json(): String = s"""{"init":$init,"v":$v}"""
  // equals/hashCode: INHERITED json-equality from the Offset base
  // class — a class-matching override would break symmetry with a
  // checkpoint-restored SerializedOffset (it equals us by json, we
  // would not equal it), which a direction-sensitive engine compare
  // could read as spurious new data after a restart
}

private[graft] object GlogCdcOffset {
  private val Json = """\{"init":(\d+),"v":(\d+)\}""".r
  def parse(json: String): GlogCdcOffset = json.trim match {
    case Json(i, v) => new GlogCdcOffset(i.toLong, v.toLong)
    case other => throw new IllegalArgumentException(
      s"glog: unparseable change-feed stream offset '$other'")
  }
}

private[sources] class GlogTable(path: String, pushdown: Boolean,
    tableProps: Map[String, String] = Map.empty,
    pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  require(path != null, "graft-log source requires option(\"path\", dir)")
  override def name(): String =
    s"glog($path)" + pinnedVersion.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = GraftLogSource.SchemaFixed
  /** Durable TBLPROPERTIES (catalog tables: loaded from the
    * `_glog.table` marker) plus the provider tag. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "glog"): Unit
    tableProps.foreach { case (k, v) => m.put(k, v): Unit }
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // timestampAsOf: the reader-option spelling of the catalog's
    // TIMESTAMP AS OF — resolved HERE (planning time, one listing +
    // stat pass) to a pinned version so everything downstream is the
    // one versionAsOf code path
    val tsPin = Option(options.get("timestampAsOf")).map { s =>
      require(options.get("versionAsOf") == null,
        "glog: versionAsOf and timestampAsOf are mutually exclusive — " +
          "pin the snapshot one way")
      GraftLogSource.versionAtTimestamp(GraftLogSource.resolveDir(path),
        GraftLogSource.driverHadoopConf(),
        GraftLogSource.parseTimestampMs("timestampAsOf", s), "timestampAsOf")
    }
    new GlogScanBuilder(path, pushdown,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      versionAsOf = pinnedVersion
        .orElse(Option(options.get("versionAsOf")).map(_.toLong))
        .orElse(tsPin),
      filesOf = Option(options.get("filesOf")).map(s =>
        s.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet),
      ignoreChanges = options.getBoolean("ignoreChanges", false))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"glog: cannot write to the time-travel snapshot ${name()} — " +
        "writes go to the live table")
    new GlogWriteBuilder(path, info.schema(),
      "true".equalsIgnoreCase(info.options().getOrDefault("clustered", "false")))
  }

  /** SQL `DELETE FROM ... WHERE ...` (SupportsDelete) — metadata-only
    * where the zone map proves a file can hold no match (the common
    * retention-window case drops whole low-value/old files from the
    * manifest without opening them); otherwise survivors rewrite
    * COPY-ON-WRITE to fresh part files with TIGHT recomputed bounds
    * (see [[GraftLogSource.deleteMatchingStaged]]). The statement
    * commits as ONE manifest CAS — readers see it entirely or not at
    * all; a crash beforehand leaves the table untouched and the
    * DELETE re-runs idempotently.
    *
    * `canDeleteWhere` is a MEASURED-COST dispatch, not just a shape
    * check: this path opens affected files on the DRIVER, which is
    * the right trade only while the zone map bounds that work to a
    * handful of boundary files (the clustered-layout contract).
    * When the predicate shape is unsupported OR the zone map keeps
    * more than [[GraftLogSource.MaxDriverDeleteFiles]] files, it
    * returns false and Spark routes the SAME statement through the
    * copy-on-write row-level path below — executor-parallel file
    * rewrites — instead of serializing 100 TB of rewrites through
    * the driver. Same discipline as the triangle-count broadcast
    * gates: choose the physical route by measured cost, never
    * unconditionally. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val norm = GraftLogSource.normalizeTsFilters(filters)
    norm.forall(GraftLogSource.pushable) && {
      val (affected, _) = GraftLogSource.listCommitted(
        GraftLogSource.resolveDir(path), GraftLogSource.driverHadoopConf(),
        norm.toSeq)
      affected.length <= GraftLogSource.MaxDriverDeleteFiles
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"glog: DML against the time-travel snapshot ${name()} is not allowed")
    GraftLogSource.deleteMatching(GraftLogSource.resolveDir(path),
      GraftLogSource.normalizeTsFilters(filters))
  }

  /** SQL `TRUNCATE TABLE`: METADATA-ONLY — one manifest CAS commits
    * an empty live set (readers atomically see an empty table) and no
    * file is ever opened or unlinked (the SupportsDelete default
    * would route through deleteWhere(AlwaysTrue) and pointlessly
    * rewrite 100 TB on the driver). Like DML, the displaced files
    * stay on disk as snapshot orphans — time travel to pre-truncate
    * versions keeps working and a concurrent appender's
    * claimed-but-uncommitted files are never yanked out from under
    * its manifest CAS; [[GraftLogSource.vacuum]] reclaims the bytes. */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"glog: TRUNCATE against the time-travel snapshot ${name()} is not allowed")
    GraftLogSource.commitManifest(GraftLogSource.resolveDir(path),
      GraftLogSource.driverHadoopConf())(_ => Seq.empty): Unit
    true
  }

  /** SQL UPDATE / MERGE INTO (and DELETE with predicates
    * SupportsDelete cannot evaluate) via group-based copy-on-write
    * row-level operations: the operation's scan zone-prunes to the
    * AFFECTED files but emits them complete (readers drop nothing —
    * untouched rows of a rewritten file must carry over), records
    * exactly which files it planned, and the paired write stages
    * replacement files through the normal task-commit protocol; job
    * commit atomically swaps the recorded group files for the staged
    * ones. A crash before commit leaves the table untouched; the
    * statement re-runs idempotently. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"glog: DML against the time-travel snapshot ${name()} is not allowed")
    () => new GlogRowLevelOperation(path, info.command())
  }

  /** `_file` metadata column (SupportsMetadataColumns): the committed
    * file name serving each row — the lineage/debugging handle every
    * file-based deployment reaches for (`SELECT _file, count(*) ...`
    * to find a corrupt shard). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def comment(): String = "glog file name serving the row"
    })
}

private[graft] class GlogScanBuilder(path: String, pushdown: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    groupScan: Option[java.util.Set[String]] = None,
    runtimeFilterable: Boolean = true,
    versionAsOf: Option[Long] = None,
    filesOf: Option[Set[String]] = None,
    ignoreChanges: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftLogSource.SchemaFixed
  private var limit: Int = -1
  private var topN: Option[(String, Boolean, Int)] = None

  /** `ORDER BY <col> LIMIT k` (SupportsPushDownTopN, PARTIAL): each
    * reader keeps only its k best rows in a bounded heap instead of
    * emitting the whole split — Spark still runs the global
    * TakeOrdered merge (isPartiallyPushed), so this is an
    * optimization with the engine's correctness net, the same
    * discipline as the residual filters. Accepted only for a
    * single-column ordering on a parsed column; the format is dense
    * (no nulls), so any null ordering is equivalent. Group scans
    * decline (rewrites must carry complete files). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    if (!pushdown || groupScan.isDefined || orders.length != 1 || l <= 0)
      return false
    val o = orders(0)
    val colName = o.expression() match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    // numeric columns only: their total order is unambiguous (longs
    // exact, doubles via the NaN-aware cmp). String columns decline —
    // a reader-side collation that disagreed with Spark's binary
    // ordering on exotic code points could evict a true top-k row,
    // and partial pushdown must never change results. The heap is
    // O(k) memory per reader, so unbounded limits decline too.
    if (!Set("event_id", "ts", "user_id", "value").contains(colName) ||
      l > 100000) return false
    val asc = o.direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
    topN = Some((colName, asc, l))
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (pushdown) pushed = GraftLogSource.normalizeTsFilters(filters)
      .filter(GraftLogSource.pushable)
    // everything stays residual: Spark re-evaluates all filters
    // post-scan, so reader-side pruning is an optimization with an
    // engine-enforced correctness net (parquet does the same)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (pushdown) requiredSchema
      // foil mode still must honor a requested metadata column — only
      // data-column pruning is being A/B'd
      else StructType(GraftLogSource.SchemaFixed.fields ++
        requiredSchema.fields.filter(_.name == "_file"))

  override def pushLimit(l: Int): Boolean = {
    if (pushdown) { limit = l; true } else false
  }

  override def build(): Scan =
    if (runtimeFilterable)
      new GlogRuntimeFilterableScan(path, pushdown, required, pushed, limit,
        topN, maxFilesPerTrigger, groupScan, versionAsOf, filesOf,
        ignoreChanges)
    else
      new GlogScan(path, pushdown, required, pushed, limit,
        topN, maxFilesPerTrigger, groupScan, versionAsOf, filesOf,
        ignoreChanges)
}

/** The default scan shape: [[GlogScan]] plus the
  * SupportsRuntimeV2Filtering marker. Split into a subclass because
  * the MERGE row-level scan must NOT advertise the interface — a
  * MERGE source can legally reference the target table itself, and
  * Spark's runtime group-filter rule then injects a subquery over
  * the deduplicated self-reference that its own planner cannot plan
  * ("No plan for TableReference", an upstream edge). UPDATE/DELETE
  * group scans and every regular batch scan keep the interface. */
private[sources] class GlogRuntimeFilterableScan(path: String,
    pushdown: Boolean, required: StructType,
    pushed: Array[Filter], limit: Int,
    topN: Option[(String, Boolean, Int)],
    maxFilesPerTrigger: Option[Int],
    groupScan: Option[java.util.Set[String]],
    versionAsOf: Option[Long] = None,
    filesOf: Option[Set[String]] = None,
    ignoreChanges: Boolean = false)
    extends GlogScan(path, pushdown, required, pushed, limit,
      topN, maxFilesPerTrigger, groupScan, versionAsOf, filesOf,
      ignoreChanges)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering

private[sources] class GlogScan(path: String, pushdown: Boolean,
    required: StructType,
    pushed: Array[Filter], limit: Int,
    topN: Option[(String, Boolean, Int)] = None,
    maxFilesPerTrigger: Option[Int] = None,
    groupScan: Option[java.util.Set[String]] = None,
    versionAsOf: Option[Long] = None,
    filesOf: Option[Set[String]] = None,
    ignoreChanges: Boolean = false)
    extends Scan with SupportsReportStatistics {

  /** Filters delivered AFTER planning by SupportsRuntimeV2Filtering
    * (dynamic partition pruning / runtime group filtering). Spark
    * calls `filter` then re-plans partitions via a fresh `toBatch`,
    * so these participate in zone-map file pruning and reader-side
    * row pruning exactly like statically pushed filters. */
  private var runtimeFilters: Array[Filter] = Array.empty
  /** Runtime `_file` group restriction (row-level DML only): the set
    * of file names the runtime subquery proved affected. */
  private var runtimeFileNames: Option[Set[String]] = None

  /** The join/pruning keys a runtime filter may arrive on. `value`
    * additionally prunes whole files through the zone map; the
    * others prune rows inside the readers before any shuffle. The
    * row-level DML scan also accepts `_file` — Spark's runtime
    * group filtering (the Iceberg-style copy-on-write narrowing)
    * then restricts the rewrite to files that truly contain
    * matches, even for predicates the format cannot evaluate
    * row-wise. The pushdown=false foil declines runtime filters
    * too (the A/B must isolate ALL connector-side pruning). */
  def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!pushdown) Array.empty
    else if (groupScan.isDefined)
      // the row-level (group) scan reports ONLY `_file`: runtime
      // group filtering combines EVERY reported attribute into one
      // composite struct-IN key, and a multi-attribute struct does
      // not survive the v2 runtime-filter translation — one name,
      // one translatable IN list of affected file names
      (if (required.fieldNames.contains("_file"))
        Array("_file") else Array.empty[String])
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    else {
      // only columns present in the (pruned) output — Spark resolves
      // these against the scan relation and fails on absent names
      val avail = required.fieldNames.toSet
      Array("value", "user_id", "event_type").filter(avail)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    }

  def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val v1 = predicates.flatMap(GraftLogSource.v2PredicateToV1)
    runtimeFileNames = v1.collectFirst {
      case In("_file", vs) => vs.collect { case s: String => s }.toSet
    }
    runtimeFilters = v1.filter {
      case In("_file", _) => false
      case f => GraftLogSource.pushable(f)
    }
    val dir = GraftLogSource.resolveDir(path)
    GraftLogSource.runtimeFilterCensus.put(
      GraftLogSource.censusKey(dir,
        GraftLogSource.fsFor(dir, scanConf)), v1)
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"glog path=$path, PushedFilters=[${pushed.mkString(", ")}], " +
      s"ReadSchema=${required.fieldNames.mkString(",")}" +
      (if (limit >= 0) s", PushedLimit=$limit" else "")

  // one Hadoop-conf clone per scan, not per planning touch: the scan
  // lives on the driver and the conf is immutable for its lifetime
  // (newHadoopConf() copies thousands of entries)
  @transient private lazy val scanConf: Configuration =
    GraftLogSource.driverHadoopConf()

  private def allFilters: Array[Filter] = pushed ++ runtimeFilters

  private def listKept(): (Array[FileStatus], Int) = {
    val (kept, total) = GraftLogSource.listCommitted(
      GraftLogSource.resolveDir(path),
      scanConf, allFilters.toSeq, versionAsOf)
    // `filesOf` (a STATIC planning-time file restriction, the explicit
    // option twin of the runtime `_file` group filter): the scan plans
    // only the named live files — how the change feed reads exactly
    // the files a manifest diff proved changed, O(delta) not O(table).
    // An empty set is a valid restriction (zero files planned).
    val statik = filesOf match {
      case Some(names) => kept.filter(s => names.contains(s.getPath.getName))
      case None => kept
    }
    runtimeFileNames match {
      case Some(names) => (statik.filter(s => names.contains(s.getPath.getName)), total)
      case None => (statik, total)
    }
  }

  /** Average committed line width, estimated ONCE per scan from the
    * head of the first committed file (one bounded 8 KB driver read)
    * — turns the byte census into a row-count ESTIMATE for CBO
    * without paying a remote open on every stats consultation. */
  @transient private lazy val sampledLineWidth: Option[Double] = {
    val (all, _) = GraftLogSource.listCommitted(
      GraftLogSource.resolveDir(path), scanConf, Seq.empty)
    all.headOption.flatMap { s =>
      val fs = GraftLogSource.fsFor(s.getPath, scanConf)
      val in = fs.open(s.getPath)
      try {
        val buf = new Array[Byte](8192)
        val n = in.read(buf)
        if (n <= 0) None
        else {
          val lines = buf.take(n).count(_ == '\n'.toByte)
          if (lines == 0) None else Some(n.toDouble / lines)
        }
      } finally in.close()
    }
  }

  override def estimateStatistics(): Statistics = {
    val (kept, _) = listKept()
    val bytes = kept.map(_.getLen).sum
    // schema-proportional byte estimate after column pruning, the
    // same shape FileScan reports; rows ≈ bytes / avg line width
    val frac = math.max(1, required.length).toDouble / GraftLogSource.SchemaFixed.length
    val rows = sampledLineWidth
      .map(w => math.max(1L, math.round(bytes / w)))
    // `value` min/max straight off the zone-map names — column
    // statistics the planner gets for FREE, no ANALYZE scan
    // (copy-on-write DML recomputes bounds tight; estimates, not
    // proofs). The pushdown=false foil reports bytes only.
    val valueBounds: Option[(Double, Double)] = {
      val bs = kept.flatMap(s => GraftLogSource.minMaxFromName(s.getPath.getName))
      if (bs.isEmpty) None else Some((bs.map(_._1).min, bs.map(_._2).max))
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, (bytes * frac).toLong))
      override def numRows(): java.util.OptionalLong =
        if (pushdown) rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        if (pushdown) valueBounds.foreach { case (mn, mx) =>
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column("value"),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                java.util.Optional.of(Double.box(mn))
              override def max(): java.util.Optional[Object] =
                java.util.Optional.of(Double.box(mx))
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(0L) // format is dense
              // near-unique measurement column: ndv ≈ rows. CBO's
              // FilterEstimation REQUIRES a distinct count before it
              // will interpolate range selectivity from min/max —
              // without it the bounds above are dead weight.
              override def distinctCount(): java.util.OptionalLong =
                rows.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def avgLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(8L)
              override def maxLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(8L)
            })
        }
        m
      }
    }
  }

  override def toBatch: Batch = {
    val conf = scanConf
    val dir = GraftLogSource.resolveDir(path)
    val (kept, total) = listKept()
    // key by the NORMALIZED path: catalog reads hand the scan a
    // file: URI while callers look up by plain absolute path.
    // (Re-planning after a runtime filter overwrites the entry with
    // the post-runtime census — what the measured entries read.)
    GraftLogSource.planCensus.put(
      GraftLogSource.censusKey(dir, GraftLogSource.fsFor(dir, conf)),
      (total, kept.length, required.length))
    // group mode (row-level UPDATE/MERGE/DELETE rewrite): record the
    // affected files for the paired ReplaceGroups commit, and emit
    // COMPLETE groups — zone-map (and runtime-group) file pruning
    // still applies, but the readers must not drop rows
    // (non-matching rows of a rewritten file have to be carried
    // over)
    // clear-then-populate: a runtime group filter re-plans this batch
    // with a SMALLER kept set, and commit must only swap files that
    // were actually rewritten — a stale superset here would unlink
    // files whose replacement was never staged (data loss)
    groupScan.foreach { set =>
      set.clear(); kept.foreach(s => set.add(s.getPath.toString))
    }
    val readerFilters = if (groupScan.isDefined) Array.empty[Filter] else allFilters
    val confS = new SerializableConf(conf)
    new Batch {
      // reader filters ride the PARTITION, not the factory: after a
      // runtime filter arrives, Spark re-plans partitions through a
      // fresh toBatch but keeps the factory it built at planning
      // time — filters baked into the factory would silently miss
      // the runtime additions
      override def planInputPartitions(): Array[InputPartition] =
        kept.map(s =>
          GlogPartition(s.getPath.toString, readerFilters): InputPartition)
      override def createReaderFactory(): PartitionReaderFactory =
        new GlogReaderFactory(required.fieldNames, limit, topN, confS)
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GlogRowsMetric)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(versionAsOf.isEmpty && filesOf.isEmpty,
      "glog: versionAsOf/filesOf are batch-read options; a stream " +
        "follows the live manifest")
    new GlogMicroBatchStream(path, required, pushed, maxFilesPerTrigger,
      ignoreChanges)
  }
}

/** Streaming read: offsets follow the MANIFEST VERSION HISTORY — the
  * same ledger every batch reader resolves through — as
  * (anchor, version, files consumed within that version's add-list):
  *  - `anchor` is the version whose FULL snapshot was this stream's
  *    initial backlog (recorded in the offset so the add-list is a
  *    pure function of the offset across restarts);
  *  - an APPEND commit's adds are new rows, emitted in part-index
  *    order and admission-bounded (`maxFilesPerTrigger` splits a
  *    large commit across micro-batches via the intra-version index);
  *  - a REPLACE commit (DELETE/UPDATE/MERGE/compact — any version
  *    that drops live names) breaks the append contract. Default is
  *    to FAIL LOUDLY on one (the same contract as Spark's Delta-style
  *    file sources); `option("ignoreChanges", "true")` RE-EMITS the
  *    commit's added files instead (Delta's ignoreChanges semantics:
  *    rewritten rows arrive again — at-least-once duplicates — but
  *    rows a REPLACE WHERE genuinely inserted are never lost; removed
  *    rows are never emitted). A row-level consumer that needs exact
  *    inserts AND deletes streams with `option("readChangeFeed",
  *    "true")` (see [[GlogChangeFeedSource]]) or reads batch
  *    [[GraftLogSource.changeFeed]].
  * Because replaced files stay on disk as snapshot orphans until
  * [[GraftLogSource.vacuum]], a stream that is BEHIND keeps reading
  * the exact files its offsets pinned — compaction no longer
  * invalidates streaming checkpoints (spec: compact mid-stream, the
  * drain continues and totals match). Vacuuming history out from
  * under a lagging stream fails loudly, never drops rows silently.
  * A directory with no manifest history streams the raw
  * part-index-sorted listing as version 0 (fixture/back-compat mode
  * — the numeric index keeps the sequence stable past part-9999);
  * when a first manifest appears, the consumed prefix carries over
  * (adopted baseline files keep the lowest part indices, so they are
  * a prefix of the snapshot's listing order). Trigger.AvailableNow
  * freezes the backlog end (version, add-count) at start so the
  * query drains in bounded batches and terminates. Pushed filters
  * and the zone map apply per batch: a batch whose files all miss
  * the predicate plans zero partitions but still advances the
  * offset. Resolution cost: one manifest-chain resolve per version
  * per poll (bounded by the checkpoint interval), driver-side. */
private[graft] class GlogOffset(val anchor: Long, val v: Long, val i: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  /** Baseline-mode convenience (fixture dirs, legacy checkpoints). */
  def this(n: Int) = this(0L, 0L, n)
  override def json(): String = s"""{"a":$anchor,"v":$v,"i":$i}"""
  // equals/hashCode: inherited json-equality (see GlogCdcOffset —
  // symmetry with checkpoint-restored SerializedOffsets)
}

private[graft] object GlogOffset {
  private val Json = """\{"a":(\d+),"v":(\d+),"i":(\d+)\}""".r
  def parse(json: String): GlogOffset = json.trim match {
    case Json(a, v, i) => new GlogOffset(a.toLong, v.toLong, i.toInt)
    // pre-version-offset checkpoint: a plain baseline index
    case n if n.toIntOption.isDefined => new GlogOffset(n.toInt)
    case other => throw new IllegalArgumentException(
      s"glog: unparseable stream offset '$other'")
  }
}

private[sources] class GlogMicroBatchStream(path: String,
    required: StructType, pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int], ignoreChanges: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def dir = GraftLogSource.resolveDir(path)
  // one Hadoop-conf copy per query, as in GlogScan.scanConf
  @transient private lazy val conf: Configuration = GraftLogSource.driverHadoopConf()

  private def sortedNamesAt(v: Long): Seq[String] =
    GraftLogSource.liveSnapshot(dir, conf, Some(v)).get._2
      .sortBy(GraftLogSource.listingOrder)

  private def baselineNames(): Seq[String] =
    GraftLogSource.listCommitted(dir, conf, Seq.empty)._1
      .map(_.getPath.getName).toSeq

  /** Per-stream memo of [[addsOf]]: committed versions are IMMUTABLE,
    * so an add-list never changes once computed — without this a
    * frequent-trigger stream would re-resolve the manifest chain
    * (O(live files) text) on every poll. Driver-side, bounded. */
  private val addsMemo =
    new java.util.LinkedHashMap[(Long, Long), Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Long), Seq[String]]): Boolean =
        size() > 256
    }

  /** The add-list of offset position (anchor, v): the full snapshot
    * at the anchor (this stream's initial backlog), the name diff vs
    * v-1 after it. Versions that also REMOVE names are replace
    * commits — loud by default, empty under ignoreChanges. Memoized
    * (immutable versions) except the mutable version-0 baseline. */
  private def addsOf(anchor: Long, v: Long): Seq[String] =
    if (v == 0L) baselineNames()
    else addsMemo.synchronized {
      val got = addsMemo.get((anchor, v))
      if (got != null) got
      else {
        val computed = computeAddsOf(anchor, v)
        addsMemo.put((anchor, v), computed): Unit
        computed
      }
    }

  private def computeAddsOf(anchor: Long, v: Long): Seq[String] =
    if (v == anchor) sortedNamesAt(v)
    else {
      val prev = sortedNamesAt(v - 1)
      val cur = sortedNamesAt(v)
      val curSet = cur.toSet
      val removed = prev.filterNot(curSet)
      if (removed.nonEmpty && !ignoreChanges)
        throw new IllegalStateException(
          s"glog stream: manifest version $v of $path replaced/removed " +
            s"files (DML or compaction; e.g. ${removed.take(2).mkString(", ")}). " +
            "A glog stream is an append feed: restart from a fresh " +
            "checkpoint for a new snapshot, set " +
            "option(\"ignoreChanges\", \"true\") to RE-EMIT replace " +
            "commits' added files (rewritten rows then arrive again — " +
            "at-least-once, the Delta ignoreChanges contract — but rows a " +
            "REPLACE WHERE genuinely inserted are never lost; deletes are " +
            "never emitted), or read the row-level change feed " +
            "(option(\"readChangeFeed\", \"true\") / " +
            "GraftLogSource.changeFeed) for exact inserts AND deletes")
      // under ignoreChanges a replace commit's ADDS are emitted like an
      // append's: a pure rewrite (DELETE/UPDATE/compact) re-delivers
      // carried rows (documented duplicates), while a REPLACE WHERE's
      // genuinely-new rows are delivered instead of silently lost —
      // trading duplicates for no loss, exactly Delta's ignoreChanges
      val prevSet = prev.toSet
      cur.filterNot(prevSet)
    }

  /** Normalize a pre-manifest offset once manifests exist: the
    * adopted baseline is a PREFIX of the oldest version's listing
    * order (baseline files keep the lowest part indices under every
    * append/DML path — commitManifest adopts the raw listing as its
    * version-1 base and claim-renames allocate only higher indices),
    * so the consumed count carries over. Contract: the one commit
    * shape that DISCARDS the baseline instead of adopting it —
    * SaveMode.Overwrite as a pre-manifest directory's FIRST manifest
    * commit — replaces already-streamed rows, and because no prior
    * manifest exists to diff against, the stream cannot detect it
    * (the carried-over count would mis-apply to the new generation).
    * Do not overwrite a pre-manifest directory under an active
    * stream; manifest-era overwrites are detected and fail loudly
    * like every replace commit. */
  private def normalize(o: GlogOffset): GlogOffset = {
    val n =
      if (o.anchor != 0L) o
      else {
        val vs = GraftLogSource.manifestVersions(dir, conf)
        if (vs.isEmpty) o else new GlogOffset(vs.head, vs.head, o.i)
      }
    if (n.anchor != 0L) lastSeenAnchor = n.anchor
    n
  }

  // Trigger.AvailableNow: freeze the backlog END at start so the
  // query terminates even if commits keep landing. Committed versions
  // are IMMUTABLE, so freezing the end version freezes the backlog;
  // only the pre-manifest baseline (a mutable raw listing) also needs
  // its file count frozen.
  @volatile private var frozenEnd: Option[(Long, Int)] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(
      GraftLogSource.manifestVersions(dir, conf).lastOption match {
        case Some(last) => (last, -1)
        case None => (0L, baselineNames().length)
      })

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = {
    val vs = GraftLogSource.manifestVersions(dir, conf)
    vs.lastOption match {
      case Some(latest) => new GlogOffset(latest, latest, 0)
      case None => new GlogOffset(0)
    }
  }
  override def deserializeOffset(json: String): Offset = GlogOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Advance `from` by up to `budget` files toward the backlog end. */
  private def advance(from: GlogOffset, budget: Long): GlogOffset = {
    val s = normalize(from)
    val memo = scala.collection.mutable.Map.empty[Long, Seq[String]]
    def adds(v: Long): Seq[String] =
      memo.getOrElseUpdate(v, addsOf(s.anchor, v))
    val (endV, baseCap) = frozenEnd match {
      case Some((v0, n)) => (v0, if (v0 == 0L) Some(n) else None)
      case None =>
        val vs = GraftLogSource.manifestVersions(dir, conf)
        if (vs.isEmpty || s.anchor == 0L) (0L, None) else (vs.last, None)
    }
    if (s.v > endV) return s
    var v = s.v
    var i = s.i
    var left = budget
    var continue = true
    while (continue) {
      val total =
        if (v == 0L) baseCap.getOrElse(baselineNames().length)
        else adds(v).length
      val take = math.min(left, math.max(0, total - i).toLong).toInt
      i += take
      left -= take
      if (i >= total && v < endV && left > 0) { v += 1; i = 0 }
      else continue = false
    }
    new GlogOffset(s.anchor, v, i)
  }

  override def latestOffset(): Offset = reportLatestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val budget = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        mf.maxFiles().toLong
      case _ => Long.MaxValue
    }
    advance(start.asInstanceOf[GlogOffset], budget)
  }

  /** Informational (progress/lag reporting): the TRUE end of the
    * backlog — the newest version with its FULL add-list consumed —
    * under this stream's own anchor, so the reported offset is
    * comparable with the offsets the stream actually advances through
    * (an i=0 report would place a fully-caught-up stream "ahead of"
    * latest; a foreign anchor would make the comparison meaningless).
    * The add-list resolve is memoized (immutable versions) and this
    * path must stay non-throwing, so a replace commit under the
    * default fail-loud contract degrades to i=0 here rather than
    * failing a progress report. */
  override def reportLatestOffset(): Offset = {
    val vs = GraftLogSource.manifestVersions(dir, conf)
    vs.lastOption match {
      case Some(last) =>
        val anchor = lastSeenAnchor match {
          case a if a > 0L && vs.contains(a) => a
          case _ => vs.head
        }
        val n =
          try addsOf(anchor, last).length
          catch { case _: Exception => 0 } // informational, never throws
        new GlogOffset(anchor, last, n)
      case None => new GlogOffset(0L, 0L, baselineNames().length)
    }
  }

  /** The anchor of the offsets this stream actually runs on (set by
    * [[normalize]]) — [[reportLatestOffset]] uses it so progress
    * reports compare against real offsets. */
  @volatile private var lastSeenAnchor: Long = 0L

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = normalize(start.asInstanceOf[GlogOffset])
    val b = normalize(end.asInstanceOf[GlogOffset])
    val names = Seq.newBuilder[String]
    var v = a.v
    while (v <= b.v) {
      val adds = addsOf(b.anchor, v)
      val lo = if (v == a.v) a.i else 0
      val hi = if (v == b.v) b.i else adds.length
      require(hi <= adds.length,
        s"glog streaming offset (v=$v, i=$hi) exceeds the ${adds.length}-file " +
          s"add-list: the directory shrank mid-stream under $path")
      names ++= adds.slice(lo, hi)
      v += 1
    }
    names.result()
      .filter { n =>
        GraftLogSource.minMaxFromName(n) match {
          case Some((mn, mx)) => GraftLogSource.zoneMapKeeps(mn, mx, pushed.toSeq)
          case None => true
        }
      }
      .map(n => GlogPartition(new Path(dir, n).toString, pushed): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GlogReaderFactory(required.fieldNames, -1, None, new SerializableConf(conf))
}

private[sources] class GlogRowsMetric extends CustomSumMetric {
  override def name(): String = "rowsEmitted"
  override def description(): String = "rows emitted by glog readers"
}

private[sources] case class GlogPartition(file: String,
    filters: Array[Filter]) extends InputPartition

private[sources] class GlogReaderFactory(fields: Array[String],
    limit: Int, topN: Option[(String, Boolean, Int)], confS: SerializableConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GlogPartition]
    new GlogReader(p.file, fields, p.filters, limit, topN, confS)
  }
}

private[sources] class GlogReader(file: String, fields: Array[String],
    pushed: Array[Filter], limit: Int,
    topN: Option[(String, Boolean, Int)], confS: SerializableConf)
    extends PartitionReader[InternalRow] {

  private val filePath = new Path(file)
  private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
    GraftLogSource.fsFor(filePath, confS.value).open(filePath),
    java.nio.charset.StandardCharsets.UTF_8))
  private val fileNameUtf8 = UTF8String.fromString(filePath.getName)
  private var current: InternalRow = _
  private var emitted = 0L

  // hot-loop plan, computed ONCE per split: which source columns to
  // actually parse (projection ∪ pushed-filter references — column
  // pruning means skipping toLong/parseDouble, not just dropping
  // fields), and an ordinal map replacing per-row string matching
  private val filterRefs: Set[String] = pushed.flatMap(_.references).toSet
  private def needed(name: String): Boolean =
    fields.contains(name) || filterRefs.contains(name)
  private val needEventId = needed("event_id")
  private val needTs = needed("ts")
  private val needUserId = needed("user_id")
  private val needValue = needed("value")
  // source ordinal per output field; -1 = the _file metadata column
  private val ordinals: Array[Int] = fields.map {
    case "event_id" => 0
    case "ts" => 1
    case "user_id" => 2
    case "event_type" => 3
    case "value" => 4
    case "props" => 5
    case "_file" => -1
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  // IN-lists compile to hash sets once per split — runtime (DPP)
  // filters can carry thousands of values, and a per-row linear scan
  // of the list would undo the pruning win. A set is built only when
  // it provably agrees with eval's exact semantics (strings; doubles
  // normalized via normD; longs only when every element is integral
  // — a fractional literal falls back to the exact eval kernel).
  private val inSets: Array[AnyRef] = pushed.map {
    case In(a, vs) if vs != null && !vs.contains(null) => a match {
      case "event_type" | "props" =>
        vs.iterator.map(_.toString).toSet: AnyRef
      case "value" if vs.forall(_.isInstanceOf[Number]) =>
        vs.iterator.map(v => GraftLogSource.normD(
          v.asInstanceOf[Number].doubleValue())).toSet: AnyRef
      case _ if vs.forall(v => v.isInstanceOf[java.lang.Long] ||
          v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Short] ||
          v.isInstanceOf[java.lang.Byte]) =>
        vs.iterator.map(_.asInstanceOf[Number].longValue()).toSet: AnyRef
      case _ => null
    }
    case _ => null
  }

  private def passes(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String): Boolean = {
    var i = 0
    while (i < pushed.length) {
      val ok = inSets(i) match {
        case null => GraftLogSource.eval(pushed(i), eventId, tsMicros, userId,
          eventType, value, props)
        case s => pushed(i) match {
          case In(a, _) => a match {
            case "event_type" => s.asInstanceOf[Set[String]].contains(eventType)
            case "props" => s.asInstanceOf[Set[String]].contains(props)
            case "value" =>
              s.asInstanceOf[Set[Double]].contains(GraftLogSource.normD(value))
            case "user_id" => s.asInstanceOf[Set[Long]].contains(userId)
            case "event_id" => s.asInstanceOf[Set[Long]].contains(eventId)
            case "ts" => s.asInstanceOf[Set[Long]].contains(tsMicros)
            case _ => true
          }
          case _ => true
        }
      }
      if (!ok) return false
      i += 1
    }
    true
  }

  private def mkRow(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String): InternalRow = {
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)
    var i = 0
    while (i < fields.length) {
      row.update(i, ordinals(i) match {
        case 0 => eventId
        case 1 => tsMicros
        case 2 => userId
        case 3 => UTF8String.fromString(eventType)
        case 4 => value
        case 5 => UTF8String.fromString(props)
        case _ => fileNameUtf8 // metadata column
      })
      i += 1
    }
    row
  }

  // TopN mode: drain the split through an O(k) bounded heap keyed on
  // the pushed order column, then emit only the k best rows. The
  // heap holds the WORST kept row at its head, so each non-improving
  // line costs one comparison and zero allocation. Spark re-runs the
  // global TakeOrdered merge (partial pushdown), so reader order
  // within the k rows is irrelevant — only membership matters, and
  // membership uses the same exact comparators as the filters
  // (cmpLongExact / NaN-aware cmp).
  private def orderKeyL(eventId: Long, tsMicros: Long, userId: Long): Long =
    topN.get._1 match {
      case "event_id" => eventId
      case "ts" => tsMicros
      case _ => userId
    }
  private var heapRows: Iterator[InternalRow] = _

  private def drainTopN(): Iterator[InternalRow] = {
    val (colName, asc, k) = topN.get
    val isValue = colName == "value"
    // ordering that puts the WORST kept row first (max-heap for asc)
    val ord: Ordering[(Long, Double, InternalRow)] =
      if (isValue) {
        val base = Ordering.fromLessThan[(Long, Double, InternalRow)](
          (a, b) => GraftLogSource.cmp(a._2, b._2) < 0)
        if (asc) base else base.reverse
      } else {
        val base = Ordering.by[(Long, Double, InternalRow), Long](_._1)
        if (asc) base else base.reverse
      }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double, InternalRow)](ord)
    var line = in.readLine()
    while (line != null) {
      val c = line.split("\t", 6)
      val eventId = if (needEventId) c(0).toLong else 0L
      val tsMicros = if (needTs) c(1).toLong else 0L
      val userId = if (needUserId) c(2).toLong else 0L
      val eventType = c(3)
      val value = if (needValue) java.lang.Double.parseDouble(c(4)) else 0.0
      val props = if (c.length > 5) c(5) else ""
      if (passes(eventId, tsMicros, userId, eventType, value, props)) {
        val key = (if (isValue) 0L else orderKeyL(eventId, tsMicros, userId),
          if (isValue) value else 0.0)
        val better = heap.size < k || ord.lt((key._1, key._2, null), heap.head)
        if (better) {
          if (heap.size >= k) { heap.dequeue(): Unit }
          heap.enqueue((key._1, key._2,
            mkRow(eventId, tsMicros, userId, eventType, value, props)))
        }
      }
      line = in.readLine()
    }
    heap.iterator.map(_._3)
  }

  override def next(): Boolean = {
    if (topN.isDefined) {
      if (heapRows == null) heapRows = drainTopN()
      if (heapRows.hasNext) {
        current = heapRows.next(); emitted += 1; return true
      }
      return false
    }
    if (limit >= 0 && emitted >= limit) return false
    var line = in.readLine()
    while (line != null) {
      val c = line.split("\t", 6)
      val eventId = if (needEventId) c(0).toLong else 0L
      val tsMicros = if (needTs) c(1).toLong else 0L
      val userId = if (needUserId) c(2).toLong else 0L
      val eventType = c(3)
      val value = if (needValue) java.lang.Double.parseDouble(c(4)) else 0.0
      val props = if (c.length > 5) c(5) else ""
      if (passes(eventId, tsMicros, userId, eventType, value, props)) {
        current = mkRow(eventId, tsMicros, userId, eventType, value, props)
        emitted += 1
        return true
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val n = emitted
    Array(new CustomTaskMetric {
      override def name(): String = "rowsEmitted"
      override def value(): Long = n
    })
  }
}

/** Write path: the full DSv2 task-commit protocol. Each task writes
  * an invisible `.inprogress` temp file (the reader lists only
  * `*.glog`, so uncommitted output can never be scanned); task
  * commit ships (temp path, rows, value min/max) to the driver; JOB
  * commit renames every temp to its final zone-map name in one pass
  * — so a job that dies mid-write leaves no partial data visible,
  * task retries / speculative duplicates are discarded by `abort`,
  * and every committed file carries pruning bounds. Visibility is
  * the MANIFEST CAS (see the versioned-manifest section of
  * [[GraftLogSource]]): claimed files stay invisible until one
  * atomic manifest commit references them, so concurrent committers
  * retry instead of colliding, `truncate()` (SaveMode.Overwrite)
  * swaps the whole live set in one version, and REPLACE WHERE
  * deletes + restates its slice in ONE version — no reader ever
  * sees a half-applied statement. */
private[sources] class GlogWriteBuilder(path: String, schema: StructType,
    clustered: Boolean = false)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateFirst = false
  private var replaceWhere: Array[Filter] = Array.empty
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  /** Overwrite-by-filter (`writeTo(...).overwrite(cond)` / SQL
    * `INSERT INTO ... REPLACE WHERE`): job commit first deletes the
    * matching slice through the shared zone-map-aware kernel, then
    * renames the staged files in — the idempotent "restate one
    * slice" primitive, the connector twin of
    * eng_partition_overwrite's dynamic mode. Unsupported predicate
    * shapes are rejected at ANALYSIS time, not mis-applied. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncateFirst = true
    else {
      val norm = GraftLogSource.normalizeTsFilters(filters)
      require(norm.forall(GraftLogSource.pushable),
        s"glog overwrite supports value/user_id/ts/event_type predicates, " +
          s"got: " + filters.mkString(", "))
      replaceWhere = norm
    }
    this
  }
  /** `option("clustered", "true")`: the write REQUESTS a
    * value-ordered distribution from Spark
    * (RequiresDistributionAndOrdering) — a range exchange + in-task
    * sort by `value` runs before the writers, so every committed
    * file carries TIGHT, near-disjoint zone-map bounds no matter how
    * scrambled the upstream plan's row layout is. This is the
    * write-time twin of TableLayout's Z-order (TableLayout.scala):
    * pay one sort at ingest, and every later `value` predicate
    * prunes whole files at planning time. Opt-in, because the
    * exchange is a real cost the caller must choose — an append-only
    * telemetry firehose may prefer cheap writes over read-side
    * pruning. */
  override def build(): Write =
    if (clustered) new GlogClusteredWrite(path, schema, truncateFirst, replaceWhere)
    else new Write {
      override def toBatch: BatchWrite =
        new GlogBatchWrite(path, schema, truncateFirst, replaceWhere)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        // streaming writes are APPEND-only: the directory is an
        // append-only log by contract (the streaming READ's offsets
        // depend on it), so Complete/Truncate output modes are
        // rejected at analysis time rather than silently rewriting
        // history every epoch
        require(!truncateFirst && replaceWhere.isEmpty,
          "glog streaming sink supports Append output mode only")
        new GlogStreamingWrite(path, schema)
      }
    }
}

/** Streaming sink: the same claim-rename + manifest-CAS protocol as
  * the batch write, per EPOCH, with an `_epoch-N.committed` marker
  * (in `_glog_metadata/`) recording which epoch the last manifest
  * commit belongs to. Commit order: (1) claim-rename the staged
  * temps to final names — still INVISIBLE, the manifest does not
  * reference them; (2) write the marker listing those names;
  * (3) ONE manifest CAS appending them — the epoch becomes visible
  * atomically, never partially; (4) best-effort atomic marker rewrite
  * stamping the committed manifest version (`#version:N`). A replayed
  * commit (Spark re-runs an epoch its checkpoint never recorded)
  * reads the marker and decides "already landed" from COMMIT
  * evidence, not current liveness (liveness lies once later DML
  * swaps the epoch's files out of the live set — re-landing would
  * duplicate rows and break snapshot reads that still reference the
  * unlinked claims): landed iff the stamped version exists at-or-
  * below the newest version (versions are never reused), or — when
  * the crash window between (3) and (4) ate the stamp — iff any
  * present manifest/checkpoint mentions the marker's names (the CAS
  * wrote them in one record). Only claims PROVEN never-committed are
  * unlinked and re-landed. The one remaining blind spot (stamp lost
  * AND every mentioning manifest vacuumed before restart) requires a
  * vacuum racing a crashed stream's restart — vacuum is documented
  * unsafe concurrent with in-flight commits. Every path converges to
  * exactly one visible copy of the epoch; a crash anywhere leaves
  * only invisible orphans/temps.
  * Markers below the committing epoch are GC'd at each commit (an
  * epoch can only replay until the NEXT epoch's commit is invoked,
  * which proves the checkpoint recorded it) — the data directory's
  * listing stays O(data files) over an unbounded stream. One
  * checkpoint per sink directory, the same contract as Spark's own
  * file sink: a FRESH checkpoint restarting epoch numbering against
  * a used sink directory would collide with the retained marker. */
private[graft] class GlogStreamingWrite(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  require(schema.fieldNames.sameElements(GraftLogSource.SchemaFixed.fieldNames),
    s"glog stream-write schema must be " +
      s"${GraftLogSource.SchemaFixed.fieldNames.mkString(",")}" +
      s", got ${schema.fieldNames.mkString(",")}")

  // one Hadoop-conf copy per query, as in GlogScan.scanConf
  @transient private lazy val conf: Configuration = GraftLogSource.driverHadoopConf()

  private def marker(dir: Path, epochId: Long): Path =
    new Path(GraftLogSource.metaDir(dir), s"_epoch-$epochId.committed")

  private def markerEpoch(name: String): Option[Long] =
    if (name.startsWith("_epoch-") && name.endsWith(".committed"))
      name.stripPrefix("_epoch-").stripSuffix(".committed").toLongOption
    else None

  /** Post-CAS commit evidence as an IMMUTABLE sidecar
    * (`_epoch-N.version`, holding the committed manifest version),
    * published via [[GraftLogSource.publishIfAbsent]]: the marker
    * itself is then never rewritten after the manifest CAS — an
    * in-place stamp rewrite would be delete+rename on non-local
    * filesystems, and a crash between the two would erase the only
    * commit proof while the CAS already landed, making replay re-land
    * the epoch (duplicated rows). The sidecar either exists fully
    * written or not at all; when it is missing, replay falls back to
    * the marker's inline `#version:` stamp (pre-sidecar markers) and
    * then to manifest mentions. */
  private def versionSidecar(dir: Path, epochId: Long): Path =
    new Path(GraftLogSource.metaDir(dir), s"_epoch-$epochId.version")

  private def sidecarEpoch(name: String): Option[Long] =
    if (name.startsWith("_epoch-") && name.endsWith(".version"))
      name.stripPrefix("_epoch-").stripSuffix(".version").toLongOption
    else None

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GlogStreamingWriterFactory(path, new SerializableConf(conf))

  private val VersionStamp = "#version:"

  /** Write the marker ATOMICALLY (temp + rename-over): a replay that
    * re-lands a proven-crashed epoch rewrites the old marker with the
    * fresh claim names, and a crash mid-write must never leave a
    * truncated marker that would mislead the next replay. (Post-CAS
    * commit evidence never travels through this rewrite path — it is
    * published once as the immutable [[versionSidecar]]; losing THIS
    * rewrite merely strands never-committed orphans for vacuum.) */
  private def writeMarker(fs: FileSystem, m: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(m.getParent, s".${m.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case _: RawLocalFileSystem =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(m).toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      case _ =>
        // HDFS: rename refuses an existing destination — delete+rename
        // (the non-atomic window is two metadata ops; an object-store
        // deployment swaps this seam for an unconditional PUT)
        fs.delete(m, false): Unit
        require(fs.rename(tmp, m), s"glog: marker write $m failed")
    }
  }

  private def readMarker(fs: FileSystem, m: Path): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(m), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toSeq
    finally in.close()
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = GraftLogSource.resolveDir(path)
    val fs = GraftLogSource.fsFor(dir, conf)
    fs.mkdirs(GraftLogSource.metaDir(dir)): Unit
    val m = marker(dir, epochId)
    if (fs.exists(m)) {
      val lines = readMarker(fs, m)
      // primary commit proof: the immutable post-CAS sidecar; inline
      // #version: stamp only for markers written before the sidecar
      // protocol (back-compat)
      val sc = versionSidecar(dir, epochId)
      val stamped =
        (if (fs.exists(sc)) readMarker(fs, sc).headOption.flatMap(_.toLongOption)
         else None)
          .orElse(lines.find(_.startsWith(VersionStamp))
            .flatMap(_.stripPrefix(VersionStamp).toLongOption))
      val listed = lines.filterNot(_.startsWith("#"))
      // COMMIT evidence, never current liveness: a later DELETE/compact
      // legitimately swaps epoch files out of the live set — re-landing
      // then would duplicate rows and resurrect deleted ones
      val landed = stamped match {
        case Some(v) =>
          // versions are never reused: the stamp proves the CAS won
          GraftLogSource.manifestVersions(dir, conf).lastOption.exists(_ >= v)
        case None =>
          // stamp lost to the (3)→(4) crash window: the CAS, if it
          // happened, wrote the names into one manifest record — scan
          // the present metadata for any mention
          listed.isEmpty ||
            GraftLogSource.liveSnapshot(dir, conf)
              .map(_._2.toSet).exists(live => listed.forall(live)) ||
            GraftLogSource.manifestsMention(dir, conf, listed.toSet)
      }
      if (landed) {
        // replayed epoch, fully landed — discard the staged copy,
        // never duplicate
        GraftLogSource.discardStaged(conf, messages)
        return
      }
      // previous attempt PROVEN crashed before its manifest CAS: its
      // claimed files are invisible orphans — unlink them, then land
      // the replayed copy fresh below
      listed.foreach { n =>
        val p = new Path(dir, n)
        if (fs.exists(p)) require(fs.delete(p, false),
          s"epoch $epochId replay: cleanup of orphaned claim $n failed")
      }
    }
    val entries = GraftLogSource.renameStagedIn(dir, conf, messages)
    writeMarker(fs, m, entries.map(_.name))
    val (committedV, _) =
      GraftLogSource.commitManifest(dir, conf)(live => live ++ entries)
    // publish the committed version as the immutable sidecar — the
    // replay's primary commit proof; the marker is never rewritten
    // after the CAS (see [[versionSidecar]]). A lost race means an
    // earlier attempt already proved this epoch.
    GraftLogSource.publishTextIfAbsent(fs, versionSidecar(dir, epochId),
      s"$committedV\n"): Unit
    // GC dead markers + sidecars: epochs below this one can never
    // replay once this commit was invoked (the engine checkpoints
    // batch N-1 before asking the sink to commit batch N)
    (try fs.listStatus(GraftLogSource.metaDir(dir))
     catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
      .foreach { s =>
        markerEpoch(s.getPath.getName)
          .orElse(sidecarEpoch(s.getPath.getName)).foreach { e =>
            if (e < epochId) fs.delete(s.getPath, false): Unit
          }
      }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftLogSource.discardStaged(conf, messages)
}

private[graft] class GlogStreamingWriterFactory(path: String,
    confS: SerializableConf)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GlogWriter(path, partitionId, taskId, confS)
}

/** The clustered Write shape: same BatchWrite, plus the distribution
  * contract. `requiredNumPartitions` pins the file count so the
  * layout (and its censuses) do not silently follow
  * spark.sql.shuffle.partitions. */
private[sources] class GlogClusteredWrite(path: String, schema: StructType,
    truncateFirst: Boolean, replaceWhere: Array[Filter]) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
  private def order: Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("value"), SortDirection.ASCENDING))
  override def requiredDistribution(): Distribution = Distributions.ordered(order)
  override def requiredOrdering(): Array[SortOrder] = order
  override def requiredNumPartitions(): Int = GraftLogSource.ClusteredWriteFiles
  override def toBatch: BatchWrite =
    new GlogBatchWrite(path, schema, truncateFirst, replaceWhere)
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    throw new UnsupportedOperationException(
      "glog streaming sink does not support clustered writes: a range " +
        "exchange per micro-batch would re-sample boundaries every epoch " +
        "— stream append-only, then run GraftLogSource.compact")
}

/** Task-side accumulator for the manifest file stats every write
  * path collects for free: user_id min/max plus the exact distinct
  * event_type dictionary (bounded by
  * [[GraftLogSource.EtypeDictCap]]; only an over-cap domain degrades
  * to unknown — commas, '%', '*', and the empty string all
  * round-trip exactly through [[GraftLogSource.etypeEscape]], so one
  * odd value no longer forfeits pruning for the file's other
  * types). */
private[sources] class GlogStatsAcc {
  var uidMin: Long = Long.MaxValue
  var uidMax: Long = Long.MinValue
  private val set = scala.collection.mutable.TreeSet.empty[String]
  private var overflow = false
  def add(uid: Long, etype: String): Unit = {
    if (uid < uidMin) uidMin = uid
    if (uid > uidMax) uidMax = uid
    if (!overflow) {
      set += etype
      if (set.size > GraftLogSource.EtypeDictCap) overflow = true
    }
  }
  def etypesEncoded: String =
    if (overflow || set.isEmpty) "*"
    else GraftLogSource.etypesJoin(set.toSeq)
}

private[sources] case class GlogCommit(tempPath: String, rows: Long,
    min: Double, max: Double,
    tsMin: Long = Long.MinValue, tsMax: Long = Long.MaxValue,
    uidMin: Long = Long.MaxValue, uidMax: Long = Long.MinValue,
    etypes: String = "*")
    extends WriterCommitMessage {
  /** Manifest ts stats: None when the writer saw no rows worth
    * bounding (sentinel values) — conservative on the read side. */
  def tsRange: Option[(Long, Long)] =
    if (tsMin == Long.MinValue || tsMax == Long.MaxValue) None
    else Some((tsMin, tsMax))
  def uidRange: Option[(Long, Long)] =
    if (rows == 0 || uidMin > uidMax) None else Some((uidMin, uidMax))
  def etypesOpt: Option[Seq[String]] =
    if (rows == 0 || etypes == "*" || etypes.isEmpty) None
    else Some(GraftLogSource.etypesSplit(etypes))
}

private[graft] class GlogBatchWrite(path: String, schema: StructType,
    truncateFirst: Boolean, replaceWhere: Array[Filter] = Array.empty)
    extends BatchWrite {
  require(schema.fieldNames.sameElements(GraftLogSource.SchemaFixed.fieldNames),
    s"glog write schema must be ${GraftLogSource.SchemaFixed.fieldNames.mkString(",")}" +
      s", got ${schema.fieldNames.mkString(",")}")

  // one Hadoop-conf copy per write: factory, commit and abort share it
  @transient private lazy val conf: Configuration = GraftLogSource.driverHadoopConf()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GlogWriterFactory(path, new SerializableConf(conf))

  /** Job commit = claim the staged files in (still invisible), then
    * ONE manifest CAS making the whole statement atomic for readers:
    * append adds names; SaveMode.Overwrite replaces the live set in
    * one version (METADATA-ONLY, like DML — the displaced generation
    * stays on disk as snapshot orphans for time travel and in-flight
    * readers until [[GraftLogSource.vacuum]]; physical unlinks here
    * would race a concurrent appender's claimed-but-uncommitted
    * files into dangling manifest references); REPLACE WHERE drops/
    * rewrites the matching slice and adds the new data in the SAME
    * version — no reader ever sees the slice deleted but not yet
    * restated. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = GraftLogSource.resolveDir(path)
    val fs = GraftLogSource.fsFor(dir, conf)
    fs.mkdirs(dir): Unit
    // REPLACE WHERE stages its delete work against the PRE-claim live
    // set: claiming the new files first would, in a pre-manifest
    // directory (raw-listing fallback), feed them through the
    // copy-on-write rewrite AND re-add the originals below —
    // duplicating the new batch's non-matching rows
    val (dropNames, replEntries) =
      if (replaceWhere.nonEmpty && !truncateFirst)
        GraftLogSource.deleteMatchingStaged(dir, conf, replaceWhere)
      else (Set.empty[String], Seq.empty[GraftLogSource.ManifestEntry])
    val newEntries = GraftLogSource.renameStagedIn(dir, conf, messages)
    if (truncateFirst) {
      GraftLogSource.commitManifest(dir, conf)(_ => newEntries): Unit
    } else if (newEntries.nonEmpty || dropNames.nonEmpty || replEntries.nonEmpty) {
      GraftLogSource.commitManifest(dir, conf) { live =>
        GraftLogSource.requireStillLive(live.map(_.name), dropNames,
          "REPLACE WHERE")
        live.filterNot(e => dropNames(e.name)) ++ replEntries ++ newEntries
      }: Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSource.discardStaged(conf, messages)
}

/** Copy-on-write row-level operation (UPDATE / MERGE / fallback
  * DELETE). One instance spans the statement: its scan populates
  * `affected` during planning (driver-side), its write replaces
  * exactly those files at job commit. */
private[sources] class GlogRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  private val affected = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()
  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"glog copy-on-write $cmd($path)"
  /** Project the `_file` metadata column into the row-level scan so
    * Spark's runtime group filtering
    * (RowLevelOperationRuntimeGroupFiltering) can narrow the
    * rewrite: the rule runs the operation's condition as a subquery
    * selecting matching `_file`s and delivers them back through
    * SupportsRuntimeV2Filtering — files with no matches are neither
    * read in full nor rewritten, even for predicates the format
    * cannot evaluate row-wise (LIKE, UDFs). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GlogScanBuilder(path, pushdown = true, groupScan = Some(affected),
      runtimeFilterable = cmd !=
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GlogReplaceGroups(path, affected, info.schema())
      }
    }
}

/** Job commit for copy-on-write row-level DML: swap the
  * scan-recorded group files for the staged replacements in ONE
  * manifest CAS — readers see the statement entirely or not at all
  * (the pre-manifest protocol's transient old+new window is gone).
  * The replaced group files stay on disk as orphans for
  * snapshot-pinned readers until [[GraftLogSource.vacuum]]; a crash
  * before the CAS leaves the table untouched and the statement
  * re-runs idempotently. A concurrent commit that already swapped
  * one of the group files loses loudly
  * ([[GraftLogSource.GlogConcurrentModificationException]]). */
private[graft] class GlogReplaceGroups(path: String,
    affected: java.util.Set[String], schema: StructType) extends BatchWrite {
  require(schema.fieldNames.sameElements(GraftLogSource.SchemaFixed.fieldNames),
    s"glog rewrite schema must be ${GraftLogSource.SchemaFixed.fieldNames.mkString(",")}" +
      s", got ${schema.fieldNames.mkString(",")}")
  // one Hadoop-conf copy per statement, as in GlogBatchWrite
  @transient private lazy val conf: Configuration = GraftLogSource.driverHadoopConf()
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GlogWriterFactory(path, new SerializableConf(conf))
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = GraftLogSource.resolveDir(path)
    val newEntries = GraftLogSource.renameStagedIn(dir, conf, messages)
    import scala.jdk.CollectionConverters._
    val dropNames = affected.asScala.map(p => new Path(p).getName).toSet
    GraftLogSource.commitManifest(dir, conf) { live =>
      GraftLogSource.requireStillLive(live.map(_.name), dropNames,
        "row-level rewrite")
      live.filterNot(e => dropNames(e.name)) ++ newEntries
    }: Unit
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSource.discardStaged(conf, messages)
}

private[graft] class GlogWriterFactory(path: String, confS: SerializableConf)
    extends DataWriterFactory {
  /** Driver-side convenience (specs construct the factory directly). */
  def this(path: String) =
    this(path, new SerializableConf(GraftLogSource.driverHadoopConf()))
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GlogWriter(path, partitionId, taskId, confS)
}

private[graft] class GlogWriter(path: String, partitionId: Int, taskId: Long,
    confS: SerializableConf) extends DataWriter[InternalRow] {
  private val dir = GraftLogSource.resolveDir(path)
  private val fs = GraftLogSource.fsFor(dir, confS.value)
  private val temp = new Path(dir,
    f".write-$partitionId%05d-$taskId.glog.inprogress")
  fs.mkdirs(dir)
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    fs.create(temp, true), java.nio.charset.StandardCharsets.UTF_8))
  private var rows = 0L
  private var mn = Double.PositiveInfinity
  private var mx = Double.NegativeInfinity
  private var tsMn = Long.MaxValue
  private var tsMx = Long.MinValue
  private val statsAcc = new GlogStatsAcc

  override def write(row: InternalRow): Unit = {
    // guard the unsafe accessors: a surprise layout (missing column,
    // unexpected null) must fail loud, never read garbage. Plain
    // appends deliver exactly the 6 data columns; row-level rewrites
    // (UPDATE/MERGE — ReplaceData) carry planner-internal columns
    // BEFORE the data block, so the data occupies the trailing 6
    // ordinals in schema order (verified by the round-trip equality
    // asserts in Dsv2SourceSpec).
    require(row.numFields >= 6,
      s"glog writer expects >= 6 columns (${GraftLogSource.SchemaFixed.fieldNames
        .mkString(",")}), got a ${row.numFields}-field row")
    val base = row.numFields - 6
    var i = 0
    while (i < 6) {
      require(!row.isNullAt(base + i),
        s"glog format is dense: null in column " +
          s"${GraftLogSource.SchemaFixed.fieldNames(i)}")
      i += 1
    }
    val value = row.getDouble(base + 4)
    // NaN-aware bounds via cmp (NaN sorts largest, like Spark): a
    // NaN row must widen max to NaN or the zone map would wrongly
    // prune the file for `value > x` predicates
    if (GraftLogSource.cmp(value, mn) < 0) mn = value
    if (GraftLogSource.cmp(value, mx) > 0) mx = value
    // ts stats for the manifest (micros, exact long compares)
    val tsMicros = row.getLong(base + 1)
    if (tsMicros < tsMn) tsMn = tsMicros
    if (tsMicros > tsMx) tsMx = tsMicros
    val eventType = row.getUTF8String(base + 3).toString
    // user_id range + event_type dictionary for the manifest
    statsAcc.add(row.getLong(base + 2), eventType)
    val props = row.getUTF8String(base + 5).toString
    // the line format reserves TAB and newline: corrupting a file
    // silently is never acceptable, so reject such strings loudly
    def clean(s: String, colName: String): String = {
      require(s.indexOf('\t') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0,
        s"glog format reserves TAB/newline; found one in column $colName")
      s
    }
    out.write(s"${row.getLong(base)}\t${row.getLong(base + 1)}\t" +
      s"${row.getLong(base + 2)}\t${clean(eventType, "event_type")}\t$value\t" +
      s"${clean(props, "props")}\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GlogCommit(temp.toString, rows,
      if (rows == 0) 0.0 else mn, if (rows == 0) 0.0 else mx,
      if (rows == 0) Long.MinValue else tsMn,
      if (rows == 0) Long.MaxValue else tsMx,
      statsAcc.uidMin, statsAcc.uidMax, statsAcc.etypesEncoded)
  }

  override def abort(): Unit = { out.close(); fs.delete(temp, false); () }
  override def close(): Unit = ()
}
