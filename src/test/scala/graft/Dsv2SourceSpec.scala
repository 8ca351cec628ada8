package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLogSource

/** A local FileSystem that REJECTS `setTimes` — the object-store shape
  * (S3A and friends cannot re-stamp mtimes). Registered under the
  * `nst:` scheme by the claim-sidecar spec below to prove the vacuum
  * grace clock stays honest when renameStagedIn cannot restart it via
  * setTimes. */
class NoSetTimesFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nst:///")
  override def setTimes(p: org.apache.hadoop.fs.Path,
      mtime: Long, atime: Long): Unit =
    throw new UnsupportedOperationException("nst:// does not support setTimes")
}

class Dsv2SourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("zone-map filename round-trips exact double bounds") {
    for ((mn, mx) <- Seq((0.01, 490.02), (-3.75, 0.0), (1e-300, 1e300))) {
      val name = GraftLogSource.fileName(3, mn, mx)
      assert(GraftLogSource.minMaxFromName(name).contains((mn, mx)), name)
    }
    assert(GraftLogSource.minMaxFromName("part-0001.glog").isEmpty)
  }

  test("zone map keeps/drops files correctly on range predicates") {
    import org.apache.spark.sql.sources._
    val keep = GraftLogSource.zoneMapKeeps(10.0, 20.0, _: Seq[Filter])
    assert(keep(Seq(GreaterThanOrEqual("value", 15.0))))
    assert(keep(Seq(GreaterThanOrEqual("value", 20.0))))
    assert(!keep(Seq(GreaterThan("value", 20.0))))
    assert(!keep(Seq(GreaterThanOrEqual("value", 20.5))))
    assert(keep(Seq(LessThan("value", 10.5))))
    assert(!keep(Seq(LessThan("value", 10.0))))
    assert(keep(Seq(EqualTo("value", 10.0))))
    assert(!keep(Seq(EqualTo("value", 9.99))))
    // unknown shapes and other columns are conservative: keep
    assert(keep(Seq(EqualTo("event_type", "click"))))
  }

  test("glog connector round-trips the events table exactly") {
    Tables.register(spark, sf)
    // entry builds (or reuses) the fixture as a side effect
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect()
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val glog = spark.read.format("graft.sources.GraftLogSource")
      .option("path", stage.getAbsolutePath).load()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().map(_.toSeq).toSet
    val (g, p) = (canon(glog), canon(spark.table("events")))
    assert(g.size == p.size && g == p)
    assert(g.nonEmpty)
  }

  test("eng_dsv2_source: measured pushdown, pruning, and limit censuses") {
    val rows = EngineOps.queries("eng_dsv2_source")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_full", "2_pushed", "3_limit", "4_writeback", "5_dml", "6_topn"))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    val (full, pushed, lim) =
      (byStage("1_full"), byStage("2_pushed"), byStage("3_limit"))
    // every stage agrees with the parquet spelling / is capped
    assert(rows.forall(_.getBoolean(5)))
    // foil reads everything: all files, all 6 columns, every row
    assert(full.getInt(1) == 8 && full.getInt(2) == 8 && full.getInt(3) == 6)
    // pushdown prunes files at PLANNING time via the zone map...
    assert(pushed.getInt(2) < pushed.getInt(1), s"no files pruned: $pushed")
    // ...parses only the referenced columns...
    assert(pushed.getInt(3) == 3, s"columns not pruned: $pushed")
    // ...and emits strictly fewer rows from the readers
    assert(pushed.getLong(4) < full.getLong(4),
      s"no reader-side row pruning: pushed=$pushed full=$full")
    assert(pushed.getLong(4) > 0)
    // pushed LIMIT returns exactly k rows without draining the scan
    assert(lim.getLong(4) == 5L)
    // write path: committed zone-map-named files, exact round-trip
    val wb = byStage("4_writeback")
    assert(wb.getInt(1) > 0, "writeback committed no files")
    assert(wb.getLong(4) == pushed.getLong(4),
      s"writeback row count diverged: $wb vs $pushed")
    // DML: the DELETE leaves the 4 zone-untouched low files plus the
    // one rewritten straddler; fully-covered files dropped whole
    val dml = byStage("5_dml")
    assert(dml.getBoolean(5), s"DML stage not ok: $dml")
    assert(dml.getInt(2) < dml.getInt(1), s"DELETE dropped no files: $dml")
    assert(dml.getInt(2) >= 4, s"DELETE dropped zone-untouched files: $dml")
    assert(dml.getLong(4) > 0)
    // pushed TopN: at most k rows per kept file reach the global sort
    val topn = byStage("6_topn")
    assert(topn.getLong(4) <= 5L * topn.getInt(2), s"TopN not capped: $topn")
    assert(topn.getLong(4) < full.getLong(4), s"TopN emitted everything: $topn")
  }

  test("robustness: conf serialization, index rollover, empty compact, Complete-mode rejection") {
    // SerializableConf: a session-conf key survives the
    // driver->executor hop (its key/value round trip through Java
    // serialization)
    val conf = GraftLogSource.driverHadoopConf()
    conf.set("graft.test.marker", "xyzzy")
    val sc = new graft.sources.SerializableConf(conf)
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(sc); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[graft.sources.SerializableConf]
    assert(back.value.get("graft.test.marker") == "xyzzy")

    // job commit assigns fresh indices NUMERICALLY past part-9999 —
    // no lexicographic collision with part-2000
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_roll").toFile
    java.nio.file.Files.write(
      new java.io.File(dir, GraftLogSource.fileName(10000, 1.0, 2.0)).toPath,
      "1\t1\t1\ta\t1.5\t{}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(dir, GraftLogSource.fileName(2000, 3.0, 4.0)).toPath,
      "2\t2\t2\ta\t3.5\t{}\n".getBytes("UTF-8"))
    val factory = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
    val w = factory.createWriter(0, 42L)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](3L, 3L, 3L,
        org.apache.spark.unsafe.types.UTF8String.fromString("a"), 9.0,
        org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
    GraftLogSource.renameStagedIn(
      new org.apache.hadoop.fs.Path(dir.getAbsolutePath), conf,
      Array(w.commit()))
    val names = dir.listFiles().map(_.getName).filter(_.endsWith(".glog"))
    assert(names.exists(_.startsWith("part-10001_")), names.mkString(","))
    // streaming offsets see the numeric order: 2000, 10000, 10001
    val order = names.sorted(Ordering.by(GraftLogSource.listingOrder))
    assert(order.map(GraftLogSource.partIndex(_)).toSeq == Seq(2000, 10000, 10001))

    // compacting an empty (and a missing) directory is a no-op
    val empty = java.nio.file.Files.createTempDirectory("graft_glog_empty").toFile
    GraftLogSource.compact(spark, empty.getAbsolutePath)
    assert(Option(empty.listFiles()).getOrElse(Array.empty).isEmpty)
    GraftLogSource.compact(spark, new java.io.File(empty, "missing").getAbsolutePath)

    // Complete output mode (truncate-per-epoch) is rejected at
    // analysis time: the streaming read's offsets index the listing,
    // so the directory must stay append-only
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val sink = java.nio.file.Files.createTempDirectory("graft_glog_cm").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("graft_glog_cmck").toString
    val err = intercept[Exception] {
      val q = spark.readStream.format("glog")
        .option("path", stage.getAbsolutePath).load()
        .groupBy(col("event_type")).count()
        .selectExpr("CAST(abs(hash(event_type)) AS BIGINT) AS event_id",
          "timestamp_micros(0) AS ts", "count AS user_id",
          "event_type", "CAST(count AS DOUBLE) AS value", "'{}' AS props")
        .writeStream.format("glog")
        .option("path", sink.getAbsolutePath)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m => m != null && m.contains("Append output mode")),
      chain(err).mkString(" | "))
  }

  test("eng_dsv2_catalog: the measured lifecycle census is exact") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_catalog")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_create", "2_insert", "3_dml", "4_rename", "5_drop"))
    assert(rows.forall(_.getBoolean(3)), rows.mkString("; "))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    // insert landed data and the DML stage moved exact counts
    assert(byStage("2_insert").getLong(1) > 0)
    assert(byStage("3_dml").getLong(1) > 0, "UPDATE matched nothing")
    assert(byStage("4_rename").getLong(1) ==
      byStage("2_insert").getLong(1) - byStage("3_dml").getLong(1))
  }

  test("glog catalog: tables by name, full lifecycle through SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft_glog_wh").toFile
    spark.conf.set("spark.sql.catalog.glogcat", "graft.sources.GlogCatalog")
    spark.conf.set("spark.sql.catalog.glogcat.warehouse", wh.getAbsolutePath)
    try {
      spark.sql("CREATE NAMESPACE glogcat.lab")
      assert(new java.io.File(wh, "lab").isDirectory)
      spark.sql("""CREATE TABLE glogcat.lab.ev (
        event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING) USING glog""")
      // the table directory IS the metastore entry
      assert(new java.io.File(new java.io.File(wh, "lab"), "ev").isDirectory)
      spark.sql("""INSERT INTO glogcat.lab.ev VALUES
        (1, TIMESTAMP'2024-01-01 00:00:00', 10, 'click', 5.0, '{}'),
        (2, TIMESTAMP'2024-01-01 00:00:01', 11, 'view', 105.0, '{}')""")
      def n(t: String) = spark.sql(s"SELECT count(*) FROM $t")
        .collect()(0).getLong(0)
      assert(n("glogcat.lab.ev") == 2)
      // the full connector surface rides along: zone-map-named files,
      // DML through the same row-level machinery
      assert(new java.io.File(new java.io.File(wh, "lab"), "ev")
        .listFiles().map(_.getName).filter(_.endsWith(".glog"))
        .forall(GraftLogSource.minMaxFromName(_).isDefined))
      spark.sql("UPDATE glogcat.lab.ev SET event_type = 'upd' WHERE event_id = 2")
      assert(spark.sql(
        "SELECT count(*) FROM glogcat.lab.ev WHERE event_type = 'upd'")
        .collect()(0).getLong(0) == 1)
      spark.sql("DELETE FROM glogcat.lab.ev WHERE value >= 100.0")
      assert(n("glogcat.lab.ev") == 1)
      // SHOW TABLES sees the directory listing
      val listed = spark.sql("SHOW TABLES IN glogcat.lab")
        .collect().map(_.getString(1)).toSet
      assert(listed == Set("ev"), listed.mkString(","))
      // fixed format schema: column changes rejected, mismatched
      // CREATE rejected
      intercept[Exception] {
        spark.sql("ALTER TABLE glogcat.lab.ev ADD COLUMNS (quality DOUBLE)")
      }
      intercept[Exception] {
        spark.sql("CREATE TABLE glogcat.lab.bad (a INT) USING glog")
      }
      // rename moves the directory, content intact
      spark.sql("ALTER TABLE glogcat.lab.ev RENAME TO lab.ev2")
      assert(n("glogcat.lab.ev2") == 1)
      assert(!new java.io.File(new java.io.File(wh, "lab"), "ev").exists())
      // drop unlinks; a non-empty namespace refuses a plain drop
      intercept[Exception] { spark.sql("DROP NAMESPACE glogcat.lab") }
      spark.sql("DROP TABLE glogcat.lab.ev2")
      spark.sql("DROP NAMESPACE glogcat.lab")
      assert(!new java.io.File(wh, "lab").exists())
    } finally {
      spark.conf.unset("spark.sql.catalog.glogcat")
      spark.conf.unset("spark.sql.catalog.glogcat.warehouse")
    }
  }

  test("epoch replay converges after a simulated pre-CAS crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_crash").toFile
    val meta = new java.io.File(dir, GraftLogSource.MetaDirName)
    val sw = new graft.sources.GlogStreamingWrite(dir.getAbsolutePath,
      GraftLogSource.SchemaFixed)
    val fac = sw.createStreamingWriterFactory(null)
    def row(id: Long, et: String, v: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString(et), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    // epoch 0 lands normally
    val w0 = fac.createWriter(0, 1L, 0L)
    w0.write(row(1L, "e0", 1.0))
    sw.commit(0L, Array(w0.commit()))
    def glogNames() = dir.listFiles().map(_.getName).filter(_.endsWith(".glog"))
    assert(glogNames().length == 1)
    // simulate epoch 1's FIRST attempt crashing BETWEEN its claim
    // renames and its manifest CAS: two files claimed on disk, the
    // marker written, the manifest never bumped — the claims are
    // invisible orphans
    val landed = GraftLogSource.fileName(7, 2.0, 2.0)
    val alsoLanded = GraftLogSource.fileName(8, 3.0, 3.0)
    java.nio.file.Files.write(new java.io.File(dir, landed).toPath,
      "2\t2000\t2\te1\t2.0\t{}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, alsoLanded).toPath,
      "3\t3000\t3\te1\t3.0\t{}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(meta, "_epoch-1.committed").toPath,
      s"$landed\n$alsoLanded\n".getBytes("UTF-8"))
    // the crashed attempt's rows are NOT visible (manifest never moved)
    assert(spark.read.format("glog")
      .option("path", dir.getAbsolutePath).load().count() == 1)
    // the replayed epoch 1 carries the SAME two rows, staged fresh
    val wa = fac.createWriter(0, 10L, 1L)
    wa.write(row(2L, "e1", 2.0))
    val wb = fac.createWriter(1, 11L, 1L)
    wb.write(row(3L, "e1", 3.0))
    sw.commit(1L, Array(wa.commit(), wb.commit()))
    // converged: exactly one visible copy of the epoch's rows, no
    // temps, the crashed attempt's orphaned claims cleaned up
    val back = spark.read.format("glog")
      .option("path", dir.getAbsolutePath).load()
      .select(col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(back == Seq((1L, "e0"), (2L, "e1"), (3L, "e1")),
      s"replay did not converge: $back")
    assert(!dir.listFiles().exists(_.getName.endsWith(".inprogress")))
    assert(!dir.listFiles().map(_.getName).contains(landed),
      "orphaned claim survived the replay cleanup")
    // a SECOND replay of the now-complete epoch is a pure no-op
    val wc = fac.createWriter(0, 12L, 1L)
    wc.write(row(2L, "e1", 2.0))
    sw.commit(1L, Array(wc.commit()))
    val n = spark.read.format("glog")
      .option("path", dir.getAbsolutePath).load().count()
    assert(n == 3, s"second replay duplicated rows: $n")
    // markers GC to the committing epoch: epoch 0's marker AND version
    // sidecar are gone; epoch 1 keeps both (the immutable sidecar is
    // the post-CAS commit proof — the marker is never rewritten)
    val markers = Option(meta.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("_epoch-"))
    assert(markers.toSeq.sorted == Seq("_epoch-1.committed", "_epoch-1.version"),
      markers.mkString(","))
    val stampedV = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(meta, "_epoch-1.version").toPath), "UTF-8").trim.toLong
    assert(stampedV == GraftLogSource.manifestVersions(
      new org.apache.hadoop.fs.Path(dir.getAbsolutePath),
      GraftLogSource.driverHadoopConf()).max,
      s"sidecar stamped $stampedV")
  }

  test("epoch replay after DML uses commit evidence, never re-lands") {
    // the marker's post-CAS version stamp (and the manifest-mention
    // fallback) must keep a committed epoch a no-op on replay even
    // after a DELETE swapped its files out of the LIVE set — the old
    // liveness heuristic would unlink snapshot-referenced files and
    // resurrect deleted rows
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_rpl").toFile
    val meta = new java.io.File(dir, GraftLogSource.MetaDirName)
    val sw = new graft.sources.GlogStreamingWrite(dir.getAbsolutePath,
      GraftLogSource.SchemaFixed)
    val fac = sw.createStreamingWriterFactory(null)
    def row(id: Long, v: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    val w0 = fac.createWriter(0, 1L, 0L)
    w0.write(row(1L, 1.0)); w0.write(row(2L, 9.0))
    sw.commit(0L, Array(w0.commit()))
    // DML deletes the epoch's high row — a copy-on-write rewrite that
    // swaps the epoch's file name out of the live manifest
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    GraftLogSource.deleteMatching(
      new org.apache.hadoop.fs.Path(dir.getAbsolutePath),
      Array[Filter](GreaterThanOrEqual("value", 5.0)))
    def count() = spark.read.format("glog")
      .option("path", dir.getAbsolutePath).load().count()
    assert(count() == 1)
    // replay of the checkpoint-unrecorded epoch 0: the stamp proves
    // the CAS committed — discard, never duplicate/resurrect
    val w1 = fac.createWriter(0, 2L, 0L)
    w1.write(row(1L, 1.0)); w1.write(row(2L, 9.0))
    sw.commit(0L, Array(w1.commit()))
    assert(count() == 1, "stamped replay re-landed a committed epoch")
    // stamp lost (crash between the CAS and the sidecar publish; also
    // strip any legacy inline stamp): the manifest delta records still
    // mention the epoch's names — same verdict
    java.nio.file.Files.deleteIfExists(
      new java.io.File(meta, "_epoch-0.version").toPath): Unit
    val mk = new java.io.File(meta, "_epoch-0.committed")
    val lines = new String(java.nio.file.Files.readAllBytes(mk.toPath), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#")).mkString("", "\n", "\n")
    java.nio.file.Files.write(mk.toPath, lines.getBytes("UTF-8"))
    val w2 = fac.createWriter(0, 3L, 0L)
    w2.write(row(1L, 1.0)); w2.write(row(2L, 9.0))
    sw.commit(0L, Array(w2.commit()))
    assert(count() == 1, "stampless replay re-landed a committed epoch")
  }

  test("delta manifests: O(delta) commits, checkpointed resolve, anchored vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_dm").toFile
    val path = dir.getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    def appendOne(id: Long): Unit = {
      val w = new graft.sources.GlogWriterFactory(path).createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"), id.toDouble,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
        truncateFirst = false).commit(Array(w.commit()))
    }
    (1L to 40L).foreach(appendOne)
    val versions = GraftLogSource.manifestVersions(p, conf)
    assert(versions == (1L to 40L))
    // per-commit metadata is O(delta): beyond the O(1) '#' headers
    // (#delta dispatch, #glog-format declaration) a delta carries ONE
    // add record no matter how many files are live; versions 1, 16,
    // 32 are full
    val meta = new java.io.File(dir, GraftLogSource.MetaDirName)
    def linesOf(v: Long): Seq[String] = new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(meta, f"_v$v%012d.manifest").toPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSeq
    def bodyOf(v: Long): Seq[String] = linesOf(v).filterNot(_.startsWith("#"))
    assert(!linesOf(1L).contains("#delta") && !linesOf(16L).contains("#delta") &&
      !linesOf(32L).contains("#delta"), "checkpoint versions must be full")
    assert(linesOf(1L).contains(GraftLogSource.FormatHeader),
      "manifests must declare their format")
    assert(bodyOf(16L).length == 16 && bodyOf(32L).length == 32)
    (2L to 40L).filterNot(v => v % 16 == 0).foreach { v =>
      assert(linesOf(v).head == "#delta" && bodyOf(v).length == 1,
        s"version $v is not a one-record delta: ${linesOf(v)}")
    }
    // resolve through the chain is exact at every version
    def countAt(v: Long) = spark.read.format("glog").option("path", path)
      .option("versionAsOf", v.toString).load().count()
    assert(countAt(1L) == 1 && countAt(15L) == 15 && countAt(16L) == 16 &&
      countAt(17L) == 17 && countAt(40L) == 40)
    // a DELETE writes an R+A delta and resolves correctly on top
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    GraftLogSource.deleteMatching(p,
      Array[Filter](GreaterThanOrEqual("value", 40.0)))  // v41: drops file 40
    assert(countAt(41L) == 39)
    // vacuum(retain 3): the oldest retained version gets a full
    // checkpoint sidecar so its delta stays resolvable after the
    // chain below is GC'd; older versions fail loudly
    GraftLogSource.vacuum(path, retainVersions = 3, graceMs = 0L): Unit
    assert(GraftLogSource.manifestVersions(p, conf) == Seq(39L, 40L, 41L))
    assert(new java.io.File(meta, f"_v${39L}%012d.checkpoint").exists())
    assert(countAt(39L) == 39 && countAt(40L) == 40 && countAt(41L) == 39)
    intercept[Exception] { countAt(38L) }
  }

  test("pushed TopN keeps exact results; unsupported orders decline safely") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val glog = spark.read.format("glog")
      .option("path", stage.getAbsolutePath).load()
    val pq = spark.table("events")
    // ascending long-key top-k: exact vs the parquet spelling
    val gotAsc = glog.orderBy(col("event_id").asc).limit(3)
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    val expAsc = pq.orderBy(col("event_id").asc).limit(3)
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(gotAsc == expAsc)
    // descending double-key top-k (NaN-aware cmp path)
    val gotDesc = glog.orderBy(col("value").desc).limit(4)
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    val expDesc = pq.orderBy(col("value").desc).limit(4)
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    assert(gotDesc == expDesc)
    // a string order declines pushdown (reader collation must never
    // decide membership) but the query stays correct
    val gotStr = glog.orderBy(col("event_type").asc, col("event_id").asc)
      .limit(3).select(col("event_type")).collect().map(_.getString(0)).toSeq
    val expStr = pq.orderBy(col("event_type").asc, col("event_id").asc)
      .limit(3).select(col("event_type")).collect().map(_.getString(0)).toSeq
    assert(gotStr == expStr)
  }

  test("writer task-commit protocol: overwrite replaces, temps never visible") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_wr").toFile
    val ev = spark.table("events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit = df
      .write.format("graft.sources.GraftLogSource")
      .option("path", dir.getAbsolutePath).mode(mode).save()
    def files() = Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName)
    write(ev.filter(col("event_id") % 2 === 0), "overwrite")
    val n1 = files().count(_.endsWith(".glog"))
    // append adds files, overwrite replaces them
    write(ev.filter(col("event_id") % 2 === 1), "append")
    assert(files().count(_.endsWith(".glog")) > n1)
    val total = spark.read.format("graft.sources.GraftLogSource")
      .option("path", dir.getAbsolutePath).load().count()
    assert(total == ev.count(), "append lost rows")
    write(ev.limit(10), "overwrite")
    val back = spark.read.format("graft.sources.GraftLogSource")
      .option("path", dir.getAbsolutePath).load().count()
    assert(back == 10, s"overwrite did not replace: $back")
    // no in-progress temp residue after committed jobs
    assert(!files().exists(_.endsWith(".inprogress")), files().mkString(","))
    // every committed file carries zone-map bounds
    assert(files().filter(_.endsWith(".glog"))
      .forall(n => GraftLogSource.minMaxFromName(n).isDefined))
  }

  test("writer abort discards the task's temp file; job abort leaves no residue") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_ab").toFile
    val schema = GraftLogSource.SchemaFixed
    // task-level: a failed/speculative task aborts its own writer
    val factory = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
    val w = factory.createWriter(0, 7L)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1L, 1000000L, 2L,
        org.apache.spark.unsafe.types.UTF8String.fromString("click"), 3.5,
        org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    w.write(row)
    assert(dir.listFiles().exists(_.getName.endsWith(".inprogress")))
    w.abort()
    assert(dir.listFiles().isEmpty, "abort left the temp file behind")
    // job-level: BatchWrite.abort discards every staged commit message
    val w2 = factory.createWriter(1, 8L)
    w2.write(row)
    val msg = w2.commit()
    val bw = new graft.sources.GlogBatchWrite(dir.getAbsolutePath, schema,
      truncateFirst = false)
    bw.abort(Array(msg))
    assert(dir.listFiles().isEmpty, "job abort left staged output behind")
  }

  test("short name and SQL DDL: CREATE TABLE ... USING glog resolves") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    // short name through the service loader
    val viaShort = spark.read.format("glog")
      .option("path", stage.getAbsolutePath).load().count()
    assert(viaShort == spark.table("events").count())
    // SQL DDL through the session catalog
    spark.sql("DROP TABLE IF EXISTS graft_glog_ddl")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_ddl USING glog
        OPTIONS (path '${stage.getAbsolutePath}')""")
      val n = spark.sql(
        "SELECT count(*) FROM graft_glog_ddl WHERE event_type = 'click'")
        .collect()(0).getLong(0)
      val expected = spark.table("events")
        .filter(col("event_type") === "click").count()
      assert(n == expected)
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_ddl")
  }

  test("SQL DML: INSERT INTO appends, DELETE FROM rewrites only covered files") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    // work on a copy — the shared fixture must stay immutable
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_dml").toFile
    stage.listFiles().filter(_.getName.endsWith(".glog")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)
    }
    spark.sql("DROP TABLE IF EXISTS graft_glog_dml")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_dml USING glog
        OPTIONS (path '${dir.getAbsolutePath}')""")
      def count() = spark.sql("SELECT count(*) FROM graft_glog_dml")
        .collect()(0).getLong(0)
      val n0 = count()
      assert(n0 == spark.table("events").count())
      // INSERT INTO appends through the connector's write path
      spark.sql("""INSERT INTO graft_glog_dml
        VALUES (900001, TIMESTAMP'2024-01-01 00:00:00', 7, 'click', 42.5, '{}')""")
      assert(count() == n0 + 1)
      // DELETE: files whose zone map cannot match must stay untouched
      val cut = 100.0
      val before = dir.listFiles().filter(_.getName.endsWith(".glog"))
        .map(f => f.getName -> f.lastModified()).toMap
      val untouchable = before.keySet.filter(n =>
        GraftLogSource.minMaxFromName(n).exists(_._2 < cut))
      assert(untouchable.nonEmpty, "fixture lost its low-value files")
      val expectSurvivors = spark.sql(
        s"SELECT count(*) FROM graft_glog_dml WHERE NOT (value >= $cut)")
        .collect()(0).getLong(0)
      spark.sql(s"DELETE FROM graft_glog_dml WHERE value >= $cut")
      assert(count() == expectSurvivors, "DELETE removed the wrong rows")
      val after = dir.listFiles().filter(_.getName.endsWith(".glog"))
        .map(f => f.getName -> f.lastModified()).toMap
      untouchable.foreach { n =>
        assert(after.get(n).contains(before(n)), s"zone-skipped file $n was rewritten")
      }
      // copy-on-write: survivors land in FRESH part files with TIGHT
      // recomputed bounds; the replaced originals stay on disk as
      // snapshot orphans invisible to readers. Check the LIVE set:
      // every live row inside its file's claimed range and below the
      // cut — a pruned re-scan of the deleted range reads NOTHING
      val dirPath = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
      val conf = GraftLogSource.driverHadoopConf()
      val live = GraftLogSource.listCommitted(dirPath, conf, Seq.empty)
        ._1.map(_.getPath.getName).toSet
      live.foreach { n =>
        GraftLogSource.minMaxFromName(n).foreach { case (mn, mx) =>
          val vals = java.nio.file.Files
            .readAllLines(new java.io.File(dir, n).toPath)
            .toArray(Array.empty[String])
            .map(_.split("\t", 6)(4).toDouble)
          assert(vals.forall(v => v >= mn && v <= mx),
            s"live file $n has rows outside its zone map")
          assert(vals.forall(_ < cut), s"deleted rows survived in $n")
        }
      }
      import org.apache.spark.sql.sources.GreaterThanOrEqual
      assert(GraftLogSource.listCommitted(dirPath, conf,
        Seq(GreaterThanOrEqual("value", cut)))._1.isEmpty,
        "bounds not tight: the deleted range still keeps live files")
      assert(!dir.listFiles().exists(_.getName.endsWith(".inprogress")))
      // vacuum reclaims the orphaned originals; live files survive
      val orphans = dir.listFiles().count(f =>
        f.getName.endsWith(".glog") && !live(f.getName))
      assert(orphans > 0, "expected copy-on-write orphans before vacuum")
      assert(GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L) == orphans)
      assert(dir.listFiles().filter(_.getName.endsWith(".glog"))
        .map(_.getName).toSet == live, "vacuum touched live files")
      assert(count() == expectSurvivors, "vacuum changed query results")
      // predicate shapes SupportsDelete can't evaluate row-wise fall
      // back to the copy-on-write row-level rewrite — the statement
      // still works, with exact semantics
      val likeMatches = spark.sql(
        "SELECT count(*) FROM graft_glog_dml WHERE props LIKE '%7%'")
        .collect()(0).getLong(0)
      assert(likeMatches > 0, "fixture lost its LIKE-matching rows")
      spark.sql("DELETE FROM graft_glog_dml WHERE props LIKE '%7%'")
      assert(count() == expectSurvivors - likeMatches,
        "row-level DELETE fallback removed the wrong rows")
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_dml")
  }

  test("_file metadata column and overwrite-by-filter restate one slice") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_ow").toFile
    stage.listFiles().filter(_.getName.endsWith(".glog")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)
    }
    // _file groups match the on-disk reality exactly
    val byFile = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().select(col("_file")).groupBy(col("_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val onDisk = dir.listFiles().filter(_.getName.endsWith(".glog"))
      .map(f => f.getName ->
        java.nio.file.Files.readAllLines(f.toPath).size.toLong).toMap
    assert(byFile == onDisk, s"_file census diverged: $byFile vs $onDisk")
    // overwrite-by-filter: restate the high-value slice doubled
    spark.sql("DROP TABLE IF EXISTS graft_glog_ow")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_ow USING glog
        OPTIONS (path '${dir.getAbsolutePath}')""")
      val cut = 100.0
      val untouched = dir.listFiles().filter(_.getName.endsWith(".glog"))
        .filter(f => GraftLogSource.minMaxFromName(f.getName).exists(_._2 < cut))
        .map(f => f.getName -> f.lastModified()).toMap
      val lowBefore = spark.sql(
        s"SELECT count(*) FROM graft_glog_ow WHERE value < $cut")
        .collect()(0).getLong(0)
      // restated slice sourced from the immutable fixture copy (a
      // self-referential overwrite is the reader's own race to lose)
      val replacement = spark.read.format("glog")
        .option("path", stage.getAbsolutePath).load()
        .filter(col("value") >= cut)
      val nSlice = replacement.count()
      replacement.writeTo("graft_glog_ow").overwrite(col("value") >= cut)
      val total = spark.sql("SELECT count(*) FROM graft_glog_ow")
        .collect()(0).getLong(0)
      assert(total == lowBefore + nSlice,
        s"overwrite-by-filter lost/duplicated rows: $total")
      // the untouched low-value files were not rewritten
      untouched.foreach { case (n, m) =>
        val f = new java.io.File(dir, n)
        assert(f.exists() && f.lastModified() == m, s"zone-skipped $n rewritten")
      }
      // unsupported replace predicates are rejected at analysis time
      intercept[Exception] {
        replacement.writeTo("graft_glog_ow").overwrite(col("props") =!= "x")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_ow")
  }

  test("SQL UPDATE and MERGE INTO rewrite affected groups copy-on-write") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_rlo").toFile
    stage.listFiles().filter(_.getName.endsWith(".glog")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)
    }
    spark.sql("DROP TABLE IF EXISTS graft_glog_rlo")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_rlo USING glog
        OPTIONS (path '${dir.getAbsolutePath}')""")
      val cut = 100.0
      val n0 = spark.table("graft_glog_rlo").count()
      val nHigh = spark.table("graft_glog_rlo")
        .filter(col("value") >= cut).count()
      val untouched = dir.listFiles().filter(_.getName.endsWith(".glog"))
        .filter(f => GraftLogSource.minMaxFromName(f.getName).exists(_._2 < cut))
        .map(f => f.getName -> f.lastModified()).toMap
      assert(untouched.nonEmpty)
      val sumBefore = spark.sql(
        s"SELECT sum(CAST(round(value*100) AS BIGINT)) FROM graft_glog_rlo WHERE value >= $cut")
        .collect()(0).getLong(0)
      // UPDATE: double the high-value slice; row count must not move,
      // and afterwards the rows at value >= 2*cut are EXACTLY the
      // updated set (anything previously >= 2*cut doubled past it)
      spark.sql(s"UPDATE graft_glog_rlo SET value = value * 2 WHERE value >= $cut")
      assert(spark.table("graft_glog_rlo").count() == n0, "UPDATE changed row count")
      val doubled = spark.sql(
        s"SELECT count(*), sum(CAST(round(value*100) AS BIGINT)) FROM graft_glog_rlo WHERE value >= ${2 * cut}")
        .collect()(0)
      assert(doubled.getLong(0) == nHigh, s"updated rows missing: $doubled vs $nHigh")
      // cents re-round per row: |sum - 2*sumBefore| <= 1 per row
      assert(math.abs(doubled.getLong(1) - 2 * sumBefore) <= nHigh,
        s"updated sum off: ${doubled.getLong(1)} vs ${2 * sumBefore}")
      // zone-skipped low files were not rewritten by the UPDATE
      untouched.foreach { case (n, m) =>
        val f = new java.io.File(dir, n)
        assert(f.exists() && f.lastModified() == m, s"zone-skipped $n rewritten")
      }
      // MERGE INTO: matched rows restated, unmatched inserted
      spark.table("graft_glog_rlo")
        .filter(col("user_id") === 1).limit(3)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .createOrReplaceTempView("glog_merge_src")
      val srcIds = spark.table("glog_merge_src")
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(srcIds.nonEmpty)
      spark.sql("""MERGE INTO graft_glog_rlo t USING glog_merge_src s
        ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET t.event_type = 'merged'
        WHEN NOT MATCHED THEN INSERT *""")
      val merged = spark.sql(
        "SELECT count(*) FROM graft_glog_rlo WHERE event_type = 'merged'")
        .collect()(0).getLong(0)
      assert(merged == srcIds.size, s"MERGE matched $merged of ${srcIds.size}")
      assert(spark.table("graft_glog_rlo").count() == n0, "MERGE changed count")
      assert(!dir.listFiles().exists(_.getName.endsWith(".inprogress")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_glog_rlo")
      spark.catalog.dropTempView("glog_merge_src")
    }
  }

  test("fully-covered DELETE drops files from the manifest without opening them") {
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, EqualTo}
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cov").toFile
    // a file whose CONTENT would not parse: if deleteMatching opened
    // it, parseDouble would throw — the metadata-only path must not
    val covered = GraftLogSource.fileName(0, 50.0, 60.0)
    java.nio.file.Files.write(new java.io.File(dir, covered).toPath,
      "THIS IS NOT A VALID GLOG LINE".getBytes("UTF-8"))
    // a straddling file that must survive partially
    java.nio.file.Files.write(
      new java.io.File(dir, GraftLogSource.fileName(1, 10.0, 55.0)).toPath,
      "1\t1000\t1\tclick\t10.0\t{}\n2\t2000\t2\tclick\t55.0\t{}\n".getBytes("UTF-8"))
    val dirPath = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    GraftLogSource.deleteMatching(dirPath,
      Array[Filter](GreaterThanOrEqual("value", 50.0)))
    // LIVE set: only the straddler's copy-on-write replacement; the
    // fully-covered file was dropped metadata-only (its unparsable
    // content proves nothing opened it) and stays on disk as an
    // orphan until vacuum
    val names = GraftLogSource.listCommitted(dirPath, conf, Seq.empty)
      ._1.map(_.getPath.getName)
    assert(names.length == 1, names.mkString(","))
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(dir, names.head).toPath)
    assert(lines.size == 1 && lines.get(0).startsWith("1\t"),
      s"straddler not rewritten correctly: $lines")
    assert(new java.io.File(dir, covered).exists(),
      "fully-covered orphan should persist until vacuum")
    assert(GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L) == 2)
    assert(dir.listFiles().map(_.getName).count(_.endsWith(".glog")) == 1)
    // coverage proof is conservative: non-value predicates never take
    // the metadata-only path
    assert(!GraftLogSource.zoneMapFullyCovers(50.0, 60.0,
      Seq(EqualTo("event_type", "click"))))
    assert(GraftLogSource.zoneMapFullyCovers(50.0, 60.0,
      Seq(GreaterThanOrEqual("value", 50.0))))
    assert(!GraftLogSource.zoneMapFullyCovers(49.0, 60.0,
      Seq(GreaterThanOrEqual("value", 50.0))))
  }

  test("REPLACE WHERE in a pre-manifest directory never duplicates the new batch") {
    // regression: the delete kernel must stage against the PRE-claim
    // live set — in raw-listing fallback mode a just-claimed new file
    // partially matching the predicate used to be copy-on-write
    // rewritten AND re-added whole, duplicating its non-matching rows
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_rw").toFile
    (0 until 10).foreach { i =>
      val v = i.toDouble
      java.nio.file.Files.write(
        new java.io.File(dir, GraftLogSource.fileName(i, v, v)).toPath,
        s"$i\t${1000000L * i}\t$i\tclick\t$v\t{}\n".getBytes("UTF-8"))
    }
    // new batch: one file with values {5.0, 3.0} — zone range [3,5]
    // PARTIALLY matches the REPLACE WHERE value >= 5 predicate
    val w = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
      .createWriter(0, 77L)
    def row(id: Long, v: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("new"), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    w.write(row(100L, 5.0))
    w.write(row(101L, 3.0))
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    val bw = new graft.sources.GlogBatchWrite(
      dir.getAbsolutePath, GraftLogSource.SchemaFixed,
      truncateFirst = false,
      replaceWhere = Array[Filter](GreaterThanOrEqual("value", 5.0)))
    bw.commit(Array(w.commit()))
    val back = spark.read.format("glog")
      .option("path", dir.getAbsolutePath).load()
    // old rows >= 5 deleted (5 of 10), both new rows present ONCE
    assert(back.count() == 7, "REPLACE WHERE lost or duplicated rows")
    assert(back.filter(col("event_id") === 101L).count() == 1,
      "non-matching row of the new batch was duplicated")
    assert(back.filter(col("event_id") === 100L).count() == 1)
  }

  test("DELETE routes by measured cost; TRUNCATE is metadata-only") {
    // 20 single-row files with disjoint zone maps
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_gate").toFile
    (0 until 20).foreach { i =>
      val v = i.toDouble
      java.nio.file.Files.write(
        new java.io.File(dir, GraftLogSource.fileName(i, v, v)).toPath,
        s"$i\t${1000000L * i}\t$i\tclick\t$v\t{}\n".getBytes("UTF-8"))
    }
    import org.apache.spark.sql.connector.catalog.SupportsDelete
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val table = new GraftLogSource().getTable(null, Array.empty,
      java.util.Map.of("path", dir.getAbsolutePath))
      .asInstanceOf[SupportsDelete]
    // a wide predicate affects 20 files > the 16-file driver budget:
    // the driver path declines and Spark uses the executor-parallel
    // copy-on-write rewrite for the SAME statement
    import org.apache.spark.sql.sources.Filter
    assert(!table.canDeleteWhere(
      Array[Filter](GreaterThanOrEqual("value", 0.0))))
    // a boundary predicate affects 2 files: driver path accepted
    assert(table.canDeleteWhere(
      Array[Filter](GreaterThanOrEqual("value", 18.0))))
    spark.sql("DROP TABLE IF EXISTS graft_glog_gate")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_gate USING glog
        OPTIONS (path '${dir.getAbsolutePath}')""")
      def count() = spark.sql("SELECT count(*) FROM graft_glog_gate")
        .collect()(0).getLong(0)
      assert(count() == 20)
      // over-budget DELETE still works (row-level fallback), exactly
      spark.sql("DELETE FROM graft_glog_gate WHERE value >= 5.0")
      assert(count() == 5, "fallback DELETE removed the wrong rows")
      // TRUNCATE TABLE: metadata-only — readers see an empty table,
      // but no byte is unlinked (displaced files are snapshot orphans
      // a concurrent appender or time-travel reader may still hold);
      // vacuum reclaims them
      val glogsBefore = dir.listFiles().count(_.getName.endsWith(".glog"))
      spark.sql("TRUNCATE TABLE graft_glog_gate")
      assert(count() == 0)
      assert(dir.listFiles().count(_.getName.endsWith(".glog")) == glogsBefore,
        "TRUNCATE must not unlink (vacuum's job)")
      assert(GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L) == glogsBefore)
      assert(!dir.listFiles().exists(_.getName.endsWith(".glog")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_gate")
  }

  test("reported statistics drive the broadcast decision") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    def side(pushdown: Boolean) = spark.read.format("glog")
      .option("path", stage.getAbsolutePath)
      .option("pushdown", pushdown.toString).load()
      .filter(col("value") >= 400.0)
      .select(col("user_id"), col("value"))
    // zone-map pruning + column pruning shrink the reported size
    val sPruned = side(true).queryExecution.optimizedPlan.stats.sizeInBytes
    val sFull = side(false).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sPruned < sFull, s"stats did not shrink: $sPruned vs $sFull")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    // pre-execution plan: the COST-BASED decision (AQE's runtime
    // rescue would broadcast the foil too once it sees actual bytes)
    def joinPlan(glogSide: org.apache.spark.sql.DataFrame): String =
      spark.table("events").join(glogSide, "user_id")
        .agg(count(lit(1)))
        .queryExecution.sparkPlan.toString
    try {
      // pin the threshold BETWEEN the two estimates: the pruned glog
      // side (joined on the RIGHT) must be chosen as the build side;
      // the unpruned foil must not be (the planner either broadcasts
      // the other side or falls back to a shuffled join)
      spark.conf.set(key, ((sPruned + sFull) / 2).toString)
      val pruned = joinPlan(side(true))
      assert(pruned.contains("BroadcastHashJoin") && pruned.contains("BuildRight"),
        pruned.take(600))
      assert(!joinPlan(side(false)).contains("BuildRight"))
    } finally spark.conf.set(key, saved)
  }

  test("streaming read drains the directory in admission-bounded batches") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_glog_ck").toString
    val partials = scala.collection.mutable.HashMap.empty[String, Long]
    val q = spark.readStream.format("glog")
      .option("path", stage.getAbsolutePath)
      .option("maxFilesPerTrigger", "3")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy(col("event_type")).count().collect().foreach { r =>
          partials.synchronized {
            partials(r.getString(0)) =
              partials.getOrElse(r.getString(0), 0L) + r.getLong(1)
          }
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 8 fixture files under maxFilesPerTrigger=3 → 3 bounded batches
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 3, s"expected 3 paced batches, got $batches")
    val batch = spark.table("events").groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(partials.toMap == batch,
      s"streamed totals diverged: $partials vs $batch")
  }

  test("stream offsets: json round-trip, legacy integer checkpoints, bad input loud") {
    val o = new graft.sources.GlogOffset(5L, 9L, 3)
    val back = graft.sources.GlogOffset.parse(o.json())
    assert(back.anchor == 5L && back.v == 9L && back.i == 3 && back == o)
    // a pre-version-offset checkpoint (plain baseline index) restores
    // into version-0 baseline mode
    val legacy = graft.sources.GlogOffset.parse("7")
    assert(legacy.anchor == 0L && legacy.v == 0L && legacy.i == 7)
    intercept[IllegalArgumentException] {
      graft.sources.GlogOffset.parse("not-an-offset")
    }
    // json-equality is SYMMETRIC with checkpoint-restored
    // SerializedOffsets (the Offset base-class contract): a
    // direction-sensitive compare in the engine must never read a
    // restored offset as new data
    import org.apache.spark.sql.execution.streaming.SerializedOffset
    val ser = SerializedOffset(o.json())
    assert((o: Any) == (ser: Any) && (ser: Any) == (o: Any))
    val cdc = new graft.sources.GlogCdcOffset(2L, 7L)
    val cdcBack = graft.sources.GlogCdcOffset.parse(cdc.json())
    assert(cdcBack.init == 2L && cdcBack.v == 7L && cdcBack == cdc)
    val cdcSer = SerializedOffset(cdc.json())
    assert((cdc: Any) == (cdcSer: Any) && (cdcSer: Any) == (cdc: Any))
  }

  test("public change-feed options validate loudly") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cfo").toFile
    // half-specified range is an analysis-time error, not a mis-read
    val e1 = intercept[Exception] {
      spark.read.format("glog").option("path", dir.getAbsolutePath)
        .option("changeFeedFrom", "1").load()
    }
    assert(e1.getMessage.contains("changeFeedTo"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("glog").option("path", dir.getAbsolutePath)
        .option("changeFeedFrom", "x").option("changeFeedTo", "2").load()
    }
    assert(e2.getMessage.contains("numeric"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.read.format("glog").option("path", dir.getAbsolutePath)
        .option("changeFeedFrom", "3").option("changeFeedTo", "2").load()
    }
    assert(e3.getMessage.contains("changeFeedFrom"), e3.getMessage)
  }

  test("streaming offsets follow the manifest: compaction is transparent, replaces fail loud") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_vstream").toFile
    val path = dir.getAbsolutePath
    val ev = spark.table("events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    def slice(k: Int) = ev.filter(col("event_id") % 3 === k)
    val (n0, n1, n2) = (slice(0).count(), slice(1).count(), slice(2).count())
    slice(0).repartition(4).write.format("glog")
      .option("path", path).mode("append").save()              // v1: 4 files
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vs_ck").toString
    val total = new java.util.concurrent.atomic.AtomicLong()
    def drain(ignoreChanges: Boolean): (Long, Long) = {
      val before = total.get()
      val q = spark.readStream.format("glog").option("path", path)
        .option("maxFilesPerTrigger", "2")
        .option("ignoreChanges", ignoreChanges.toString)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          total.addAndGet(b.count()): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (total.get() - before, q.recentProgress.count(_.numInputRows > 0).toLong)
    }
    // initial snapshot drains paced: 4 files / maxFilesPerTrigger=2
    val (got0, batches0) = drain(ignoreChanges = false)
    assert(got0 == n0 && batches0 == 2, s"snapshot drain: $got0 rows, $batches0 batches")
    // append v2, COMPACT (a replace commit: every live name swaps),
    // append v4 — all between restarts of the same checkpoint
    slice(1).coalesce(1).write.format("glog")
      .option("path", path).mode("append").save()              // v2
    GraftLogSource.compact(spark, path)                        // v3: replace
    slice(2).coalesce(1).write.format("glog")
      .option("path", path).mode("append").save()              // v4
    // default contract: a replace commit mid-history fails LOUDLY
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ignoreChanges = false)
    }
    assert(err.getMessage.contains("replaced") ||
      Option(err.getCause).exists(_.getMessage.contains("replaced")),
      s"wrong failure: ${err.getMessage}")
    // ignoreChanges: the stream keeps its place THROUGH the compact
    // and RE-EMITS the replace commit's added files (Delta's
    // ignoreChanges contract — rewritten rows arrive again as
    // documented at-least-once duplicates, but nothing is ever lost):
    // v2's add (n1), v3's compacted generation (the n0+n1 rows it
    // rewrote, again), then v4's add (n2)
    val (got1, _) = drain(ignoreChanges = true)
    assert(got1 == n1 + (n0 + n1) + n2,
      s"resume through compact emitted $got1 rows, want ${n1 + (n0 + n1) + n2}")
    assert(total.get() == n0 + n1 + (n0 + n1) + n2)
    // a FRESH stream anchors at the latest snapshot and sees all rows
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_vs_ck2").toString
    val fresh = new java.util.concurrent.atomic.AtomicLong()
    val q2 = spark.readStream.format("glog").option("path", path).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        fresh.addAndGet(b.count()): Unit
      }
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(fresh.get() == n0 + n1 + n2, s"fresh snapshot saw ${fresh.get()}")
  }

  test("ignoreChanges never loses a REPLACE WHERE commit's inserted rows") {
    // regression (round-13 ADVICE): skipping replace commits outright
    // dropped rows a REPLACE WHERE genuinely INSERTED in the same
    // version as its deletes — the re-emit contract delivers them
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_rwstream").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    (0L until 4L).foreach { i => // v1..v4: one single-row file each
      Seq((i, new java.sql.Timestamp(1000L * i), i, "click", i.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rw_ck").toString
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val total = new java.util.concurrent.atomic.AtomicLong()
    def drain(): Long = {
      val before = total.get()
      val q = spark.readStream.format("glog").option("path", path)
        .option("ignoreChanges", "true").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("event_id").collect().foreach(r => seen.add(r.getLong(0)): Unit)
          total.addAndGet(b.count()): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      total.get() - before
    }
    assert(drain() == 4L)
    // REPLACE WHERE value >= 2 with a batch holding genuinely NEW rows
    // (single-row files → the drops are metadata-only, so the commit's
    // adds are exactly the new batch — no rewrite duplicates here)
    val w = new graft.sources.GlogWriterFactory(path).createWriter(0, 9L)
    def row(id: Long, v: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("new"), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    w.write(row(100L, 5.0))
    w.write(row(101L, 1.5))
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
      truncateFirst = false,
      replaceWhere = Array[Filter](GreaterThanOrEqual("value", 2.0)))
      .commit(Array(w.commit()))                                  // v5: replace
    val got = drain()
    assert(seen.contains(100L) && seen.contains(101L),
      s"REPLACE WHERE's inserted rows were lost under ignoreChanges: $seen")
    assert(got == 2L, s"replace commit re-emitted $got rows, want its 2 adds")
  }

  test("readChangeFeed stream: stream==batch row-level CDC over append+DELETE+append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cdc").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def appendRows(rows: Seq[(Long, Double)]): Unit =
      rows.map { case (id, v) =>
        (id, new java.sql.Timestamp(1000L * id), id, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    (0L until 4L).foreach(i => appendRows(Seq((i, i.toDouble)))) // v1..v4
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ck").toString
    // rows compare INCLUDING the CDC metadata columns: stream and
    // batch must agree on _commit_version AND _commit_timestamp (both
    // resolve the same manifest mtime), not just on the data rows
    type CdcRow = (Long, String, Long, Long)
    def cdcRows(df: org.apache.spark.sql.DataFrame): Seq[CdcRow] =
      df.select(col("event_id"), col("_change_type"),
          col("_commit_version"), col("_commit_timestamp"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getTimestamp(3).getTime)).toSeq.sorted
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Seq[CdcRow])]()
    def startStream() = spark.readStream.format("glog").option("path", path)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add((id, cdcRows(b))): Unit
      }
      .option("checkpointLocation", ckpt)
      .start()
    def feed(a: Long, b: Long): Seq[CdcRow] =
      cdcRows(GraftLogSource.changeFeed(spark, path, a, b))
    val q = startStream()
    q.processAllAvailable()
    // admission control: maxVersionsPerTrigger=1 → one batch per
    // version, in version order, each exactly the batch changeFeed
    import scala.jdk.CollectionConverters._
    val phase1 = batches.asScala.toSeq
    assert(phase1.map(_._2) == Seq(feed(1, 2), feed(2, 3), feed(3, 4)),
      s"per-version drain diverged: $phase1")
    assert(phase1.flatMap(_._2).forall(_._2 == "insert"))
    // per-commit attribution: each single-version batch stamps exactly
    // its producing version
    assert(phase1.map(_._2.map(_._3).distinct) ==
      Seq(Seq(2L), Seq(3L), Seq(4L)),
      s"_commit_version attribution diverged: $phase1")
    // DELETE (metadata-only: single-row files fully covered) + append,
    // mid-stream: deletes arrive as rows, THEN the new insert — in
    // commit order
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    GraftLogSource.deleteMatching(
      new org.apache.hadoop.fs.Path(path),
      Array[Filter](GreaterThanOrEqual("value", 2.0)))           // v5
    appendRows(Seq((9L, 9.0)))                                   // v6
    q.processAllAvailable()
    val phase2 = batches.asScala.toSeq.drop(phase1.length)
    assert(phase2.map(_._2) == Seq(feed(4, 5), feed(5, 6)),
      s"delete/insert phase diverged: $phase2")
    assert(phase2.head._2.map(t => (t._1, t._2)) ==
      Seq((2L, "delete"), (3L, "delete")),
      s"deletes not delivered: ${phase2.head}")
    assert(phase2(1)._2.map(t => (t._1, t._2)) == Seq((9L, "insert")))
    q.stop()
    // copy-on-write DELETE while the stream is DOWN: survivors of the
    // rewritten file must cancel (EXCEPT ALL) — only the true delete
    // emits after restart; the restart replays from the checkpoint,
    // never from a recomputed "latest"
    appendRows(Seq((10L, 10.0), (11L, 11.0)))                    // v7: one file
    GraftLogSource.deleteMatching(
      new org.apache.hadoop.fs.Path(path),
      Array[Filter](org.apache.spark.sql.sources.EqualTo("value", 10.0))) // v8
    val q2 = startStream()
    q2.processAllAvailable()
    q2.stop()
    val phase3 = batches.asScala.toSeq.drop(phase1.length + phase2.length)
    assert(phase3.map(_._2) == Seq(feed(6, 7), feed(7, 8)),
      s"restart phase diverged: $phase3")
    assert(phase3(1)._2.map(t => (t._1, t._2)) == Seq((10L, "delete")),
      s"carried survivor not cancelled: ${phase3(1)}")
    // DEFAULT admission (no maxVersionsPerTrigger) is PER-COMMIT:
    // a fresh stream over the 7-commit backlog drains one micro-batch
    // per version, each stamping exactly its producing
    // _commit_version (Delta-CDF-parity attribution out of the box)
    val ckptDef = java.nio.file.Files.createTempDirectory("graft_cdc_ckd").toString
    val defBatches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[CdcRow]]()
    val qDef = spark.readStream.format("glog").option("path", path)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        defBatches.add(cdcRows(b)): Unit
      }
      .option("checkpointLocation", ckptDef)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qDef.awaitTermination()
    val defGot = defBatches.asScala.toSeq
    assert(defGot.length == 7L,
      s"default drain used ${defGot.length} batches, want 7 (per commit)")
    assert(defGot == (1 to 7).map(v => feed(v.toLong, v + 1L)),
      s"default per-commit drain diverged: $defGot")
    // distinct per-commit attribution across the whole backlog: each
    // batch stamps exactly its producing version, in commit order
    assert(defGot.map(_.map(_._3).distinct) ==
      (2 to 8).map(v => Seq(v.toLong)),
      s"default drain commit versions not per-batch distinct: $defGot")
    // an explicitly RAISED budget is the NET catch-up opt-in: the
    // whole backlog collapses into one batch — exactly batch
    // changeFeed(1, latest)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cdc_ck2").toString
    val net = new java.util.concurrent.atomic.AtomicReference[Seq[CdcRow]](Seq.empty)
    val nNetBatches = new java.util.concurrent.atomic.AtomicLong()
    val q3 = spark.readStream.format("glog").option("path", path)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1000")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        nNetBatches.incrementAndGet()
        net.set(net.get() ++ cdcRows(b)): Unit
      }
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q3.awaitTermination()
    assert(nNetBatches.get() == 1L, s"net drain used ${nNetBatches.get()} batches")
    assert(net.get().sorted == feed(1, 8), s"net delta diverged: ${net.get()}")
    // endpoint stamping, the documented multi-version NET contract:
    // the collapsed range attributes every row to its `to` endpoint
    assert(net.get().map(_._3).distinct == Seq(8L),
      s"net batch did not stamp the range end: ${net.get()}")
    // AvailableNow WITH admission control: the source's native
    // SupportsTriggerAvailableNow freezes the end and getOffset walks
    // to it budget-by-budget — paced batches AND termination (the
    // generic V1 wrapper would have collapsed this into one unbounded
    // batch)
    val nPaced = new java.util.concurrent.atomic.AtomicLong()
    val pacedRows = new java.util.concurrent.atomic.AtomicLong()
    val q4 = spark.readStream.format("glog").option("path", path)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        nPaced.incrementAndGet()
        pacedRows.addAndGet(b.count()): Unit
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cdc_ck4").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q4.awaitTermination()
    assert(nPaced.get() == 7L,
      s"paced AvailableNow drain used ${nPaced.get()} batches, want 7 (v1..v8)")
    assert(pacedRows.get() == (1 to 7).map(v => feed(v, v + 1).length).sum,
      s"paced drain row total diverged: ${pacedRows.get()}")
    // validation is loud: unretained startingVersion; batch spelling
    val e1 = intercept[Exception] {
      val qq = spark.readStream.format("glog").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "999")
        .load().writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_cdc_ck3").toString)
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(e1.getMessage.contains("startingVersion") ||
      Option(e1.getCause).exists(_.getMessage.contains("startingVersion")),
      e1.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("glog").option("path", path)
        .option("readChangeFeed", "true").load().collect()
    }
    assert(e2.getMessage.contains("STREAMING") ||
      Option(e2.getCause).exists(_.getMessage.contains("STREAMING")),
      e2.getMessage)
    // the measured entries agree end-to-end: full-history drain (one
    // batch per commit, per-version censuses exact) and the
    // steady-state fixed-delta twin (one batch, inserts only)
    Tables.register(spark, sf)
    val cdc = EngineOps.queries("eng_stream_cdc")(spark, sf).collect()(0)
    assert(cdc.getAs[Boolean]("per_version_ok"), cdc.toString)
    assert(cdc.getAs[Boolean]("commit_version_ok"), cdc.toString)
    assert(cdc.getAs[Long]("n_batches") == 3L, cdc.toString)
    assert(cdc.getAs[Long]("n_delete") > 0L, cdc.toString)
    val sd = EngineOps.queries("eng_stream_cdc_small_delta")(spark, sf).collect()(0)
    assert(sd.getAs[Boolean]("ok"), sd.toString)
    assert(sd.getAs[Long]("n_batches") == 1L, sd.toString)
  }

  test("runtime filters prune reader rows and DML rewrite groups (eng_dsv2_runtime_filter)") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_runtime_filter")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_join_foil", "2_join_pruned", "3_dml_group"))
    // every stage ok: identical join results, runtime filter actually
    // delivered (census), DML counts exact
    assert(rows.forall(_.getBoolean(5)), rows.mkString("; "))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    val (foil, pruned, dml) =
      (byStage("1_join_foil"), byStage("2_join_pruned"), byStage("3_dml_group"))
    // the runtime IN drops non-matching rows BEFORE the join
    assert(pruned.getLong(3) < foil.getLong(3),
      s"no runtime row pruning: $pruned vs $foil")
    assert(pruned.getLong(3) > 0)
    // runtime group filtering narrows the copy-on-write rewrite to
    // THE one file containing the updated row; the others stay
    // byte-untouched even though the zone map cannot exonerate them
    assert(dml.getInt(2) == 1, s"group filter did not narrow the rewrite: $dml")
    assert(dml.getLong(3) == foil.getInt(1) - 1L,
      s"untouched-file census off: $dml")
  }

  test("clustered writes commit disjoint bounds that prune the majority (eng_dsv2_clustered_write)") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_clustered_write")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_scrambled", "2_clustered", "3_compacted"))
    assert(rows.forall(_.getBoolean(6)), rows.mkString("; "))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    val (scr, cl, cp) =
      (byStage("1_scrambled"), byStage("2_clustered"), byStage("3_compacted"))
    // identical content all three ways
    assert(scr.getLong(2) == cl.getLong(2) && scr.getLong(3) == cl.getLong(3))
    assert(cp.getLong(2) == scr.getLong(2) && cp.getLong(3) == scr.getLong(3),
      "compaction changed content")
    // a round-robin-scrambled write spans the full range per file;
    // the clustered write's range exchange makes bounds disjoint,
    // and compacting the scrambled sink restores the same property
    assert(!scr.getBoolean(4) && cl.getBoolean(4) && cp.getBoolean(4),
      s"bounds: $scr / $cl / $cp")
    assert(!scr.getBoolean(5) && cl.getBoolean(5) && cp.getBoolean(5),
      s"pruning: $scr / $cl / $cp")
    // strict census: the same top-quarter query keeps at most half
    // the files against the clustered and compacted layouts
    val sfName = java.nio.file.Paths.get(sf).getFileName.toString
    val base = new java.io.File(sys.props("java.io.tmpdir"), s"graft_glog_cl_$sfName")
    def kept(name: String) = GraftLogSource.planCensus
      .get(new java.io.File(base, name).getAbsolutePath)._2
    assert(kept("2_clustered") >= 1 && kept("2_clustered") * 2 <= 8,
      s"clustered layout not pruned: ${kept("2_clustered")}")
    // "1_scrambled"'s census now reflects its COMPACTED state
    assert(kept("1_scrambled") >= 1 && kept("1_scrambled") * 2 <= 8,
      s"compacted layout not pruned: ${kept("1_scrambled")}")
  }

  test("copy-on-write DELETE leaves tight bounds; compact consolidates via one manifest swap") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cp").toFile
    // two straddling files whose upper halves the DELETE removes
    java.nio.file.Files.write(
      new java.io.File(dir, GraftLogSource.fileName(0, 10.0, 120.0)).toPath,
      "1\t1000\t1\ta\t10.0\t{}\n2\t2000\t2\ta\t120.0\t{}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(dir, GraftLogSource.fileName(1, 30.0, 150.0)).toPath,
      "3\t3000\t3\ta\t30.0\t{}\n4\t4000\t4\ta\t150.0\t{}\n".getBytes("UTF-8"))
    val p = new Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    GraftLogSource.deleteMatching(p,
      Array[Filter](GreaterThanOrEqual("value", 100.0)))
    // copy-on-write recomputes bounds TIGHT immediately: the deleted
    // range prunes to zero live files, no compaction needed for that
    val afterDelete = GraftLogSource.listCommitted(p, conf,
      Seq(GreaterThanOrEqual("value", 100.0)))._1
    assert(afterDelete.isEmpty,
      s"bounds not tight after copy-on-write DELETE: ${afterDelete.length}")
    // the delete split the table into 2 single-row live files; compact
    // consolidates them (file-count maintenance) via ONE manifest swap
    assert(GraftLogSource.listCommitted(p, conf, Seq.empty)._2 == 2)
    GraftLogSource.compact(spark, dir.getAbsolutePath)
    // content preserved exactly
    val vals = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().select(col("value")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals == Seq(10.0, 30.0), s"compaction changed content: $vals")
    // every live row sits inside its file's claimed range
    val live = GraftLogSource.listCommitted(p, conf, Seq.empty)._1
    live.foreach { s =>
      val (mn, mx) = GraftLogSource.minMaxFromName(s.getPath.getName).get
      val rows = java.nio.file.Files.readAllLines(
          new java.io.File(dir, s.getPath.getName).toPath)
        .toArray(Array.empty[String]).map(_.split("\t", 6)(4).toDouble)
      assert(rows.forall(v => v >= mn && v <= mx),
        s"loose bounds: ${s.getPath.getName}")
    }
    // no staging residue
    assert(!new java.io.File(dir.getParentFile,
      dir.getName + ".compact").exists())
    // RE-RUNNING compact converges: the manifest (not the listing) is
    // the source of truth, so the orphaned prior generations can never
    // be folded back in as duplicates
    GraftLogSource.compact(spark, dir.getAbsolutePath)
    val again = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().select(col("value")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(again == Seq(10.0, 30.0), s"compact replay duplicated rows: $again")
    // a hand-planted orphan claim (a crashed commit's rename that
    // never reached its CAS) is invisible to readers and reclaimed by
    // vacuum — the pre-manifest protocol's duplicate window is gone
    val orphan = GraftLogSource.fileName(9000, 10.0, 10.0)
    java.nio.file.Files.write(new java.io.File(dir, orphan).toPath,
      "1\t1000\t1\ta\t10.0\t{}\n".getBytes("UTF-8"))
    assert(spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().count() == 2, "orphaned claim leaked into reads")
    GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L): Unit
    assert(!new java.io.File(dir, orphan).exists(), "vacuum missed the orphan")
  }

  test("MERGE group scans decline runtime filtering; UPDATE/DELETE accept it") {
    // the split exists because a MERGE source can reference the
    // target table itself, and Spark's group-filter subquery over the
    // deduplicated self-reference is unplannable — the self-merge in
    // the UPDATE/MERGE spec above is the regression test; here the
    // scan shapes themselves are pinned
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    def scanFor(cmd: Command) = {
      val b = new graft.sources.GlogScanBuilder("/tmp/nowhere", pushdown = true,
        groupScan = Some(java.util.concurrent.ConcurrentHashMap.newKeySet[String]()),
        runtimeFilterable = cmd != Command.MERGE)
      b.build()
    }
    assert(!scanFor(Command.MERGE).isInstanceOf[SupportsRuntimeV2Filtering])
    assert(scanFor(Command.UPDATE).isInstanceOf[SupportsRuntimeV2Filtering])
    assert(scanFor(Command.DELETE).isInstanceOf[SupportsRuntimeV2Filtering])
    // regular batch scans accept runtime filters; the pushdown=false
    // foil declines them (filterAttributes empty)
    val regular = new graft.sources.GlogScanBuilder("/tmp/nowhere",
      pushdown = true).build()
    assert(regular.isInstanceOf[SupportsRuntimeV2Filtering])
    assert(regular.asInstanceOf[SupportsRuntimeV2Filtering]
      .filterAttributes().map(_.fieldNames()(0)).toSet ==
      Set("value", "user_id", "event_type"))
    val foil = new graft.sources.GlogScanBuilder("/tmp/nowhere",
      pushdown = false).build()
    assert(foil.asInstanceOf[SupportsRuntimeV2Filtering]
      .filterAttributes().isEmpty)
  }

  test("Hadoop FS seam: listing, write, read, and DML through a file:// URI") {
    // every IO touch goes through org.apache.hadoop.fs.FileSystem —
    // this case drives the full lifecycle with a scheme-qualified
    // URI (LocalFileSystem resolved from the session's Hadoop conf),
    // the same code path an hdfs:// or s3a:// deployment exercises
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_fs").toFile
    val uri = "file://" + dir.getAbsolutePath
    val ev = spark.table("events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    // write through the FS API via the qualified URI
    ev.write.format("glog").option("path", uri).mode("overwrite").save()
    def names() = Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName)
    assert(names().count(_.endsWith(".glog")) > 0, "no committed files")
    // raw local FS: no checksum sidecars may appear (they would go
    // stale under the DELETE rewrite's atomic same-name replace)
    assert(!names().exists(_.endsWith(".crc")), names().mkString(","))
    // read back through the same URI: exact round-trip
    val back = spark.read.format("glog").option("path", uri).load()
    assert(back.count() == ev.count())
    // DML through a catalog table whose LOCATION is the URI
    spark.sql("DROP TABLE IF EXISTS graft_glog_fs")
    try {
      spark.sql(s"CREATE TABLE graft_glog_fs USING glog OPTIONS (path '$uri')")
      val cut = 100.0
      val expect = spark.sql(
        s"SELECT count(*) FROM graft_glog_fs WHERE value < $cut")
        .collect()(0).getLong(0)
      spark.sql(s"DELETE FROM graft_glog_fs WHERE value >= $cut")
      val n = spark.sql("SELECT count(*) FROM graft_glog_fs")
        .collect()(0).getLong(0)
      assert(n == expect, s"URI-path DELETE removed the wrong rows: $n vs $expect")
      assert(!names().exists(n => n.endsWith(".rewrite") || n.endsWith(".crc")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_fs")
  }

  test("Long predicates on user_id evaluate exactly above 2^53") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}
    // 2^53 + 1 is the first long a double cannot represent: the old
    // widen-to-double spelling collapsed it onto 2^53 and range
    // predicates misevaluated silently
    val big = (1L << 53) + 1
    def ev(f: org.apache.spark.sql.sources.Filter, uid: Long): Boolean =
      GraftLogSource.eval(f, 1L, 0L, uid, "click", 1.0, "{}")
    assert(!ev(GreaterThan("user_id", java.lang.Long.valueOf(big)), big))
    assert(ev(GreaterThan("user_id", java.lang.Long.valueOf(big)), big + 1))
    assert(!ev(GreaterThan("user_id", java.lang.Long.valueOf(big)), big - 1))
    assert(ev(LessThanOrEqual("user_id", java.lang.Long.valueOf(big)), big))
    assert(!ev(LessThanOrEqual("user_id", java.lang.Long.valueOf(big)), big + 1))
    assert(ev(EqualTo("user_id", java.lang.Long.valueOf(big)), big))
    assert(!ev(EqualTo("user_id", java.lang.Long.valueOf(big)), big + 1))
    // a fractional double literal never equals a long exactly
    assert(!ev(EqualTo("user_id", java.lang.Double.valueOf(2.5)), 2L))
    assert(ev(GreaterThan("user_id", java.lang.Double.valueOf(2.5)), 3L))
    assert(!ev(GreaterThan("user_id", java.lang.Double.valueOf(2.5)), 2L))
    // and Long.MaxValue compares exactly against a huge double
    assert(ev(LessThanOrEqual("user_id", java.lang.Double.valueOf(9.3e18)), Long.MaxValue))
    assert(!ev(GreaterThan("user_id", java.lang.Double.valueOf(9.3e18)), Long.MaxValue))
    // infinities: every long sits below +Inf and above -Inf (must not
    // crash the BigDecimal fallback)
    assert(ev(LessThanOrEqual("user_id", java.lang.Double.valueOf(Double.PositiveInfinity)), Long.MaxValue))
    assert(!ev(GreaterThan("user_id", java.lang.Double.valueOf(Double.PositiveInfinity)), Long.MaxValue))
    assert(ev(GreaterThan("user_id", java.lang.Double.valueOf(Double.NegativeInfinity)), Long.MinValue))
  }

  test("listing order is numeric in the part index, stable past part-9999") {
    val names = Seq("part-10000_0_0.glog", "part-2000_0_0.glog",
      "part-0001_0_0.glog", "part-9999_0_0.glog", "zzz-custom.glog")
    val sorted = names.sortBy(GraftLogSource.listingOrder)
    assert(sorted == Seq("part-0001_0_0.glog", "part-2000_0_0.glog",
      "part-9999_0_0.glog", "part-10000_0_0.glog", "zzz-custom.glog"),
      sorted.mkString(","))
  }

  test("connector column stats drive a cost-based broadcast flip without ANALYZE") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_colstats")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_blind", "2_cbo_colstats"))
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
    // the flip itself: with the broadcast threshold pinned between
    // the stats-blind and colstats-informed estimates of the SAME
    // filtered glog subtree, only the CBO plan may broadcast it —
    // pre-AQE sparkPlan, the cost-based decision
    val path = EngineOps.ensureCsLayout(spark, sf)
    // cut just under the smallest per-file max: every file straddles
    // it (zone map prunes NOTHING — the size-based estimate cannot
    // see the selectivity), yet it sits high in the value RANGE of a
    // front-loaded distribution, so the colstats range interpolation
    // reads it as selective
    val bounds = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".glog"))
      .flatMap(f => GraftLogSource.minMaxFromName(f.getName))
    val cut = bounds.map(_._2).min * 0.999
    assert(cut > bounds.map(_._1).min, "degenerate fixture bounds")
    def side() = spark.read.format("glog").option("path", path).load()
      .filter(col("value") >= cut).select(col("user_id"), col("value"))
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      def est(cbo: Boolean): BigInt = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        side().queryExecution.optimizedPlan.stats.sizeInBytes
      }
      val (sBlind, sCs) = (est(false), est(true))
      assert(sCs < sBlind, s"colstats did not shrink the estimate: $sCs vs $sBlind")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((sBlind + sCs) / 2).toString)
      def joinPlan(cbo: Boolean): String = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        // probe side big enough that IT can never broadcast under the
        // pinned threshold (at tiny SF the raw events table could)
        val big = Seq.fill(8)(spark.table("events")).reduce(_ unionAll _)
        // aggregate over the glog side's value so the join keeps BOTH
        // estimated columns (pruning one would halve the side vs its
        // estimate); renamed — both sides carry a value column
        big.join(side().withColumnRenamed("value", "gvalue"), "user_id")
          .agg(sum(col("gvalue"))).queryExecution.sparkPlan.toString
      }
      val informed = joinPlan(true)
      assert(informed.contains("BroadcastHashJoin") && informed.contains("BuildRight"),
        informed.take(600))
      assert(!joinPlan(false).contains("BuildRight"))
    } finally saved.foreach { case (k, v) =>
      v.map(spark.conf.set(k, _)).getOrElse(spark.conf.unset(k))
    }
  }

  test("streaming sink: stream-write -> batch-read equality, epoch replay idempotent") {
    Tables.register(spark, sf)
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect() // fixture
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val sink = java.nio.file.Files.createTempDirectory("graft_glog_ssink").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("graft_glog_ssck").toString
    // full loop: glog streaming SOURCE -> glog streaming SINK
    val q = spark.readStream.format("glog")
      .option("path", stage.getAbsolutePath)
      .option("maxFilesPerTrigger", "3")
      .load()
      .writeStream.format("glog")
      .option("path", sink.getAbsolutePath)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the replay ledger lives in _glog_metadata/, GC'd to the LATEST
    // epoch (older epochs can never replay once a newer commit was
    // invoked) — the data listing stays O(data files); no temp residue
    val names = sink.listFiles().map(_.getName)
    val meta = new java.io.File(sink, GraftLogSource.MetaDirName)
    val metaNames = Option(meta.listFiles()).getOrElse(Array.empty).map(_.getName)
    assert(names.count(_.startsWith("_epoch-")) == 0, names.mkString(","))
    assert(metaNames.count(_.startsWith("_epoch-")) == 2, metaNames.mkString(","))
    assert(metaNames.contains("_epoch-2.committed") &&
      metaNames.contains("_epoch-2.version"), metaNames.mkString(","))
    assert(!names.exists(_.endsWith(".inprogress")))
    assert(names.filter(_.endsWith(".glog"))
      .forall(n => GraftLogSource.minMaxFromName(n).isDefined))
    // exact equality with the batch spelling
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().map(_.toSeq).toSet
    val streamed = canon(spark.read.format("glog")
      .option("path", sink.getAbsolutePath).load())
    assert(streamed == canon(spark.table("events")), "stream-write diverged")
    assert(streamed.nonEmpty)
    // epoch replay: committing the SAME epoch again must discard, not
    // duplicate (the marker contract) — simulate a post-failure replay
    // of the LAST epoch (the only epoch the engine can ever replay,
    // and the one whose marker the GC retains)
    val sw = new graft.sources.GlogStreamingWrite(sink.getAbsolutePath,
      GraftLogSource.SchemaFixed)
    val fac = sw.createStreamingWriterFactory(null)
    val w = fac.createWriter(0, 999L, 2L)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](123456789L, 1000000L, 1L,
        org.apache.spark.unsafe.types.UTF8String.fromString("replayed"), 1.0,
        org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
    val msg = w.commit()
    sw.commit(2L, Array(msg)) // epoch 2 already committed by the query
    val after = canon(spark.read.format("glog")
      .option("path", sink.getAbsolutePath).load())
    assert(after == streamed, "replayed epoch appended duplicates")
    // a FRESH epoch with the same staged shape commits normally
    val w2 = fac.createWriter(0, 1000L, 777L)
    w2.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](123456789L, 1000000L, 1L,
        org.apache.spark.unsafe.types.UTF8String.fromString("fresh"), 1.0,
        org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
    sw.commit(777L, Array(w2.commit()))
    val withFresh = spark.read.format("glog")
      .option("path", sink.getAbsolutePath).load()
    assert(withFresh.filter(col("event_type") === "fresh").count() == 1)
  }

  test("pushed filters and limit surface in the executed plan") {
    EngineOps.queries("eng_dsv2_source")(spark, sf).collect()
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_glog_${java.nio.file.Paths.get(sf).getFileName}")
    val df = spark.read.format("graft.sources.GraftLogSource")
      .option("path", stage.getAbsolutePath).load()
      .filter(col("value") >= 100.0 && col("event_type") === "click")
      .select(col("user_id"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("glog"), plan.take(800))
    val census = GraftLogSource.planCensus.get(stage.getAbsolutePath)
    // residual filters keep value/event_type in the read schema
    // (pushdown is an optimization, not a correctness dependency),
    // so the pruned schema is the 3 referenced columns, not all 6
    assert(census._3 == 3, s"read-schema not pruned: $census")
    assert(census._2 < census._1, s"zone map pruned nothing: $census")
  }

  test("glog catalog: marker arbitration, typed schema check, durable TBLPROPERTIES") {
    val wh = java.nio.file.Files.createTempDirectory("graft_glog_wh2").toFile
    spark.conf.set("spark.sql.catalog.glogcat2", "graft.sources.GlogCatalog")
    spark.conf.set("spark.sql.catalog.glogcat2.warehouse", wh.getAbsolutePath)
    try {
      spark.sql("CREATE NAMESPACE glogcat2.lab")
      // a namespace directory is NOT a table: no marker, no resolution
      // (DROP TABLE on the namespace identifier must not nuke it)
      intercept[Exception] { spark.sql("DROP TABLE glogcat2.lab") }
      assert(new java.io.File(wh, "lab").isDirectory,
        "DROP TABLE on a namespace deleted the namespace")
      intercept[Exception] { spark.sql("SELECT * FROM glogcat2.lab") }
      // matching NAMES with wrong TYPES is rejected loudly, never
      // silently served with the fixed types
      val err = intercept[Exception] {
        spark.sql("""CREATE TABLE glogcat2.lab.badtypes (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value STRING, props STRING) USING glog""")
      }
      assert(err.getMessage.contains("fixed schema"), err.getMessage)
      // TBLPROPERTIES persist through the marker file: visible after a
      // fresh loadTable, across SET/UNSET, and on disk for any engine
      spark.sql("""CREATE TABLE glogcat2.lab.ev (
        event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING) USING glog
        TBLPROPERTIES ('retention.days'='30')""")
      def props(): Map[String, String] = spark.sql(
        "SHOW TBLPROPERTIES glogcat2.lab.ev").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props().get("retention.days").contains("30"), props().toString)
      spark.sql("""ALTER TABLE glogcat2.lab.ev
        SET TBLPROPERTIES ('retention.days'='7', 'tier'='hot')""")
      assert(props().get("retention.days").contains("7"))
      assert(props().get("tier").contains("hot"))
      spark.sql("ALTER TABLE glogcat2.lab.ev UNSET TBLPROPERTIES ('tier')")
      assert(!props().contains("tier"))
      val tableDir = new java.io.File(new java.io.File(wh, "lab"), "ev")
      val marker = new java.io.File(tableDir,
        graft.sources.GlogCatalog.MarkerName)
      assert(marker.isFile, "marker file missing")
      // the marker keeps the CREATE-time set; ALTERs publish versioned
      // props files (CAS, no in-place truncation) and newest wins
      assert(new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").contains("retention.days=30"))
      val propFiles = Option(new java.io.File(tableDir,
          GraftLogSource.MetaDirName).listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(n => n.startsWith("_props-") && n.endsWith(".properties"))
        .sorted
      assert(propFiles.length == 2, propFiles.mkString(","))
      assert(new String(java.nio.file.Files.readAllBytes(new java.io.File(
        new java.io.File(tableDir, GraftLogSource.MetaDirName),
        propFiles.last).toPath), "UTF-8").contains("retention.days=7"))
      // CONCURRENT SET TBLPROPERTIES: the versioned CAS means no lost
      // update — both properties survive the race
      val pool0 = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool0.submit(new Runnable { def run(): Unit = spark.sql(
          "ALTER TABLE glogcat2.lab.ev SET TBLPROPERTIES ('owner.a'='1')") }, true)
        val fb = pool0.submit(new Runnable { def run(): Unit = spark.sql(
          "ALTER TABLE glogcat2.lab.ev SET TBLPROPERTIES ('owner.b'='2')") }, true)
        fa.get(); fb.get()
      } finally pool0.shutdown()
      assert(props().get("owner.a").contains("1") &&
        props().get("owner.b").contains("2"),
        s"concurrent SET lost an update: ${props()}")
      // concurrent CREATE: the marker's exclusive creation arbitrates —
      // exactly one of 4 racing creators wins, losers get
      // TableAlreadyExists, the winner's table is intact
      import org.apache.spark.sql.connector.catalog.{Identifier, TableInfo}
      val cat = new graft.sources.GlogCatalog()
      cat.initialize("glogcat2spec",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("warehouse", wh.getAbsolutePath)))
      val ident = Identifier.of(Array("lab"), "raced")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val outcomes = (0 until 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean =
              try {
                cat.createTable(ident, new TableInfo.Builder()
                  .withColumns(GraftLogSource.SchemaFixed.fields.map(f =>
                    org.apache.spark.sql.connector.catalog.Column
                      .create(f.name, f.dataType)))
                  .withProperties(java.util.Map.of())
                  .withPartitions(Array.empty).build())
                true
              } catch {
                case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
                  false
              }
          })
        }.map(_.get())
        assert(outcomes.count(identity) == 1,
          s"expected exactly one CREATE winner: $outcomes")
      } finally pool.shutdown()
      assert(cat.tableExists(ident))
    } finally {
      spark.conf.unset("spark.sql.catalog.glogcat2")
      spark.conf.unset("spark.sql.catalog.glogcat2.warehouse")
    }
  }

  test("manifest ts stats prune files at planning time; time retention drops files unopened") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.{Filter, LessThan, GreaterThanOrEqual}
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_ts").toFile
    val p = new Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    val day = 86400000000L // one day in micros
    // three "daily" files committed through the writer so the manifest
    // carries their ts stats; day 0's CONTENT IS INVALID — if any ts
    // path opened it, parseDouble/toLong would throw
    def commitDay(d: Long, lines: String): Unit = {
      val fac = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
      val w = fac.createWriter(0, d)
      // write through the real writer for days 1..2 (stats tracked);
      // day 0 is hand-planted below
      lines.split('\n').foreach { l =>
        val c = l.split("\t", 6)
        w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](c(0).toLong, c(1).toLong, c(2).toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(c(3)),
            c(4).toDouble,
            org.apache.spark.unsafe.types.UTF8String.fromString(c(5)))))
      }
      new graft.sources.GlogBatchWrite(dir.getAbsolutePath,
        GraftLogSource.SchemaFixed, truncateFirst = false)
        .commit(Array(w.commit()))
    }
    commitDay(1, s"1\t${0 * day + 5}\t1\ta\t1.0\t{}\n2\t${0 * day + 9}\t2\ta\t2.0\t{}")
    commitDay(2, s"3\t${1 * day + 5}\t3\ta\t3.0\t{}\n4\t${1 * day + 9}\t4\ta\t4.0\t{}")
    commitDay(3, s"5\t${2 * day + 5}\t5\ta\t5.0\t{}\n6\t${2 * day + 9}\t6\ta\t6.0\t{}")
    // corrupt day 0's file content AFTER commit (stats already in the
    // manifest): any path that opens it will throw loudly
    val day0Name = GraftLogSource.listCommitted(p, conf, Seq.empty)
      ._1.head.getPath.getName
    java.nio.file.Files.write(new java.io.File(dir, day0Name).toPath,
      "NOT A VALID GLOG LINE".getBytes("UTF-8"))
    // planning-time pruning on ts: only day 2's file survives the
    // listing for a ts >= 2*day predicate (micros long literal)
    val kept = GraftLogSource.listCommitted(p, conf,
      Seq(GreaterThanOrEqual("ts", java.lang.Long.valueOf(2 * day))))._1
    assert(kept.length == 1, s"ts stats pruned ${kept.length} files, want 1")
    // ...and the same through a real scan with a TIMESTAMP literal
    // (java.sql.Timestamp — the shape Spark pushes): day-0's corrupt
    // file must never be opened
    val rows = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().filter(col("ts") >= lit(new java.sql.Timestamp(2 * day / 1000)))
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(5L, 6L), rows.mkString(","))
    val census = GraftLogSource.planCensus.get(dir.getAbsolutePath)
    assert(census._2 == 1 && census._1 == 3, s"scan census: $census")
    // time retention: DELETE ts < 1*day drops day 0 WHOLE from the
    // manifest without opening its (unparsable) content
    GraftLogSource.deleteMatching(p,
      Array[Filter](LessThan("ts", java.lang.Long.valueOf(1 * day))))
    val live = GraftLogSource.listCommitted(p, conf, Seq.empty)
      ._1.map(_.getPath.getName)
    assert(live.length == 2 && !live.contains(day0Name),
      live.mkString(","))
    assert(spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().count() == 4)
    // the aged-out orphan is still on disk until vacuum
    assert(new java.io.File(dir, day0Name).exists())
    GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L): Unit
    assert(!new java.io.File(dir, day0Name).exists())
    // Instant literals (the java8 datetime API shape) normalize too
    assert(GraftLogSource.tsMicrosOf(
      java.time.Instant.ofEpochSecond(86400L, 5000)).contains(day + 5L))
    assert(GraftLogSource.tsMicrosOf(
      new java.sql.Timestamp(86400000L)).contains(day))
    // pre-1970 Timestamps round toward negative infinity (floorDiv)
    val pre = new java.sql.Timestamp(-1500L) // 1969-12-31T23:59:58.500
    pre.setNanos(500000000)
    assert(GraftLogSource.tsMicrosOf(pre).contains(-1500000L))
  }

  test("change-feed diff memo misses on a recreated directory at the same path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cfm").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def build(rows: Seq[(Long, Double)]): Unit = rows.foreach { case (id, v) =>
      Seq((id, new java.sql.Timestamp(1000L * id), id, "click", v, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    }
    def feedIds(): Seq[Long] = GraftLogSource.changeFeed(spark, path, 1, 2)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    build(Seq((1L, 1.0), (2L, 2.0)))            // generation 1: v1, v2
    assert(feedIds() == Seq(2L))                // memo now holds (path,1,2)
    // destroy and rebuild at the SAME path with DIFFERENT data —
    // version numbering restarts, so a stale per-path memo would plan
    // the new feed against the old generation's file names
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(): Unit
    }
    deleteRec(dir)
    build(Seq((7L, 7.0), (8L, 8.0)))            // generation 2: v1, v2
    assert(feedIds() == Seq(8L),
      "stale change-feed memo served the old generation's diff")
  }

  test("vacuum grace window: a racing in-flight commit survives; aged orphans reclaim") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_vgrace").toFile
    val path = dir.getAbsolutePath
    val p = new Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    def stage(id: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = new graft.sources.GlogWriterFactory(path).createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"), id.toDouble,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      w.commit()
    }
    // a committed base (v1)
    new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
      truncateFirst = false).commit(Array(stage(1L)))
    // a SLOW commit: files claim-renamed in, manifest CAS not yet run —
    // for that instant they are indistinguishable from orphans
    val inFlight = GraftLogSource.renameStagedIn(p, conf, Array(stage(2L)))
    assert(inFlight.nonEmpty)
    // default-grace vacuum races the slow commit: the fresh claim
    // survives (mtime inside the grace window)
    assert(GraftLogSource.vacuum(path) == 0,
      "vacuum reclaimed a mid-commit claim")
    // the slow commit completes; its rows are intact
    GraftLogSource.commitManifest(p, conf)(live => live ++ inFlight): Unit
    assert(spark.read.format("glog").option("path", path).load().count() == 2)
    // the grace clock starts at CLAIM, not at task write-finish:
    // rename/hard-link preserve the temp's mtime, so a straggler-aged
    // temp claimed NOW must still survive a racing default-grace
    // vacuum — renameStagedIn restamps it
    val wOld = stage(9L)
    val tempPath = { // the staged temp (GlogCommit is package-private)
      val m = wOld.getClass.getMethod("tempPath")
      new java.io.File(m.invoke(wOld).asInstanceOf[String])
    }
    assert(tempPath.setLastModified(
      System.currentTimeMillis() - GraftLogSource.DefaultVacuumGraceMs - 60000L))
    val claimedOld = GraftLogSource.renameStagedIn(p, conf, Array(wOld))
    assert(GraftLogSource.vacuum(path) == 0,
      "vacuum reclaimed a freshly-claimed file with an old write mtime")
    GraftLogSource.commitManifest(p, conf)(live => live ++ claimedOld): Unit
    assert(spark.read.format("glog").option("path", path).load().count() == 3)
    // a genuinely AGED orphan (mtime pushed past the grace window) is
    // reclaimed by the same default-grace vacuum
    val w3 = stage(3L)
    val orphan = GraftLogSource.renameStagedIn(p, conf, Array(w3)).head.name
    val f = new java.io.File(dir, orphan)
    assert(f.setLastModified(
      System.currentTimeMillis() - GraftLogSource.DefaultVacuumGraceMs - 60000L))
    assert(GraftLogSource.vacuum(path) == 1, "aged orphan not reclaimed")
    assert(!f.exists())
    assert(spark.read.format("glog").option("path", path).load().count() == 3)
  }

  test("vacuum: dry run mutates nothing; crashed publish temps are swept") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_vdry").toFile
    val path = dir.getAbsolutePath
    val p = new Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    def stage(id: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = new graft.sources.GlogWriterFactory(path).createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"), id.toDouble,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      w.commit()
    }
    new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
      truncateFirst = false).commit(Array(stage(1L)))            // v1
    val aged = System.currentTimeMillis() - GraftLogSource.DefaultVacuumGraceMs - 60000L
    // an AGED orphan (claimed, never CAS'd, past the grace window)
    val orphan = GraftLogSource.renameStagedIn(p, conf, Array(stage(2L))).head.name
    val of = new java.io.File(dir, orphan)
    assert(of.setLastModified(aged))
    // crashed publish temps in the table dir and the meta dir —
    // invisible to readers, referenced by nothing, leak without a sweep
    val tmpData = new java.io.File(dir, ".part-x.glog.claim.dead.tmp")
    val tmpMeta = new java.io.File(
      GraftLogSource.metaDir(p).toUri.getPath, ".manifest-dead.tmp")
    java.nio.file.Files.writeString(tmpData.toPath, "x"): Unit
    java.nio.file.Files.writeString(tmpMeta.toPath, "x"): Unit
    assert(tmpData.setLastModified(aged) && tmpMeta.setLastModified(aged))
    // a FRESH temp (an in-flight publisher) must survive any sweep
    val tmpFresh = new java.io.File(dir, ".part-y.glog.claim.live.tmp")
    java.nio.file.Files.writeString(tmpFresh.toPath, "x"): Unit
    // DRY RUN: reports the one reclaimable data file, mutates NOTHING
    assert(GraftLogSource.vacuum(path, dryRun = true) == 1)
    assert(of.exists() && tmpData.exists() && tmpMeta.exists(),
      "dry run mutated the table")
    // the real vacuum reclaims the orphan AND sweeps the aged temps
    assert(GraftLogSource.vacuum(path) == 1)
    assert(!of.exists(), "aged orphan survived")
    assert(!tmpData.exists() && !tmpMeta.exists(),
      "crashed publish temps not swept")
    assert(tmpFresh.exists(), "fresh in-flight temp was swept")
    assert(spark.read.format("glog").option("path", path).load().count() == 1)
  }

  test("setTimes-rejecting store: claim sidecar keeps the vacuum grace clock honest") {
    import org.apache.hadoop.fs.Path
    // register a local FS whose setTimes is unsupported (the object-
    // store shape): renameStagedIn must fall back to the claim-time
    // sidecar instead of silently reverting the grace clock to the
    // temp's write-finish mtime
    spark.sparkContext.hadoopConfiguration.set("fs.nst.impl",
      classOf[NoSetTimesFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_glog_nst").toFile
    val path = "nst:" + local.getAbsolutePath
    val p = new Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    def stage(id: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = new graft.sources.GlogWriterFactory(path).createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("e"), id.toDouble,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      w.commit()
    }
    new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
      truncateFirst = false).commit(Array(stage(1L)))            // v1
    def localFiles(): Seq[String] = local.list().toSeq.sorted
    // the fallback fired: every committed file carries a sidecar
    assert(localFiles().exists(_.endsWith(".glog.claim")),
      s"no claim sidecar under setTimes-rejecting store: ${localFiles()}")
    // THE race: a straggler-aged temp (write finished long ago) is
    // claimed NOW; rename preserves the ancient mtime and setTimes
    // cannot re-stamp it — without the sidecar a racing default-grace
    // vacuum would silently reclaim a file about to be CAS'd live
    val wOld = stage(9L)
    val tempLocal = {
      val m = wOld.getClass.getMethod("tempPath")
      new java.io.File(
        new Path(m.invoke(wOld).asInstanceOf[String]).toUri.getPath)
    }
    assert(tempLocal.setLastModified(
      System.currentTimeMillis() - GraftLogSource.DefaultVacuumGraceMs - 60000L))
    val claimed = GraftLogSource.renameStagedIn(p, conf, Array(wOld))
    assert(GraftLogSource.vacuum(path) == 0,
      "vacuum reclaimed a freshly-claimed straggler file (grace clock " +
        "reverted to write-finish time despite the claim sidecar)")
    GraftLogSource.commitManifest(p, conf)(live => live ++ claimed): Unit
    assert(spark.read.format("glog").option("path", path).load().count() == 2)
    // sidecars of LIVE claims are housekept by the next vacuum
    GraftLogSource.vacuum(path, graceMs = 0L): Unit
    assert(!localFiles().exists(_.endsWith(".glog.claim")),
      s"fulfilled claim sidecars not reclaimed: ${localFiles()}")
    // an aged orphan is reclaimed WITH its sidecar
    val orphan = GraftLogSource.renameStagedIn(p, conf, Array(stage(3L))).head.name
    val of = new java.io.File(local, orphan)
    val ocl = new java.io.File(local, orphan + ".claim")
    assert(ocl.exists())
    val aged = System.currentTimeMillis() - GraftLogSource.DefaultVacuumGraceMs - 60000L
    assert(of.setLastModified(aged) && ocl.setLastModified(aged))
    assert(GraftLogSource.vacuum(path) == 1, "aged orphan not reclaimed")
    assert(!of.exists() && !ocl.exists(), "orphan or its sidecar survived")
    assert(spark.read.format("glog").option("path", path).load().count() == 2)
  }

  test("event_type dictionary: commas, empty, '%', '*' round-trip exactly and still prune") {
    // encoding layer round-trips every odd value the round-13 comma
    // join had to degrade to unknown
    val weird = Seq("", "%", "*", "a,b", "x%2Cy", "%00")
    val entry = GraftLogSource.ManifestEntry("f.glog", Some((1L, 2L)),
      Some((3L, 4L)), Some(weird))
    assert(GraftLogSource.ManifestEntry.parse(entry.line, v2 = true) == entry,
      s"etype escape round-trip failed: ${entry.line}")
    // decoding is gated OUT-OF-BAND by the carrying file's format
    // header (v2), never by in-band sniffing:
    // (a) LEGACY header-less (round-13) dictionaries split VERBATIM —
    // a raw 'a%2Cb' value (legal then: no comma, no empty) must never
    // mis-decode to 'a,b', which would both mis-prune reads and
    // mis-prove full-coverage DELETEs on the old data
    val legacy = GraftLogSource.ManifestEntry
      .parse("f.glog\t1\t2\t3\t4\ta%2Cb,x", v2 = false)
    assert(legacy.etypes.contains(Seq("a%2Cb", "x")), legacy.toString)
    // (b) a header-less MARKED field is AMBIGUOUS (a round-14 escaped
    // join, or a freak round-13 raw value that happens to start with
    // '%1') → the dictionary degrades to UNKNOWN: conservatively kept
    // by every predicate, never proving DELETE coverage — the only
    // reading safe for both generations
    val ambiguous = GraftLogSource.ManifestEntry
      .parse("f.glog\t1\t2\t3\t4\t%1a%2Cb,x", v2 = false)
    assert(ambiguous.etypes.isEmpty,
      s"header-less marked dictionary must degrade to unknown: $ambiguous")
    // (c) the SAME field under a v2 header decodes exactly
    assert(GraftLogSource.ManifestEntry
      .parse("f.glog\t1\t2\t3\t4\t%1a%2Cb,x", v2 = true)
      .etypes.contains(Seq("a,b", "x")))
    // re-committing the legacy entry writes the escaped form under a
    // header-bearing manifest, which round-trips exactly
    assert(GraftLogSource.ManifestEntry.parse(legacy.line, v2 = true) == legacy,
      legacy.line)
    // end-to-end: one file holding {'', 'a,b', 'click'} keeps an EXACT
    // dictionary — a filter on a type it lacks prunes it, a filter on
    // any of its own types (comma-bearing or empty included) keeps it
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_etesc").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def write(types: Seq[String], base: Long): Unit =
      types.zipWithIndex.map { case (t, i) =>
        (base + i, new java.sql.Timestamp(1000L * (base + i)), base + i,
          t, (base + i).toDouble, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    write(Seq("", "a,b", "click"), 10L) // file A
    write(Seq("other"), 20L)            // file B
    def kept(t: String): Long = {
      spark.read.format("glog").option("path", path).load()
        .filter(col("event_type") === t).count()
      GraftLogSource.planCensus.get(path)._2.toLong
    }
    assert(kept("zzz") == 0, "absent type did not prune both files")
    assert(kept("click") == 1, "file A's dictionary degraded (round-13 " +
      "behavior: one odd value forfeits pruning for the normal types)")
    assert(kept("a,b") == 1)
    assert(kept("") == 1)
    assert(kept("other") == 1)
    // and the values themselves round-trip through the scan
    val got = spark.read.format("glog").option("path", path).load()
      .filter(col("event_type") === "a,b").collect()
    assert(got.length == 1 && got(0).getLong(0) == 11L, got.toSeq)
  }

  test("readChangeFeed startingTimestamp: mtime resolution, exclusivity, loud validation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cdcts").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def append(id: Long): Unit =
      Seq((id, new java.sql.Timestamp(1000L * id), id, "click",
        id.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    (1L to 3L).foreach(append) // v1..v3
    // pin the commit clock deterministically: manifest mtimes ARE the
    // timestamp ledger the resolution reads
    val p = new org.apache.hadoop.fs.Path(path)
    def manifestFile(v: Long) = new java.io.File(
      GraftLogSource.manifestPath(p, v).toUri.getPath)
    val t0 = System.currentTimeMillis() - 100000000L
    (1L to 3L).foreach(v =>
      assert(manifestFile(v).setLastModified(t0 + v * 1000L)))
    def drainFrom(opts: Map[String, String]): Seq[(Long, Long)] = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      // paced per-commit so _commit_version attribution is exact (an
      // unbounded drain would NET the backlog and stamp its endpoint)
      var r = spark.readStream.format("glog").option("path", path)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("event_id"), col("_commit_version")).collect()
            .foreach(x => rows.add((x.getLong(0), x.getLong(1)))): Unit
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_cdcts_ck").toString)
        .start()
      try { q.processAllAvailable(); q.stop(); q.awaitTermination() }
      finally if (q.isActive) q.stop()
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.sorted
    }
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // anchored AT the v2 commit time → the stream starts AFTER v2
    // (startingVersion exclusivity, timestamp spelling): only v3 emits
    assert(drainFrom(Map("startingTimestamp" -> (t0 + 2000L).toString)) ==
      Seq((3L, 3L)))
    // between v1 and v2 → resolves to v1 → v2 and v3 emit
    assert(drainFrom(Map("startingTimestamp" -> (t0 + 1500L).toString)) ==
      Seq((2L, 2L), (3L, 3L)))
    // the ISO-8601 spelling parses to the same anchor
    assert(drainFrom(Map("startingTimestamp" ->
      java.time.Instant.ofEpochMilli(t0 + 2000L).toString)) == Seq((3L, 3L)))
    // before the first commit: loud (no pre-history snapshot to diff)
    val e1 = intercept[Exception] {
      drainFrom(Map("startingTimestamp" -> (t0 - 1000L).toString)) }
    assert(msgChain(e1).contains("startingTimestamp"), msgChain(e1))
    // both anchors: loud
    val e2 = intercept[Exception] {
      drainFrom(Map("startingTimestamp" -> (t0 + 2000L).toString,
        "startingVersion" -> "2")) }
    assert(msgChain(e2).contains("mutually exclusive"), msgChain(e2))
    // unparseable: loud, names the option
    val e3 = intercept[Exception] {
      drainFrom(Map("startingTimestamp" -> "not-a-time")) }
    assert(msgChain(e3).contains("startingTimestamp"), msgChain(e3))
  }

  test("time-addressed surface: history, timestampAsOf, feed timestamp endpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_hist").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def append(id: Long): Unit =
      Seq((id, new java.sql.Timestamp(1000L * id), id, "click",
        id.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    (1L to 3L).foreach(append) // v1..v3, one file each
    // pin the commit clock (manifest mtimes ARE the ledger)
    val p = new org.apache.hadoop.fs.Path(path)
    def manifestFile(v: Long) = new java.io.File(
      GraftLogSource.manifestPath(p, v).toUri.getPath)
    val t0 = System.currentTimeMillis() - 200000000L
    (1L to 3L).foreach(v =>
      assert(manifestFile(v).setLastModified(t0 + v * 1000L)))
    // ---- history: versions in order, pinned timestamps, exact deltas
    val h = GraftLogSource.history(spark, path).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), h.mkString(";"))
    assert(h.map(_.getTimestamp(1).getTime).toSeq ==
      Seq(t0 + 1000L, t0 + 2000L, t0 + 3000L), h.mkString(";"))
    assert(h.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L)) // n_live_files
    assert(h.head.isNullAt(3) && h.head.isNullAt(4),
      "oldest row must report unknown deltas") // predecessor unknowable
    assert(h.drop(1).map(r => (r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 0L), (1L, 0L)))
    // ---- timestampAsOf pins the same snapshot the version does
    def cnt(opts: (String, String)*): Long = {
      var r = spark.read.format("glog").option("path", path)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().count()
    }
    assert(cnt("timestampAsOf" -> (t0 + 2000L).toString) == 2L)
    assert(cnt("timestampAsOf" -> (t0 + 2500L).toString) == 2L) // between commits
    assert(cnt("timestampAsOf" ->
      java.time.Instant.ofEpochMilli(t0 + 1000L).toString) == 1L)
    val e0 = intercept[Exception] {
      cnt("timestampAsOf" -> (t0 - 1L).toString) }
    assert(e0.getMessage.contains("timestampAsOf"), e0.getMessage)
    // the JDBC form resolves in the SESSION zone (the clock SQL
    // TIMESTAMP AS OF literals use), never the JVM default
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // 1970-01-02 00:00 in New York (EST, UTC-5) == 05:00 UTC
      assert(GraftLogSource.parseTimestampMs("t", "1970-01-02 00:00:00") ==
        29L * 3600000L)
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(GraftLogSource.parseTimestampMs("t", "1970-01-02 00:00:00") ==
        24L * 3600000L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    val e1 = intercept[Exception] {
      cnt("timestampAsOf" -> (t0 + 2000L).toString, "versionAsOf" -> "2") }
    assert(e1.getMessage.contains("mutually exclusive"), e1.getMessage)
    // ---- feed endpoints by timestamp (mixing with a version is fine)
    def feedIds(opts: (String, String)*): Seq[Long] = {
      var r = spark.read.format("glog").option("path", path)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().select(col("event_id")).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(feedIds("changeFeedFromTimestamp" -> (t0 + 1000L).toString,
      "changeFeedToTimestamp" -> (t0 + 3000L).toString) == Seq(2L, 3L))
    assert(feedIds("changeFeedFrom" -> "2",
      "changeFeedToTimestamp" -> (t0 + 3000L).toString) == Seq(3L))
    val e2 = intercept[Exception] {
      feedIds("changeFeedFrom" -> "1",
        "changeFeedFromTimestamp" -> (t0 + 1000L).toString,
        "changeFeedTo" -> "3") }
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
    val e3 = intercept[Exception] {
      feedIds("changeFeedFromTimestamp" -> (t0 + 1000L).toString) }
    assert(e3.getMessage.contains("changeFeedTo"), e3.getMessage)
    // ---- SQL surface: the glog_history TVF is the SAME rows as the
    // Scala API (one code path), composing like any relation
    val sqlRows = spark.sql(s"SELECT * FROM glog_history('$path')").collect()
    assert(sqlRows.toSeq == h.toSeq,
      s"TVF diverged from the Scala API: ${sqlRows.mkString(";")}")
    assert(spark.sql(
        s"SELECT version FROM glog_history('$path') WHERE n_added = 1")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // loud validation: arity and literal-ness both name the function
    val eTvf = intercept[Exception] {
      spark.sql("SELECT * FROM glog_history()").collect() }
    assert(eTvf.getMessage.contains("glog_history"), eTvf.getMessage)
    // ---- the measured entry agrees end-to-end
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_history")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
  }

  test("vacuum checkpoint preserves commit time: _commit_timestamp exact after GC") {
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_ckts").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def append(id: Long): Unit =
      Seq((id, new java.sql.Timestamp(1000L * id), id, "click",
        id.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.format("glog").option("path", path)
        .mode("append").save()
    (1L to 3L).foreach(append) // v1..v3
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    val fs = GraftLogSource.fsFor(p, conf)
    def manifestFile(v: Long) = new java.io.File(
      GraftLogSource.manifestPath(p, v).toUri.getPath)
    // pin the commit clock well in the past: the checkpoint's own
    // mtime (vacuum time ≈ now) can then never masquerade as it
    val t0 = System.currentTimeMillis() - 300000000L
    (1L to 3L).foreach(v =>
      assert(manifestFile(v).setLastModified(t0 + v * 1000L)))
    def stampOf(from: Long, to: Long): Long =
      GraftLogSource.changeFeed(spark, path, from, to)
        .select(col("_commit_timestamp")).distinct().collect()
        .map(_.getTimestamp(0).getTime).toSeq match {
          case Seq(one) => one
          case other => fail(s"non-unique stamp: $other")
        }
    assert(stampOf(2, 3) == t0 + 3000L)
    // vacuum below the feed's `from`: v1 GC'd, checkpoint anchored at
    // v2 — the feed over the retained range stamps the SAME commit
    // time as before
    assert(GraftLogSource.vacuum(path, retainVersions = 2, graceMs = 0L) >= 0)
    assert(!manifestFile(1).exists(), "v1 manifest survived the vacuum")
    assert(stampOf(2, 3) == t0 + 3000L,
      "vacuum below the feed's from moved its _commit_timestamp")
    // the checkpoint carries the anchored version's ORIGINAL commit
    // time in its #commit-ts header (the checkpoint file's own mtime
    // is vacuum time — useless for attribution)
    val cp = GraftLogSource.checkpointPath(p, 2L)
    assert(fs.exists(cp), "vacuum did not anchor a checkpoint at minRetained")
    val cpLines = scala.io.Source.fromFile(cp.toUri.getPath).getLines().toSeq
    assert(cpLines.contains(s"#commit-ts\t${t0 + 2000L}"),
      s"checkpoint header missing/wrong: ${cpLines.take(3)}")
    // the crashed-vacuum window (manifest gone, checkpoint the only
    // resolvable form): manifestStat's fallback reads the header, so
    // attribution stays EXACT — not the checkpoint's vacuum-time mtime
    assert(manifestFile(2).delete())
    assert(GraftLogSource.manifestStat(fs, p, 2L)._1 == t0 + 2000L,
      "checkpoint fallback reported vacuum time, not commit time")
    // header lines stay invisible to resolution: the checkpointed
    // live list still parses (names intact) through the delta chain
    assert(spark.read.format("glog").option("path", path).load().count() == 3L)
  }

  test("manifest user_id/event_type stats prune at planning; full coverage deletes unopened") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.{EqualTo, Filter, LessThanOrEqual}
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_uid").toFile
    val p = new Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    def commit(id: Long, lines: String): Unit = {
      val w = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
        .createWriter(0, id)
      lines.split('\n').foreach { l =>
        val c = l.split("\t", 6)
        w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](c(0).toLong, c(1).toLong, c(2).toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(c(3)),
            c(4).toDouble,
            org.apache.spark.unsafe.types.UTF8String.fromString(c(5)))))
      }
      new graft.sources.GlogBatchWrite(dir.getAbsolutePath,
        GraftLogSource.SchemaFixed, truncateFirst = false)
        .commit(Array(w.commit()))
    }
    // A: uids [1,2] type a — B: uids [10,20] types a,b — C: uids
    // [100,200] type c. A and C get CORRUPTED after commit: any path
    // that opens them throws, so surviving queries PROVE the pruning.
    commit(1, "1\t5\t1\ta\t1.0\t{}\n2\t9\t2\ta\t2.0\t{}")
    commit(2, "3\t5\t10\ta\t3.0\t{}\n4\t9\t20\tb\t4.0\t{}")
    commit(3, "5\t5\t100\tc\t5.0\t{}\n6\t9\t200\tc\t6.0\t{}")
    val names = GraftLogSource.listCommitted(p, conf, Seq.empty)
      ._1.map(_.getPath.getName)
    java.nio.file.Files.write(new java.io.File(dir, names(0)).toPath,
      "CORRUPT".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, names(2)).toPath,
      "CORRUPT".getBytes("UTF-8"))
    // planning-time pruning: uid point → 1 file; etype equality → the
    // exact dictionary decides (type b lives only in B)
    assert(GraftLogSource.listCommitted(p, conf,
      Seq(EqualTo("user_id", java.lang.Long.valueOf(15L))))._1.length == 1)
    assert(GraftLogSource.listCommitted(p, conf,
      Seq(EqualTo("event_type", "b")))._1.length == 1)
    // real scans: only B is ever opened (A/C would throw)
    val got = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().filter(col("user_id") === 10L)
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L), got.mkString(","))
    assert(GraftLogSource.planCensus.get(dir.getAbsolutePath)._2 == 1)
    val gotB = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().filter(col("event_type") === "b")
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(gotB == Seq(4L), gotB.mkString(","))
    // full-coverage DELETEs: the dictionary proves C is all-type-c and
    // the uid range proves A is all-≤2 — both drop METADATA-ONLY (their
    // corrupt content is never parsed)
    GraftLogSource.deleteMatching(p, Array[Filter](EqualTo("event_type", "c")))
    GraftLogSource.deleteMatching(p,
      Array[Filter](LessThanOrEqual("user_id", java.lang.Long.valueOf(2L))))
    val live = GraftLogSource.listCommitted(p, conf, Seq.empty)
      ._1.map(_.getPath.getName).toSeq
    assert(live == Seq(names(1)), live.mkString(","))
    // an event_type the bare comma join could not represent (empty
    // string / embedded comma) now round-trips EXACTLY through the
    // escape encoding — the dictionary stays exact instead of
    // degrading to unknown, and both pruning and full-coverage proofs
    // stay correct for every value
    val dir2 = java.nio.file.Files.createTempDirectory("graft_glog_et").toFile
    val w2 = new graft.sources.GlogWriterFactory(dir2.getAbsolutePath)
      .createWriter(0, 1L)
    Seq((1L, ""), (2L, "click")).foreach { case (id, et) =>
      w2.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString(et), 1.0,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
    }
    new graft.sources.GlogBatchWrite(dir2.getAbsolutePath,
      GraftLogSource.SchemaFixed, truncateFirst = false)
      .commit(Array(w2.commit()))
    val p2 = new Path(dir2.getAbsolutePath)
    val ent = GraftLogSource.liveEntries(p2, conf).get._2.head
    assert(ent.etypes.contains(Seq("", "click")),
      s"odd values no longer round-trip exactly: $ent")
    // the ''-typed row stays readable under its own predicate…
    assert(spark.read.format("glog").option("path", dir2.getAbsolutePath)
      .load().filter(col("event_type") === "").count() == 1)
    // …and DELETE of the other type must NOT claim full coverage (the
    // exact dictionary holds '' too, which the predicate does not)
    GraftLogSource.deleteMatching(p2,
      Array[Filter](EqualTo("event_type", "click")))
    assert(spark.read.format("glog").option("path", dir2.getAbsolutePath)
      .load().count() == 1, "full-coverage mis-proof destroyed rows")

    // entry line format: full stats round-trip; legacy forms parse
    val full = GraftLogSource.ManifestEntry("f.glog", Some((1L, 2L)),
      Some((10L, 20L)), Some(Seq("a", "b")))
    assert(GraftLogSource.ManifestEntry.parse(full.line, v2 = true) == full)
    val partial = GraftLogSource.ManifestEntry("f.glog", None,
      Some((10L, 20L)), None)
    assert(GraftLogSource.ManifestEntry.parse(partial.line, v2 = true) == partial)
    assert(GraftLogSource.ManifestEntry.parse("f.glog\t1\t2", v2 = false) ==
      GraftLogSource.ManifestEntry("f.glog", Some((1L, 2L))))
    assert(GraftLogSource.ManifestEntry.parse("f.glog", v2 = false) ==
      GraftLogSource.ManifestEntry("f.glog", None))
  }

  test("eng_dsv2_ts_stats: the measured ts-stats census is exact") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_ts_stats")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_full", "2_ts_pruned", "3_retention", "4_uid_pruned",
        "5_etype_dict"))
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    assert(byStage("1_full").getLong(1) == 4L)       // 4 daily files
    assert(byStage("2_ts_pruned").getLong(2) == 1L)  // 1 file kept
    assert(byStage("3_retention").getLong(2) == 2L)  // 2 live after aging
    assert(byStage("4_uid_pruned").getLong(2) == 1L) // uid stats prune
    assert(byStage("5_etype_dict").getLong(2) == 1L) // dictionary prune
    assert(byStage("5_etype_dict").getLong(1) > 1L)
  }

  test("change feed emits exactly the row-level delta between versions") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cf").toFile
    val path = dir.getAbsolutePath
    val ev = spark.table("events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    val (vMin, vMax) = (mm.getDouble(0), mm.getDouble(1))
    val cut = vMin + (vMax - vMin) * 0.5
    val cut2 = vMin + (vMax - vMin) * 0.75
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id")).collect().map(_.getLong(0)).toSet
    ev.filter(col("value") < cut).write.format("glog")
      .option("path", path).mode("overwrite").save()          // v1
    ev.filter(col("value") >= cut).write.format("glog")
      .option("path", path).mode("append").save()             // v2
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    GraftLogSource.deleteMatching(
      new org.apache.hadoop.fs.Path(path),
      Array[Filter](GreaterThanOrEqual("value", cut2)))       // v3
    def feed(a: Long, b: Long) = GraftLogSource.changeFeed(spark, path, a, b)
    // v1→v2: the appended high slice, inserts only
    val f12 = feed(1L, 2L)
    assert(ids(f12.filter(col("_change_type") === "insert")) ==
      ids(ev.filter(col("value") >= cut)))
    assert(f12.filter(col("_change_type") === "delete").count() == 0)
    // v2→v3: the deleted top slice, deletes only — the rewrite's
    // carried-over survivors must cancel out of the feed
    val f23 = feed(2L, 3L)
    assert(ids(f23.filter(col("_change_type") === "delete")) ==
      ids(ev.filter(col("value") >= cut2)))
    assert(f23.filter(col("_change_type") === "insert").count() == 0)
    // v1→v3 composes: net insert of the surviving middle slice
    val f13 = feed(1L, 3L)
    assert(ids(f13.filter(col("_change_type") === "insert")) ==
      ids(ev.filter(col("value") >= cut && col("value") < cut2)))
    assert(f13.filter(col("_change_type") === "delete").count() == 0)
    // same-version feed is empty
    assert(feed(2L, 2L).count() == 0)

    // ---- planning-time file restriction: feed IO is O(changed files) ----
    def emitted(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def flat(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        p +: (p match {
          case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
          case q: QueryStageExec => flat(q.plan)
          case other => other.children.flatMap(flat)
        })
      }
      flat(df.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics.get("rowsEmitted").map(_.value).getOrElse(0L)
      }.sum
    }
    val nHigh = ev.filter(col("value") >= cut).count()
    val nSurv = ev.filter(col("value") >= cut && col("value") < cut2).count()
    // delete-range feed reads ONLY the rewritten files (dropped high
    // files + their survivor rewrites), each side scanned ONCE by the
    // signed diff (the former exceptAll pair scanned each side twice)
    // — never the untouched low half of the table
    assert(emitted(feed(2L, 3L)) <= nHigh + nSurv,
      "delete-range feed read files common to both versions (or re-scanned a side)")
    // v4: ONE appended small file — the daily-ingest shape
    val tiny = ev.orderBy(col("event_id")).limit(5)
    tiny.coalesce(1).write.format("glog")
      .option("path", path).mode("append").save()             // v4
    val f34 = feed(3L, 4L)
    assert(ids(f34.filter(col("_change_type") === "insert")) == ids(tiny))
    assert(f34.filter(col("_change_type") === "delete").count() == 0)
    // the whole feed parses at most the appended rows, ONCE — the
    // table itself is never opened (pre-fix this was O(table): every
    // live file of both versions was planned and read; pre-round-15
    // the exceptAll pair read the appended file twice)
    assert(emitted(feed(3L, 4L)) <= 5L,
      "small-delta feed re-read the table or re-scanned the delta")
    // mechanism: a filesOf scan PLANS exactly the named file
    val conf = GraftLogSource.driverHadoopConf()
    val p4 = new org.apache.hadoop.fs.Path(path)
    val v3names = GraftLogSource.liveSnapshot(p4, conf, Some(3L)).get._2.toSet
    val v4names = GraftLogSource.liveSnapshot(p4, conf, Some(4L)).get._2.toSet
    val appendedName = (v4names -- v3names).head
    spark.read.format("glog").option("path", path)
      .option("versionAsOf", "4")
      .option("filesOf", appendedName).load().count()
    val (_, keptCf, _) = GraftLogSource.planCensus.get(path)
    assert(keptCf == 1, s"filesOf planned $keptCf files, want 1")
    // an empty filesOf restriction plans ZERO files
    spark.read.format("glog").option("path", path)
      .option("versionAsOf", "3").option("filesOf", "").load().count()
    assert(GraftLogSource.planCensus.get(path)._2 == 0)

    // ---- public reader spelling (rewritten by GraftExtensions) ----
    val pub = spark.read.format("glog").option("path", path)
      .option("changeFeedFrom", "1").option("changeFeedTo", "2").load()
    assert(pub.columns.toSeq ==
      GraftLogSource.SchemaFixed.fieldNames.toSeq ++
        Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(ids(pub.filter(col("_change_type") === "insert")) ==
      ids(ev.filter(col("value") >= cut)))
    // CDC metadata through the public spelling: the v1→v2 range stamps
    // version 2 and the v2 manifest's commit mtime on every row
    val pubMeta = pub
      .select(col("_commit_version"), col("_commit_timestamp"))
      .distinct().collect()
    assert(pubMeta.length == 1 && pubMeta(0).getLong(0) == 2L, pubMeta.toSeq)
    val v2ms = GraftLogSource.fsFor(p4, conf)
      .getFileStatus(GraftLogSource.manifestPath(p4, 2L)).getModificationTime
    assert(pubMeta(0).getTimestamp(1).getTime == v2ms,
      s"_commit_timestamp ${pubMeta(0).getTimestamp(1)} != manifest mtime $v2ms")
    // downstream operators resolve against the substituted plan
    assert(pub.groupBy(col("_change_type")).count().collect().length == 1)

    // a vacuumed range fails loudly
    GraftLogSource.vacuum(path, graceMs = 0L): Unit
    intercept[Exception] { feed(1L, 3L).count() }
    // the measured entry agrees end-to-end
    val rows = EngineOps.queries("eng_dsv2_changefeed")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_append_range", "2_delete_range", "3_composed", "4_public_option"))
    assert(rows.forall(_.getBoolean(3)), rows.mkString("; "))
    // CDC metadata census: every stage stamped its `to` endpoint's
    // version + manifest commit mtime
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("change feed signed diff ≡ the exceptAll pair (duplicates, nulls, -0.0)") {
    // Differential contract for the round-15 feed optimization: the
    // signed multiset diff (one union + one grouped sum of ±1 +
    // ReplicateRows) must emit EXACTLY the multiset the former
    // `added.exceptAll(removed) ∪ removed.exceptAll(added)` pair
    // emitted — duplicate multiplicities replicated, exact
    // cancellation, and float -0.0 normalization all flowing through
    // the same aggregate semantics (nulls cannot reach the feed: the
    // glog format is dense by contract). The expected side below IS
    // the old spelling, computed live.
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cfdiff").toFile
    val path = dir.getAbsolutePath
    import spark.implicits._
    def row(id: Long, v: Double, p: String) =
      (id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        id * 10, "e", v, p)
    // v1: r×3, s×1, u×2, z(-0.0)×1
    val v1 = Seq(
      row(1L, 1.5, "r"), row(1L, 1.5, "r"), row(1L, 1.5, "r"),
      row(2L, 2.5, "s"),
      row(3L, 3.5, "u"), row(3L, 3.5, "u"),
      row(4L, -0.0, "z"))
    // v2: r×1 (net −2), s×2 (net +1), u×2 (exact cancel),
    // z(+0.0)×2 (net +1 after float normalization), t×4 (net +4)
    val v2 = Seq(
      row(1L, 1.5, "r"),
      row(2L, 2.5, "s"), row(2L, 2.5, "s"),
      row(3L, 3.5, "u"), row(3L, 3.5, "u"),
      row(4L, 0.0, "z"), row(4L, 0.0, "z"),
      row(5L, 5.5, "t"), row(5L, 5.5, "t"), row(5L, 5.5, "t"),
      row(5L, 5.5, "t"))
    val names = GraftLogSource.SchemaFixed.fieldNames.toSeq
    v1.toDF(names: _*).coalesce(1).write.format("glog")
      .option("path", path).mode("overwrite").save()            // v1
    v2.toDF(names: _*).coalesce(1).write.format("glog")
      .option("path", path).mode("overwrite").save()            // v2
    // full overwrite ⇒ every file changed ⇒ the full-snapshot
    // exceptAll pair is exactly what the feed's diffed-file reads see
    def snap(v: Long) = spark.read.format("glog").option("path", path)
      .option("versionAsOf", v.toString).load()
      .select(names.map(col): _*)
    val added = snap(2L)
    val removed = snap(1L)
    val expected = added.exceptAll(removed)
      .withColumn("_change_type", lit("insert"))
      .unionAll(removed.exceptAll(added)
        .withColumn("_change_type", lit("delete")))
      .collect().map(_.toString).sorted.toSeq
    val feed = GraftLogSource.changeFeed(spark, path, 1L, 2L)
    val got = feed.drop("_commit_version", "_commit_timestamp")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected,
      s"signed diff diverged from the exceptAll pair:\n got=$got\n exp=$expected")
    // spot-pin the multiset: 6 inserts (s+1, z+1, t+4), 2 deletes (r−2)
    assert(got.count(_.contains("insert")) == 6 &&
      got.count(_.contains("delete")) == 2, got)
    // structural claim: ONE scan per diffed side, ONE exchange (the
    // exceptAll pair planned 4 scans + 2 exchanges)
    feed.write.format("noop").mode("overwrite").save()
    def flat(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      p +: (p match {
        case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
        case q: QueryStageExec => flat(q.plan)
        case other => other.children.flatMap(flat)
      })
    }
    val ran = flat(feed.queryExecution.executedPlan)
    assert(ran.count(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]) == 2,
      "feed must scan each diffed side exactly once")
    assert(ran.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) == 1,
      "feed must shuffle exactly once")
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF through the catalog") {
    Tables.register(spark, sf)
    val wh = java.nio.file.Files.createTempDirectory("graft_glog_wh3").toFile
    spark.conf.set("spark.sql.catalog.glogcat3", "graft.sources.GlogCatalog")
    spark.conf.set("spark.sql.catalog.glogcat3.warehouse", wh.getAbsolutePath)
    try {
      spark.sql("CREATE NAMESPACE glogcat3.lab")
      spark.sql("""CREATE TABLE glogcat3.lab.tt (
        event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING) USING glog""")
      spark.sql("""INSERT INTO glogcat3.lab.tt
        SELECT event_id, ts, user_id, event_type, value, props FROM events""")
      val n0 = spark.table("glogcat3.lab.tt").count()
      val cut = spark.sql("SELECT percentile(value, 0.5) FROM events")
        .collect()(0).getDouble(0)
      spark.sql(s"DELETE FROM glogcat3.lab.tt WHERE value >= $cut")
      val nNow = spark.table("glogcat3.lab.tt").count()
      assert(nNow < n0)
      // VERSION AS OF: the pre-DELETE snapshot (the INSERT's version)
      val atV1 = spark.sql(
        "SELECT count(*) FROM glogcat3.lab.tt VERSION AS OF 1")
        .collect()(0).getLong(0)
      assert(atV1 == n0, s"VERSION AS OF 1 returned $atV1, want $n0")
      // TIMESTAMP AS OF now → the live version
      val atNow = spark.sql(
        "SELECT count(*) FROM glogcat3.lab.tt TIMESTAMP AS OF now()")
        .collect()(0).getLong(0)
      assert(atNow == nNow, s"TIMESTAMP AS OF now() returned $atNow, want $nNow")
      // a pre-history timestamp fails loudly
      intercept[Exception] {
        spark.sql("""SELECT count(*) FROM glogcat3.lab.tt
          TIMESTAMP AS OF TIMESTAMP'1999-01-01 00:00:00'""").collect()
      }
      // snapshots are read-only: DML against one is rejected
      intercept[Exception] {
        spark.sql("DELETE FROM glogcat3.lab.tt VERSION AS OF 1 WHERE true")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.glogcat3")
      spark.conf.unset("spark.sql.catalog.glogcat3.warehouse")
    }
  }

  test("eng_dsv2_manifest: the measured protocol census is exact") {
    Tables.register(spark, sf)
    val rows = EngineOps.queries("eng_dsv2_manifest")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_commits", "2_timetravel", "3_concurrent", "4_vacuum",
        "5_delta_chain"))
    assert(rows.forall(_.getBoolean(3)), rows.mkString("; "))
    val byStage = rows.map(r => r.getString(0) -> r).toMap
    assert(byStage("1_commits").getLong(1) == 3L)      // exactly v1..v3
    assert(byStage("3_concurrent").getLong(2) == 5L)   // +2 versions
    assert(byStage("4_vacuum").getLong(2) >= 1L)       // orphans reclaimed
    assert(byStage("5_delta_chain").getLong(1) == 19L) // 19 of 20 are deltas
    assert(byStage("5_delta_chain").getLong(2) == 1L)  // one-record deltas
  }

  test("manifest CAS: concurrent committers all land, versions are a total order") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cas").toFile
    val p = new Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    // publishIfAbsent is a true CAS on the raw local FS: the second
    // publisher of the same version LOSES (no silent replace)
    val fs = graft.sources.GraftLogSource.fsFor(p, conf)
    fs.mkdirs(GraftLogSource.metaDir(p))
    def tmpWith(s: String) = {
      val t = new Path(GraftLogSource.metaDir(p), s".t-$s.tmp")
      val out = fs.create(t, true); out.write(s.getBytes("UTF-8")); out.close(); t
    }
    val dst = GraftLogSource.manifestPath(p, 1L)
    assert(GraftLogSource.publishIfAbsent(fs, tmpWith("a\n"), dst))
    val loserTmp = tmpWith("b\n")
    assert(!GraftLogSource.publishIfAbsent(fs, loserTmp, dst))
    assert(GraftLogSource.liveSnapshot(p, conf).contains((1L, Seq("a"))))
    fs.delete(loserTmp, false)
    // the NON-raw branch (FileSystem.rename refusing an existing
    // destination — the HDFS code path) behaves identically: exercise
    // it through the checksummed LocalFileSystem, which is not a
    // RawLocalFileSystem and so takes the rename arm
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert(!lfs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
    val dst2 = new org.apache.hadoop.fs.Path(GraftLogSource.metaDir(p), "dst2")
    def lfsTmp(s: String) = {
      val t = new org.apache.hadoop.fs.Path(GraftLogSource.metaDir(p), s".l-$s.tmp")
      val o = lfs.create(t, true); o.write(s.getBytes("UTF-8")); o.close(); t
    }
    assert(GraftLogSource.publishIfAbsent(lfs, lfsTmp("x"), dst2))
    val loser2 = lfsTmp("y")
    assert(!GraftLogSource.publishIfAbsent(lfs, loser2, dst2),
      "rename-branch CAS silently replaced an existing destination")
    val back2 = new java.io.BufferedReader(new java.io.InputStreamReader(
      lfs.open(dst2), "UTF-8")).readLine()
    assert(back2 == "x", s"loser overwrote the winner: $back2")
    lfs.delete(loser2, false)
    // 8 threads race commitManifest, each appending one name: every
    // append lands exactly once, versions 2..9 form a total order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = GraftLogSource.commitManifest(p, conf)(
            live => live :+ GraftLogSource.ManifestEntry(
              f"part-$i%04d_0_0.glog", Some((i * 10L, i * 10L + 9L))))._1
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions == (2L to 9L), versions.mkString(","))
    } finally pool.shutdown()
    val (v, live) = GraftLogSource.liveSnapshot(p, conf).get
    assert(v == 9L)
    assert(live.toSet == Set("a") ++
      (0 until 8).map(i => f"part-$i%04d_0_0.glog"), live.mkString(","))
  }

  test("two interleaved batch committers both land: no collision, no loss") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_cc").toFile
    val schema = GraftLogSource.SchemaFixed
    def stagedWrite(id: Long, v: Double): (graft.sources.GlogBatchWrite,
        Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) = {
      val fac = new graft.sources.GlogWriterFactory(dir.getAbsolutePath)
      val w = fac.createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("cc"), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      (new graft.sources.GlogBatchWrite(dir.getAbsolutePath, schema,
        truncateFirst = false), Array(w.commit()))
    }
    // both jobs STAGE before either commits — the exact interleaving
    // the old listing-based index allocation raced on
    val (bwA, msgA) = stagedWrite(1L, 10.0)
    val (bwB, msgB) = stagedWrite(2L, 20.0)
    bwA.commit(msgA)
    bwB.commit(msgB)
    val back = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load().select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(back == Seq(1L, 2L), s"concurrent commits lost rows: $back")
    val names = dir.listFiles().map(_.getName).filter(_.endsWith(".glog"))
    assert(names.length == 2 && names.distinct.length == 2,
      names.mkString(","))
    // a concurrent commit that tries to replace a file another commit
    // already swapped loses LOUDLY (never resurrects deleted rows)
    val p = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    val victim = GraftLogSource.listCommitted(p, conf, Seq.empty)
      ._1.head.getPath.getName
    GraftLogSource.commitManifest(p, conf)(
      live => live.filterNot(_.name == victim)) // "writer 1" swaps it out
    intercept[GraftLogSource.GlogConcurrentModificationException] {
      GraftLogSource.commitManifest(p, conf) { live =>
        GraftLogSource.requireStillLive(live.map(_.name), Seq(victim), "spec")
        live.filterNot(_.name == victim)
      }
    }
  }

  test("snapshot isolation: versionAsOf time travel survives a DELETE; vacuum bounds it") {
    Tables.register(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_tt").toFile
    val ev = spark.table("events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    ev.write.format("glog").option("path", dir.getAbsolutePath)
      .mode("overwrite").save()
    val p = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    val conf = GraftLogSource.driverHadoopConf()
    val (v0, _) = GraftLogSource.liveSnapshot(p, conf).get
    val n0 = ev.count()
    val cut = ev.agg(expr("percentile(value, 0.5)")).collect()(0).getDouble(0)
    spark.sql(s"DROP TABLE IF EXISTS graft_glog_tt")
    try {
      spark.sql(s"""CREATE TABLE graft_glog_tt USING glog
        OPTIONS (path '${dir.getAbsolutePath}')""")
      spark.sql(s"DELETE FROM graft_glog_tt WHERE value >= $cut")
      val nNow = spark.table("graft_glog_tt").count()
      assert(nNow < n0)
      // a reader pinned to the pre-DELETE version sees the FULL table:
      // the rewrite orphaned, never unlinked, the old generation
      val pinned = spark.read.format("glog")
        .option("path", dir.getAbsolutePath)
        .option("versionAsOf", v0.toString).load()
      assert(pinned.count() == n0, "pinned snapshot was disturbed by DELETE")
      // retaining 2 versions keeps the time-travel read alive through
      // a vacuum; retaining 1 reclaims it and the read fails LOUDLY
      GraftLogSource.vacuum(dir.getAbsolutePath, retainVersions = 2, graceMs = 0L): Unit
      assert(spark.read.format("glog").option("path", dir.getAbsolutePath)
        .option("versionAsOf", v0.toString).load().count() == n0)
      GraftLogSource.vacuum(dir.getAbsolutePath, graceMs = 0L): Unit
      val err = intercept[Exception] {
        spark.read.format("glog").option("path", dir.getAbsolutePath)
          .option("versionAsOf", v0.toString).load().count()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(err).exists(m => m.contains("no manifest version") ||
        m.contains("missing on disk")), chain(err).mkString(" | "))
      assert(spark.table("graft_glog_tt").count() == nNow,
        "vacuum disturbed the live version")
      // streams refuse the batch-only option
      val serr = intercept[Exception] {
        spark.readStream.format("glog").option("path", dir.getAbsolutePath)
          .option("versionAsOf", v0.toString).load()
          .writeStream.format("noop")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_tt_ck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      assert(chain(serr).exists(_.contains("batch-read option")),
        chain(serr).mkString(" | "))
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_tt")
  }
}
