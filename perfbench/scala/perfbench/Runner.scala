package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbenchshim.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchUtil, Goldens, GraftSession, ScaleData, SparkEntry, Tables}
import graft.sources.BucketedTables

/** One benchmark run of one workload in one JVM (see README.md).
  *
  * Setup (session, catalog, bucketed facts, one warm pass) is done
  * once, in the cold JVM. Every entry's output is then checksummed once
  * and compared with the expected file; this and [[WarmPasses]] untimed
  * passes warm the JIT. Timed passes follow for
  * `--seconds`, each entry once per pass in a seed-permuted order,
  * through the noop sink. With `--trace 1` half the timed passes attach
  * [[Recorder]] and the per-layer numbers come from those passes.
  *
  * Writes one JSON result to `--out`; `run.py` prints it. */
object Runner {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, entries: Seq[String],
      expected: String, out: String, traceOut: String, scaleSrc: String,
      scaleFactor: Int, record: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), list(m("entries")), m("expected"),
      m("out"), m("trace-out"), m("scale-src"), m("scale-factor").toInt, m("record") == "1")
  }

  private def list(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)

  /** Untimed passes after verification, before the timed ones. */
  val WarmPasses = 4

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, secs(t0)) }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  /** Heap still in use after the most recent collection of each pool. */
  private def liveHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key + ":"))
      .map(_.drop(key.length + 1).trim.split("\\s+")(0).toLong).getOrElse(0L)
  /** (rchar, wchar) of this process: every byte read or written
    * through a syscall, including files Spark's output metrics miss. */
  private def procIo(): (Long, Long) =
    (procField("/proc/self/io", "rchar"), procField("/proc/self/io", "wchar"))

  /** CPU ticks (1/100 s) of the JVM's own live threads by thread id:
    * JIT compiler and code cache sweeper (`true`), or garbage collector
    * and VM thread (`false`). Read from /proc/self/task, where `comm` is
    * the thread name cut to 15 characters. */
  private def jvmThreadTicks(): Map[String, (Boolean, Long)] =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).flatMap { t =>
      try {
        val comm = Files.readString(new File(t, "comm").toPath).trim
        val isJit = comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler") ||
          comm == "Sweeper thread"
        val isGc = comm.startsWith("GC Thread") || comm.startsWith("G1 ") || comm == "VM Thread"
        if (!isJit && !isGc) None
        else {
          val stat = Files.readString(new File(t, "stat").toPath)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          Some(t.getName -> (isJit, f(11).toLong + f(12).toLong)) // utime + stime
        }
      } catch { case _: java.io.IOException => None } // the thread has ended
    }.toMap
  /** (JIT, GC) CPU seconds between two [[jvmThreadTicks]] readings.
    * The JVM stops idle compiler threads, so the difference is taken
    * per thread; the last ticks of a thread that ended are missed. */
  private def jvmThreadCpu(t0: Map[String, (Boolean, Long)],
      t1: Map[String, (Boolean, Long)]): (Double, Double) = {
    val d = t1.toSeq.map { case (id, (jit, ticks)) => (jit, ticks - t0.get(id).fold(0L)(_._2)) }
    (d.filter(_._1).map(_._2).sum / 100.0, d.filterNot(_._1).map(_._2).sum / 100.0)
  }

  private def walk(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids ++ kids.filter(_.isDirectory).flatMap(walk)
  }
  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  final case class Sample(entry: String, pass: Int, wallS: Double, ok: Boolean)
  final case class Setup(createS: Double, registerS: Double, factsS: Double,
      warmS: Double, compilations: Long) {
    def totalS: Double = createS + registerS + factsS + warmS
  }
  final case class PassStat(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      gcS: Double, gcCpuS: Double, jitS: Double, codegens: Long, heapMb: Double,
      ioRead: Long, ioWrite: Long, tmpBytes: Long, tmpFiles: Int, spans: Seq[SpanStats])

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val recorder = new Recorder
    val errors = new ErrorCounter(() => recorder.current)
    def order(pass: Int): Seq[String] =
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.entries)

    val tStart = now()
    def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(tStart)}%6.1f] $msg")

    /** Runs one entry: the entry function (build), then the noop-sink
      * action (execute). Throwing entries are reported, not fatal. */
    def runEntry(spark: SparkSession, fns: Map[String, (SparkSession, String) => DataFrame],
        name: String, pass: Int, span: Option[SpanStats]): Sample = {
      val sc = spark.sparkContext
      def phase(p: String): Unit = span.foreach { s =>
        sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
        sc.setLocalProperty(Recorder.PhaseKey, p)
      }
      span.foreach { s => recorder.begin(s); s.startMs = System.currentTimeMillis() }
      val t0 = now()
      var tb = 0.0
      var frame: Option[org.apache.spark.sql.execution.QueryExecution] = None
      val ok =
        try {
          phase("build")
          val df = fns(name)(spark, o.data)
          tb = secs(t0)
          frame = Some(df.queryExecution)
          phase("execute")
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          log(s"$name failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          false
        }
      val wall = secs(t0)
      span.foreach { s =>
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Recorder.SpanKey, null)
        sc.setLocalProperty(Recorder.PhaseKey, null)
        BusDrain.drain(sc)
        s.buildS = tb
        s.executeS = wall - tb
        s.ok = ok
        recorder.end(frame)
      }
      Sample(name, pass, wall, ok)
    }

    // ---- setup, once, in a cold JVM ----
    val comp0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (spark, createS) = timed(GraftSession.create(cores))
    ErrorCounter.attach(errors)
    val (_, registerS) = timed(Tables.register(spark, o.data))
    val (_, factsS) = timed(BucketedTables.ensureFacts(spark, o.data))
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val (warm, warmS) = timed(order(-1).map(n => runEntry(spark, fns, n, -1, None)))
    val setup = Setup(createS, registerS, factsS, warmS,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - comp0)
    log(f"setup: create ${setup.createS}%.2f register ${setup.registerS}%.2f " +
      f"facts ${setup.factsS}%.2f warm ${setup.warmS}%.2f s (" +
      warm.map(w => f"${w.entry} ${w.wallS}%.2f").mkString(", ") + ")")
    val samples = mutable.ArrayBuffer[Sample]()
    samples ++= warm

    val sentinel = new BenchUtil.SentinelProbe(spark, o.data)
    sentinel.prime()

    // ---- output verification, outside every timed region ----
    // It also warms the JIT, before the untimed passes below.
    val expected: Map[String, (Long, String)] =
      if (o.record || !new File(o.expected).exists) Map.empty
      else Files.readAllLines(Paths.get(o.expected)).asScala.filter(_.nonEmpty).map { l =>
        val Array(n, rows, sha) = l.split("\t")
        n -> (rows.toLong, sha)
      }.toMap
    val checked = o.entries.sorted.map { n =>
      val got =
        try Some(Goldens.checksum(fns(n)(spark, o.data)))
        catch { case e: Throwable =>
          log(s"$n failed in verification: ${String.valueOf(e.getMessage).take(300)}"); None
        }
      n -> got
    }
    val mismatched = checked.collect {
      case (n, got) if got.isEmpty || (!o.record && expected.get(n) != got) => n
    }
    mismatched.foreach(n => log(s"$n: output does not match ${o.expected}"))
    log(s"verified ${checked.size} entries, ${mismatched.size} mismatched")
    if (o.record)
      Files.writeString(Paths.get(o.expected), checked.collect {
        case (n, Some((rows, sha))) => s"$n\t$rows\t$sha\n"
      }.mkString)

    // ---- untimed passes that warm the JIT ----
    // A cold JVM is still compiling hot code after setup: compiler
    // threads compete with the task threads, and pass times fall for
    // the first half minute of passes. The JIT never goes quiet here,
    // because the entries generate and compile new classes on every
    // pass (see jvm.pass_codegen_compilations), so the warm-up is a
    // fixed number of passes. It is counted in passes, not seconds, so
    // that a slower host starts timing at the same point of the JIT's
    // progress rather than after fewer passes, and slower still.
    def codegens(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var warmPasses = 0
    while (warmPasses < WarmPasses) {
      val pass = -2 - warmPasses
      System.gc()
      val (c0, g0) = (jvmThreadTicks(), codegens())
      val (done, w) = timed(order(pass).map(n => runEntry(spark, fns, n, pass, None)))
      samples ++= done
      warmPasses += 1
      val jitWarm = jvmThreadCpu(c0, jvmThreadTicks())._1
      log(f"warm pass $warmPasses: $w%.3f s wall, $jitWarm%.3f s JIT, " +
        s"${codegens() - g0} codegen compilations")
    }
    val untimed = samples.size

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer[PassStat]()
    var spanIds = 0
    val tRun = now()
    def enough: Boolean = {
      val traced = passes.count(_.traced)
      val plain = passes.size - traced
      secs(tRun) >= o.seconds && plain >= 2 && (!o.trace || traced >= 2)
    }
    while (!enough) {
      val index = passes.size
      // traced passes in an ABBA pattern, so a drift over the run
      // does not bias trace.overhead_frac
      val traced = o.trace && (index % 4 == 1 || index % 4 == 2)
      sentinel.probe()
      System.gc()
      val g0 = codegens()
      if (traced) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
      val e0 = errors.total
      val (r0, w0) = procIo()
      val gc0 = gcSeconds()
      val ticks0 = jvmThreadTicks()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = now()
      val spans = mutable.ArrayBuffer[SpanStats]()
      val done = order(index).map { n =>
        val span = if (traced) { spanIds += 1; Some(new SpanStats(spanIds, index, n)) } else None
        spans ++= span
        runEntry(spark, fns, n, index, span)
      }
      samples ++= done
      val wall = secs(t0)
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val (jitPass, gcCpu) = jvmThreadCpu(ticks0, jvmThreadTicks())
      val gc = gcSeconds() - gc0
      val codegenPass = codegens() - g0
      val (r1, w1) = procIo()
      if (traced) {
        BusDrain.drain(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      val files = walk(tmp).filter(_.isFile)
      passes += PassStat(index, traced, wall, cpu - jitPass - gcCpu, gc, gcCpu, jitPass,
        codegenPass, liveHeapMb(), r1 - r0, w1 - w0, files.map(_.length).sum,
        files.size, spans.toSeq)
      log(f"pass $index${if (traced) " traced" else ""}: $wall%.3f s wall, $cpu%.3f s cpu " +
        f"($jitPass%.2f JIT, $gcCpu%.2f GC), $codegenPass codegen compilations, " +
        s"${errors.total - e0} log errors (" +
        done.map(d => f"${d.entry} ${d.wallS}%.3f").mkString(", ") + ")")
    }
    sentinel.probe()

    // ---- input derivation cost (traced runs only; not part of setup) ----
    val scaleS =
      if (!o.trace) 0.0
      else {
        val dst = new File(tmp, "perfbench_scale")
        val (_, s) = timed(ScaleData.scale(spark, o.scaleSrc, dst.getPath, o.scaleFactor))
        deleteTree(dst)
        s
      }

    val sentinelSpread = sentinel.samples.max / sentinel.samples.min
    val plain = passes.filterNot(_.traced).toSeq
    val timedSamples = samples.drop(untimed).filter(s => plain.exists(_.index == s.pass)).toSeq
    val attempted = samples.size + checked.size
    val failed = samples.count(!_.ok) + mismatched.size
    val failedNames = (samples.filter(!_.ok).map(_.entry) ++ mismatched).distinct.sorted.toSeq

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
    if (!o.trace) {
      put("setup_s", setup.totalS, "s")
      put("pass_s", median(plain.map(_.wallS)), "s")
      put("entry_p50_s", median(timedSamples.map(_.wallS)), "s")
      put("entry_p75_s", quantile(timedSamples.map(_.wallS), 0.75), "s")
      put("cpu_s", median(plain.map(_.cpuS)), "s")
      put("peak_rss_mb", procField("/proc/self/status", "VmHWM") / 1024.0, "MB")
    } else {
      val tr = passes.filter(_.traced).toSeq
      def med(f: PassStat => Double): Double = median(tr.map(f))
      def sum(f: SpanStats => Double)(p: PassStat): Double = p.spans.map(f).sum
      put("GraftSession.create_s", setup.createS, "s")
      put("Tables.register_s", setup.registerS, "s")
      put("BucketedTables.ensureFacts_s", setup.factsS, "s")
      put("setup.warm_pass_s", setup.warmS, "s")
      put("jvm.codegen_compilations", setup.compilations.toDouble, "count")
      put("ScaleData.scale_s", scaleS, "s")
      put("SparkEntry.build_s", med(sum(_.buildS)), "s")
      put("SparkEntry.build_jobs", med(sum(_.jobs.count(_.phase == "build").toDouble)), "count")
      put("SparkEntry.execute_s", med(sum(_.executeS)), "s")
      put("plans.query_executions", med(sum(_.queryExecutions.toDouble)), "count")
      put("plans.analysis_s", med(sum(_.analysisS)), "s")
      put("plans.optimization_s", med(sum(_.optimizationS)), "s")
      put("plans.planning_s", med(sum(_.planningS)), "s")
      put("scheduler.jobs", med(sum(_.jobs.size.toDouble)), "count")
      put("scheduler.stages", med(sum(_.stages.toDouble)), "count")
      put("scheduler.stages_skipped", med(sum(s => recorder.skippedStages(s).toDouble)), "count")
      put("scheduler.tasks", med(sum(_.tasks.toDouble)), "count")
      put("scheduler.task_failures", med(sum(_.taskFailures.toDouble)), "count")
      put("scheduler.job_span_s", med(sum(_.jobSpanS)), "s")
      put("scheduler.tasks_empty_frac",
        med(p => sum(_.emptyTasks.toDouble)(p) / math.max(1.0, sum(_.tasks.toDouble)(p))), "ratio")
      put("driver.residual_s", med(sum(s => s.wallS - s.jobSpanS - s.phasesS)), "s")
      put("operators.executor_run_s", med(sum(_.runS)), "s")
      put("operators.executor_cpu_s", med(sum(_.cpuS)), "s")
      put("operators.executor_gc_s", med(sum(_.gcS)), "s")
      put("operators.core_utilization",
        med(p => sum(_.runS)(p) / math.max(1e-9, sum(_.jobSpanS)(p) * cores.toDouble)), "ratio")
      put("shuffle.write_bytes", med(sum(_.shuffleWrite.toDouble)), "bytes")
      put("shuffle.read_bytes", med(sum(_.shuffleRead.toDouble)), "bytes")
      put("shuffle.fetch_wait_s", med(sum(_.fetchWaitS)), "s")
      put("shuffle.spill_bytes", med(sum(_.spill.toDouble)), "bytes")
      put("sources.scan_bytes", med(sum(_.scanBytes.toDouble)), "bytes")
      put("sources.scan_records", med(sum(_.scanRecords.toDouble)), "count")
      put("sources.io_write_bytes", med(_.ioWrite.toDouble), "bytes")
      put("sources.io_read_bytes", med(_.ioRead.toDouble), "bytes")
      put("sources.tmp_bytes_live", med(_.tmpBytes.toDouble), "bytes")
      put("sources.tmp_files_live", med(_.tmpFiles.toDouble), "count")
      put("jvm.gc_s", med(_.gcS), "s")
      put("jvm.gc_cpu_s", med(_.gcCpuS), "s")
      put("jvm.jit_s", med(_.jitS), "s")
      put("jvm.pass_codegen_compilations", med(_.codegens.toDouble), "count")
      put("jvm.heap_after_pass_mb", med(_.heapMb), "MB")
      put("log.errors", med(sum(_.logErrors.toDouble)), "count")
      put("host.sentinel_spread", sentinelSpread, "ratio")
      put("trace.overhead_frac", med(_.wallS) / median(plain.map(_.wallS)) - 1.0, "ratio")
      put("trace.orphan_jobs", recorder.orphanJobs.toDouble, "count")
      put("failed_frac", failed.toDouble / attempted, "ratio")
    }

    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_graft_cpus" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "sentinel_spread" -> sentinelSpread.toString,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val info = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "passes" -> plain.size.toString, "traced_passes" -> passes.count(_.traced).toString,
      "entry_samples" -> timedSamples.size.toString,
      "failed_frac" -> (failed.toDouble / attempted).toString,
      "failed_entries" -> Json.arr(failedNames.map(Json.str)),
      "verified" -> Json.str(if (o.record) "recorded" else if (mismatched.isEmpty) "match" else "mismatch"),
      "warm_passes" -> warmPasses.toString,
      "env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "info" -> Json.obj(info)))
    Files.writeString(Paths.get(o.out), result + "\n")

    if (o.trace) {
      val spans = passes.flatMap(_.spans).map { s =>
        Json.obj(Seq("id" -> s.id.toString, "pass" -> s.pass.toString,
          "entry" -> Json.str(s.entry), "start_ms" -> s.startMs.toString,
          "end_ms" -> s.endMs.toString, "ok" -> s.ok.toString,
          "build_s" -> Json.num(s.buildS), "execute_s" -> Json.num(s.executeS),
          "query_executions" -> s.queryExecutions.toString,
          "analysis_s" -> Json.num(s.analysisS), "optimization_s" -> Json.num(s.optimizationS),
          "planning_s" -> Json.num(s.planningS), "job_span_s" -> Json.num(s.jobSpanS),
          "stages" -> s.stages.toString, "stages_skipped" -> recorder.skippedStages(s).toString,
          "tasks" -> s.tasks.toString, "empty_tasks" -> s.emptyTasks.toString,
          "task_failures" -> s.taskFailures.toString, "executor_run_s" -> Json.num(s.runS),
          "executor_cpu_s" -> Json.num(s.cpuS), "shuffle_write_bytes" -> s.shuffleWrite.toString,
          "shuffle_read_bytes" -> s.shuffleRead.toString, "scan_bytes" -> s.scanBytes.toString,
          "log_errors" -> s.logErrors.toString,
          "jobs" -> Json.arr(s.jobs.toSeq.map(j => Json.obj(Seq(
            "id" -> j.id.toString, "phase" -> Json.str(j.phase),
            "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
            "failed" -> j.failed.toString))))))
      }
      Files.writeString(Paths.get(o.traceOut),
        Json.obj(Seq("info" -> Json.obj(info), "spans" -> Json.arr(spans.toSeq))) + "\n")
    }
    log("stopping")
    spark.stop()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
