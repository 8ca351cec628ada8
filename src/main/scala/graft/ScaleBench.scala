package graft

import org.apache.spark.sql.SparkSession

/** Scale-evidence bench: times the data-heavy inventory entries at
  * sf0.1 AND at a derived sf1 (ScaleData: sf0.1 key-shift-replicated
  * ×10) in ONE session, and reports the per-entry time ratio against
  * the 10× data ratio. The sf0.1 bench headline sits on a ~0.2-0.4 s
  * session/JIT floor, so "would this survive 100×?" needs a second
  * datapoint where data, not overhead, dominates — this produces it.
  *
  * Sub-linear ratios (< 10×) are expected for entries dominated by
  * fixed overhead or bounded slices; anything super-linear (> 10×,
  * with headroom for noise) is a scale red flag. Output: one JSON
  * line per the bench discipline, written to BENCH_SCALE.json.
  *
  * The sf1 dataset lives in scratch space and is (re)derived when
  * missing — only the committed JSON snapshot is a repo artifact. */
object ScaleBench {

  /** The data-heavy subset: full-scan aggregation, multi-table joins,
    * global/grouped sorts, set-similarity + dedup families, iterative
    * graph, ANN, windows/sessionization — entries whose work grows
    * with the data, not the plan. */
  val heavy: Seq[String] = Seq(
    "qf1_project_filter", "qa1_pricing_summary", "qa4_percentile",
    "qj1_star_join", "qj9_asof_join", "qj15_shipping_priority",
    "qj16_waiting_supplier", "qj17_big_orders", "qt1_global_sort",
    "qt2_topk_per_group", "qw3_moving_avg", "qs3_sessionize",
    "ql2_exact_dedup", "ql3_shingle_jaccard", "ql15_setsim_join",
    "ql17_segment_dedup", "ql18_dup_spans", "ql21_tfidf",
    "ql22_shard_assign", "ql23_ngram_coverage",
    "eng_pagerank", "eng_minhash_lsh_dedup", "eng_simhash_dedup",
    "eng_incremental_dedup",
    "eng_dedup_pipeline", "eng_embed_dedup", "eng_semantic_dedup",
    "eng_ann_brute_topk",
    "eng_ann_lsh_topk", "eng_ann_ivf_topk", "eng_ann_ivfpq_topk",
    "eng_heavy_hitters", "eng_salted_agg",
    "eng_bpe_train", "eng_ann_sq8_topk",
    "qa20_chisq_drift", "qx17_posexplode", "qt4_hash_sample",
    "eng_salted_join", "eng_streaming_dedup", "eng_binary_ingest",
    "qj18_triangles", "eng_triangles_deg")

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // second-scale-point runs (e.g. factor 20 → sf2) write elsewhere
    // so the sf1 snapshot isn't clobbered
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")
    // restrict to a named subset (comma list; may include entries
    // outside `heavy` — e.g. the sf5 point runs only the dedup + ANN
    // entries whose 100 TB claims matter most)
    val entriesRun: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(heavy)
    val spark: SparkSession = GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sf1/lineitem.parquet"))) {
      System.err.println(s"[scale] deriving $sf1 = $sf01 x $factor")
      val t0 = System.nanoTime()
      ScaleData.scale(spark, sf01, sf1, factor)
      System.err.println(f"[scale] derived in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val fns = SparkEntry.queries
    // warm-up both dirs (session, codegen, parquet footers, bucketed
    // layout builds — index builds are excluded from measurement, the
    // Bench discipline)
    for (dir <- Seq(sf01, sf1)) {
      Tables.register(spark, dir)
      spark.sql(QueryInventory.qa1.sparkSql).count()
      // the bucketed-facts build is only consumed by eng_bucketed_star
      // (which also ensures lazily); pre-building it for a subset run
      // that never reads it would bucket the whole fact table at deep
      // factors (sf13+) for nothing
      if (entriesRun.contains("eng_bucketed_star"))
        sources.BucketedTables.ensureFacts(spark, dir)
    }

    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try { fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[scale] $name@$dir failed: ${e.getMessage}"); -1.0 }
    }
    // same contention sentinel as Bench (BenchUtil.SentinelProbe):
    // the spread exposes external host load in the snapshot itself
    val sentinel = new BenchUtil.SentinelProbe(spark, sf01)
    sentinel.prime()
    // interleaved min-of-2 per (entry, sf) — same contention defense
    // as Bench: the two samples of an entry are separated by the whole
    // suite, so one contention window can't own both
    def pass(label: String, names: Seq[(String, String)]): Map[(String, String), Double] =
      names.zipWithIndex.map { case ((name, dir), i) =>
        if (i % 10 == 0) sentinel.probe()
        System.err.println(s"[scale] $label $name@$dir")
        (name, dir) -> once(name, dir)
      }.toMap
    val keys = for (dir <- Seq(sf01, sf1); name <- entriesRun) yield (name, dir)
    val p1 = pass("pass1", keys)
    val p2 = pass("pass2", keys)
    // a third interleaved sample where the first two disagree >1.5x
    // (the r7 sf2 audit flag: qj1's 7.9x ratio sat on one noisy
    // denominator sample) OR where exactly one pass failed (a flake
    // must neither permanently fail the entry nor stand as a single
    // un-replicated sample — BenchUtil.combine). The resample only
    // ever refines an established measurement: a transient pass-3
    // failure must not mark an entry with two valid samples as
    // failed (BenchUtil.refine discards negative extras).
    val unstable = keys.filter(k =>
      BenchUtil.disagree(p1(k), p2(k)) || BenchUtil.oneFailed(p1(k), p2(k)))
    val p3 = pass("pass3", unstable)
    def best(k: (String, String)): Double =
      BenchUtil.combine(p1(k), p2(k), p3.get(k))

    def j(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = entriesRun.map { n =>
      val (a, b) = (best((n, sf01)), best((n, sf1)))
      val ratio = if (a > 0 && b >= 0) b / a else -1.0
      (n, a, b, ratio)
    }
    val entries = rows.map { case (n, a, b, r) =>
      s""""$n":{"sf01_sec":${j(a)},"sf1_sec":${j(b)},"ratio":${j(r)}}"""
    }.mkString("{", ",", "}")
    val worst = rows.filter(_._4 >= 0).sortBy(-_._4).take(5)
      .map { case (n, _, _, r) => s""""$n":${j(r)}""" }.mkString("{", ",", "}")

    // engine-vs-baseline where they actually differ: the contract
    // queries run verbatim through spark.sql (engine == baseline by
    // construction), so the only entries with a distinct baseline are
    // the Q.impl overrides — time impl vs the plain spark.sql spelling
    // at sf1 (min-of-2 interleaved, same defense). The budget is
    // impl <= 2x SQL; an override stays only with a measured win or a
    // size gate (Q.impl), so most ratios sit below 1.
    // A subset run (SPARK_GRAFT_SCALE_ONLY) measures impl-vs-SQL only
    // for overridden queries IN the subset — that's how one drifting
    // override (r8: qj16) gets a targeted gate-clean re-measure
    // without paying for a full sweep. The section is sf1-only (the
    // key SAYS sf1): at any other factor the timed dir holds sfN
    // data, and recording those under "impl_vs_baseline_sf1" would
    // pass off sfN numbers as sf1 evidence against the 2x budget.
    val subset = sys.env.contains("SPARK_GRAFT_SCALE_ONLY")
    // at factors other than 10 the section only runs for an explicit
    // subset, and is recorded under a key NAMING the factor (below) —
    // never as sf1 evidence
    val overridden =
      if (factor != 10 && !subset) Seq.empty[Q]
      else QueryInventory.all.filter(_.impl.isDefined)
        .filter(q => !subset || entriesRun.contains(q.name))
    def onceBaseline(q: Q): Double = {
      val t0 = System.nanoTime()
      try { Tables.register(spark, sf1)
        spark.sql(q.sparkSql).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[scale] baseline ${q.name} failed: ${e.getMessage}"); -1.0 }
    }
    def implPass(qs: Seq[Q]): Map[String, Double] =
      qs.map(q => q.name -> once(q.name, sf1)).toMap
    def sqlPass(qs: Seq[Q]): Map[String, Double] =
      qs.map(q => q.name -> onceBaseline(q)).toMap
    val (i1, s1) = (implPass(overridden), sqlPass(overridden))
    val (i2, s2) = (implPass(overridden), sqlPass(overridden))
    // same disagreement escalation as the main sweep: a ratio whose
    // numerator and denominator each rest on two agreeing samples is
    // evidence; one noisy side misread qj16 as 1.48x (min-of-3: 1.13x)
    val i3 = implPass(overridden.filter(q =>
      BenchUtil.disagree(i1(q.name), i2(q.name)) || BenchUtil.oneFailed(i1(q.name), i2(q.name))))
    val s3 = sqlPass(overridden.filter(q =>
      BenchUtil.disagree(s1(q.name), s2(q.name)) || BenchUtil.oneFailed(s1(q.name), s2(q.name))))
    val vsBaseline = overridden.map { q =>
      val impl = BenchUtil.combine(i1(q.name), i2(q.name), i3.get(q.name))
      val sql = BenchUtil.combine(s1(q.name), s2(q.name), s3.get(q.name))
      val ratio = if (impl > 0 && sql > 0) impl / sql else -1.0
      s""""${q.name}":{"impl_sec":${j(impl)},"sql_sec":${j(sql)},"impl_vs_sql":${j(ratio)}}"""
    }.mkString("{", ",", "}")

    val implKey =
      if (factor == 10) "impl_vs_baseline_sf1" else s"impl_vs_sql_x$factor"
    val line =
      s"""{"metric":"scale_ratio","data_factor":$factor,"queries":$entries,"worst_ratios":$worst,"$implKey":$vsBaseline,"sf01_total":${j(rows.filter(_._2 > 0).map(_._2).sum)},"sf1_total":${j(rows.filter(_._3 > 0).map(_._3).sum)},"dirty":${BenchUtil.isDirty(sentinel.samples)},${BenchUtil.sentinelJson(sentinel.samples)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    println(line)
    spark.stop()
  }
}
