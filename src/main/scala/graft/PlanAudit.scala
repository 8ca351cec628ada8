package graft

import org.apache.spark.sql.SparkSession

/** Dumps the formatted physical plans of the scale-critical queries
  * with a note on what each plan must exhibit — the human-audit
  * companion to the plan-shape assertions in InventorySpec /
  * BucketedTablesSpec / LayoutSpec. Regenerate PLANS.md with:
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"
  */
object PlanAudit {

  private val audited: Seq[(String, String)] = Seq(
    "qf1_project_filter" ->
      "Filter + projection reach the parquet scan: PushedFilters lists both predicates, ReadSchema carries only the 3 output columns.",
    "qa1_pricing_summary" ->
      "Single hash aggregate with map-side partial aggregation (two HashAggregate nodes around one Exchange); whole-stage codegen spans scan to aggregate.",
    "qj1_star_join" ->
      "Every dimension joins as BroadcastHashJoin; the only shuffle joins the two fact tables. Scale behavior (measured, r8): at sf2 (20x data) AQE flips exactly one join to SortMergeJoin (4 BHJ -> 3 BHJ + 1 SMJ) as a build side outgrows the 10 MB broadcast threshold — the expected strategy transition, and the reason qj1's 20x time ratio (4.5x, BENCH_SCALE_sf2.json) sits above its 10x ratio without any super-linear blow-up.",
    "qj7_range_join" ->
      "Equi+range self-join keyed on the time bucket: the Exchange is on (user_id, bucket), so per-task work is O(bucket population), never O(per-key history).",
    "qt2_topk_per_group" ->
      "WindowGroupLimit prunes each group to k rows BEFORE the full sort/window — the distributed top-k shape.",
    "ql8_mixture_resample" ->
      "Same WindowGroupLimit, restored by the redundant literal rank cap (a column-valued quota alone would block it); quota side is a broadcast join.",
    "qv2_dot_topk" ->
      "The declared SQL's zip_with/aggregate fold is rewritten (GraftExtensions' VecDotRewrite) to the codegen'd native expression (vec_dot_fast in the plan), not run as an interpreted HOF fold; TakeOrderedAndProject replaces a global sort.",
    "ql9_pack_sequences" ->
      "One running-sum window per source; downstream pack aggregation reuses small shuffles of pre-aggregated rows (AQE-coalesced).",
    "ql11_repetition" ->
      "The repetition kernel runs as a shuffle-free projection (repetition_stats in the plan, no hashpartitioning Exchange) — the relational explode→groupBy→groupBy spelling would shuffle the exploded bigrams twice.",
    "qx9_lateral" ->
      "The correlated LATERAL subquery decorrelates: no CartesianProduct; the per-outer-row LIMIT plans as the same window-group-limit family as qt2.",
    "qj11_exists_subq" ->
      "EXISTS / NOT EXISTS decorrelate to one left-semi plus one left-anti hash join on o_custkey — subqueries never execute per outer row.",
    "qj16_waiting_supplier" ->
      "Override replaces the semi+anti decorrelated self-joins (4 lineitem-scale shuffles, 3 scans) with per-order top-2 supplier shipdate maxima: two Exchanges of one slim line projection, the per-order collect_list bounded by lines-per-order, supplier attached as BroadcastHashJoin, TakeOrderedAndProject for the top-20.",
    "eng_lm_score" ->
      "Scoring is a shuffle-free compiled projection (lm_score in the plan): the only Exchange aggregates the per-lang report rows. The model build (one explode + vocab-capped aggregate) runs once per session, cached like the IVF codebook.",
    "eng_bucketed_star" ->
      "Fact-to-fact SortMergeJoin with NO Exchange on the join key — the bucket layout aligns both sides at write time. (Dumped with auto-broadcast off: at audit scale AQE would broadcast the small side, hiding the shape that matters at 100 TB. The remaining exchanges shuffle only the few post-aggregation rows.)",
    "qj14_interval_join" ->
      "The session-pair overlap join has no equi key, so it plans as a BroadcastNestedLoopJoin over the per-user session intervals. It is bounded: the user_id < 40 slice stays at ~2,600 events from sf0.01 up (users grow with the scale factor, and ScaleData's key shift keeps the slice fixed), so the nested loop never grows with the data.",
    "ql18_dup_spans" ->
      "Span-level dup metric: one Exchange on the shingle hash (groupBy + join back), one per-doc window for the interval union, one per-source aggregate — no pairwise document comparison at any stage.",
    "qj17_big_orders" ->
      "TPC-H Q18 shape: the HAVING aggregate collapses lineitem to slim qualifying-order rows BEFORE any join; the per-order rollup reuses the same l_orderkey hash partitioning (no second fact shuffle); customer attaches as BroadcastHashJoin; TakeOrderedAndProject cuts the top-100.",
    "ql19_quality_lr" ->
      "Model apply is pure projection: one Exchange on (doc, token) for the count, two chained per-doc aggregates (AQE-coalesced small shuffles), the logistic score computed inline — no shuffle grows with the model.",
    "eng_ann_pq_topk" ->
      "PQ-ADC query: the codes scan feeds a lookup-table sum projection into TakeOrderedAndProject (shortlist), whose ids broadcast back onto the corpus for the exact re-rank — full-corpus work is the code-lookup scan only.",
    "ql22_shard_assign" ->
      "Shard routing is a pure projection (md5 hex fold) into ONE 16-group hash aggregate with map-side partials — doc rows shuffle once, to 16 groups; the production writer is partitionBy(shard) on the same column.",
    "ql23_ngram_coverage" ->
      "Both splits explode to shingle-hash streams; the train side collapses to a DISTINCT hash set and the probe is one hash-keyed shuffle join (never doc×doc), followed by two linear per-doc/per-source aggregates.",
    "eng_incremental_dedup" ->
      "Only the delta batch is shingled and signed — the base contributes its persisted signature index; the collision join is keyed on (band, band_key) with a delta-only left side, so base×base pairs cannot form and per-ingest work is O(delta + colliding base rows).",
    "qt4_hash_sample" ->
      "Deterministic bottom-k sample: ORDER BY hash LIMIT k plans as TakeOrderedAndProject — per-partition k-element heaps merged at the driver, no global Exchange/Sort of the table.",
    "eng_ann_ivf_topk" ->
      "The ANN query reads the PERSISTED cell-partitioned corpus: PartitionFilters carries cell IN (the probe's nProbe cells), so the scan lists only those directories — no per-query corpus re-assignment (the round-9 scale-weak, closed: 10x-data ratio 1.0, BENCH_SCALE_ivfq.json); TakeOrderedAndProject replaces a global sort. The inline assignment spelling survives only as ivfTopK's documented fallback / differential foil.",
    "eng_semantic_dedup" ->
      "SemDeDup cluster-then-dedup: the per-row cell assignment is ONE cell_assign kernel call (codebook as a plan reference object — no k*dim literal unrolling in the plan, no janino breach at k=4096), the within-cell pair join shuffles ONCE on the learned cell id (cells ~64 members since k scales with the corpus — pair work linear in n, cross-cell pairs never form), and the survivor drop is a LEFT ANTI join on the id. The assignment is computed once and shared (checkpointed) by the pair join and both censuses. Measured curve at one HEAD: 10x data -> 1.26x, 50x -> 2.60x, 132x (k at the 4096 cap) -> 4.34x (BENCH_SCALE_semdedup*.json).")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark: SparkSession = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    Tables.register(spark, sfDir)
    sources.BucketedTables.ensureFacts(spark, sfDir)
    val fns = SparkEntry.queries

    val body = audited.map { case (name, note) =>
      // the bucketed-star audit shows the large-scale join shape, so
      // the tiny-SF broadcast shortcut is disabled for that dump only
      val noBroadcast = name == "eng_bucketed_star"
      if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan =
        try fns(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        finally if (noBroadcast)
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      // scrub the per-PID tmp-metastore path so regenerating the file
      // in a new session doesn't churn every Location line
      val stable = plan.replaceAll("graft_metastore_\\d+-warehouse", "graft_metastore-warehouse")
      s"## $name\n\n$note\n\n```\n${stable.trim.take(6000)}\n```\n"
    }.mkString("\n")

    val header =
      s"""# PLANS — physical-plan audit of the scale-critical queries
         |
         |Generated by `graft.PlanAudit` at $sfDir. Each section states
         |the property the plan must exhibit at 100 TB; the matching
         |machine assertions live in InventorySpec / BucketedTablesSpec /
         |LayoutSpec / GraftExtensionsSpec.
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), header + "\n" + body)
    println(s"[planaudit] wrote ${audited.size} plans to $out")
    spark.stop()
  }
}
