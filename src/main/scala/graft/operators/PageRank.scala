package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank power iteration over an edge list — the engine's
  * iterative-join graph workload (Page et al. '99; the canonical
  * Spark iterative benchmark). Complements the one-shot graph step
  * already in the engine (DedupClusters.connectedComponents):
  * components answer "which nodes belong together", PageRank ranks
  * influence within the link structure.
  *
  * Unnormalized formulation with dangling-safe updates:
  *   rank'(v) = (1−d) + d · Σ_{u→v} rank(u) / outdeg(u)
  * Nodes with no in-edges settle at (1−d); the iteration is run a
  * fixed `iters` times (deterministic — no convergence probe).
  *
  * Scale shape: per iteration ONE shuffle — contributions group on
  * dst; the (node, outdeg) frame is computed once and reused (it
  * carries the edge fan-out). When the measured node bound fits
  * [[BroadcastMaxRowsKey]], each sweep joins the BROADCAST rank frame
  * against the dst-clustered edge list, so the edge list never moves
  * and the contribution exchange carries one partially-summed row per
  * node; past the bound, ranks re-join edges on src each sweep and
  * AQE picks the join strategy. Rank state is checkpointed every
  * `checkpointEvery` sweeps (Checkpoints.truncate, reliable when
  * `spark.checkpoint.dir` is set): iterative plans otherwise double in
  * depth each sweep and the optimizer re-walks the whole lineage per
  * action (the classic iterative-Spark trap).
  *
  * Determinism: ranks round to 9 dp each sweep (fp summation order
  * varies with partitioning — same discipline as KMeans/lloydStep). */
object PageRank {

  /** Row-count bound for broadcast-HINTING the rank frame into each
    * sweep's join (the Triangles.BroadcastMaxRowsKey discipline: an
    * explicit hint never falls back, so it must be EARNED by a
    * measured census, here the conservative node bound 2·|linked| ≥
    * |nodes|). Under the bound each sweep is one BroadcastHashJoin —
    * the edge list never moves — instead of a SortMergeJoin whose
    * probe side re-shuffles the full edge frame every sweep (the
    * checkpointed RDD scan reports no partitioning, so EnsureRequirements
    * re-exchanges it per sweep; measured 12 shuffle exchanges → 4
    * shuffle + 4 broadcast over the post-checkpoint 4-sweep plan at
    * sf0.1). 32M (node, rank) rows hash to well under Spark's 8 GB /
    * 512M-row broadcast caps; past the bound the plain join is
    * emitted and AQE picks the strategy, exactly as before. */
  val BroadcastMaxRowsKey = "spark.graft.pagerank.broadcastMaxRows"
  val BroadcastMaxRowsDefault: Long = 32L * 1000 * 1000

  private def broadcastMaxRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(BroadcastMaxRowsKey).map(_.toLong)
      .getOrElse(BroadcastMaxRowsDefault)

  /** edges: (src, dst) long columns, multi-edges allowed (weighted by
    * multiplicity). Returns (node, rank) for every node appearing as
    * src or dst. */
  def run(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
          checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Measured note: disabling AQE for the iteration (the
    // GraphX-style fixed-partitioner instinct) was tried and is ~2×
    // SLOWER here — AQE's post-shuffle coalescing shrinks the
    // constant-size rank/contrib frames to a handful of tasks per
    // sweep, which outweighs its per-stage re-planning cost. Keep
    // adaptive planning on.
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // the WEIGHTED fan-out-annotated edge list, computed ONCE and
    // checkpointed — every sweep reuses it. Multi-edges collapse to
    // (src, dst, w): a hot pair contributes w·rank/outdeg in one row
    // instead of w rows — at 100 TB this is the edge-compression that
    // keeps per-sweep shuffle volume bounded by DISTINCT pairs, not
    // raw edge count (identical math: outdeg is the weight sum).
    val weighted = e.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    val linked0 = Checkpoints.truncate(
      weighted
        .join(weighted.groupBy(col("src")).agg(sum(col("w")).as("outdeg")),
          Seq("src"))) // (src, dst, w, outdeg)
    // The broadcast gate is a MEASURED census (truncate is eager, so
    // this count is a cheap pass over already-materialized blocks):
    // the rank frame holds exactly the node universe, and
    // |nodes| ≤ 2·|linked| — a conservative bound, the same earn-the-
    // hint discipline as Triangles.BroadcastMaxRowsKey. Under the gate
    // the edge list is ALSO re-clustered on dst (one extra bounded
    // pass — taken only when the graph is small enough to broadcast,
    // so never a wasted shuffle at scale): every sweep's
    // groupBy(dst=node) then finds each node's rows co-resident, the
    // map-side partial aggregation collapses them to ONE row per node,
    // and the per-sweep contribution exchange carries |nodes| rows
    // instead of |linked| (guide §2.3 — aggregate before you shuffle;
    // measured 4.49 s → 2.74 s for the 8-sweep sf0.1 entry, ranks
    // bit-identical: per-group sums still merge through the same
    // hash-aggregate, and the 9-dp pin below absorbs order wiggle —
    // the same invariance PageRankSpec's partitioning test asserts).
    val m = linked0.count()
    val bcastRank = 2L * m <= broadcastMaxRows(edges.sparkSession)
    val linked =
      if (bcastRank)
        Checkpoints.truncate(linked0.repartition(col("dst")))
      else
        // PAST the gate (the 100 TB regime): the checkpointed RDD scan
        // reports UnknownPartitioning, so EnsureRequirements used to
        // re-exchange the FULL edge list on src inside EVERY sweep —
        // 8 sweeps × full edge shuffle, the dominant at-scale cost
        // (guide §2.4). Re-declaring the src-clustering with an
        // explicit repartition makes the exchange a visible, reusable
        // subtree: within one checkpoint segment every sweep's join
        // shares ONE edge exchange (ReuseExchange / AQE stage reuse —
        // the sweeps reference the identical plan), so the edge list
        // moves once per segment (iters/checkpointEvery executions)
        // instead of once per sweep, and only the |nodes|-row rank
        // side shuffles per sweep. Deliberately NOT persist()ed: the
        // result is returned lazily, so run() has no unpersist point
        // and a CacheManager entry would leak across invocations —
        // the once-per-segment re-shuffle is the bounded, leak-free
        // trade.
        linked0.repartition(col("src"))
    def rankHint(df: DataFrame): DataFrame =
      if (bcastRank) broadcast(df) else df
    // Nodes with NO in-edges (they appear only as src) settle at
    // round((1−d) + d·0, 9) from sweep 1 on — a constant frame built
    // once from the checkpointed edge list. Every node WITH an
    // in-edge appears in every sweep's `contribs` (rank always covers
    // all nodes and `linked` holds every distinct (src, dst) pair, so
    // the grouped dst set is exactly the distinct-dst set each
    // sweep). Stamping the constant once and UNIONING it per sweep
    // therefore computes the identical ranks as the former
    // `nodes LEFT JOIN contribs` + coalesce spelling (oracle-pinned)
    // while removing one join per sweep — 8 broadcast builds/probes
    // of the node table gone from the measured entry (guide §2.4:
    // remove shuffles/joins outright when a precomputed frame already
    // carries the answer). `d·0.0` is exact in fp, so the constant is
    // bit-identical to the old coalesce path. With the per-sweep join
    // gone, the full node-universe frame is never needed either: the
    // union of contribs and this frame IS the universe.
    // built from linked0 (NOT linked): the anti-join's narrow src/dst
    // projections shuffle on their own keys anyway, so routing them
    // through the full-width clustered exchange would shuffle the wide
    // rows once for nothing (guide §2.3 — project before the exchange)
    val noInRanks = Checkpoints.truncate(
      linked0.select(col("src").as("node")).distinct()
        .join(linked0.select(col("dst").as("node")).distinct(),
          Seq("node"), "left_anti")
        .select(col("node"),
          round(lit(1.0 - damping) + lit(damping) * lit(0.0), 9).as("rank")))
    var rank: DataFrame = null
    var i = 0
    while (i < iters) {
      // sweep 1's rank is the constant 1.0 for EVERY node, so its
      // join is a multiplication by lit(1.0) — skip the join, keep
      // the expression shape (w · 1.0 / outdeg ≡ w · r / outdeg at
      // r = 1.0, exact in fp), same 9-dp pin
      val contribs = (
        if (rank == null)
          linked.select(col("dst").as("node"),
            (col("w") * lit(1.0) / col("outdeg")).as("c"))
        else
          linked
            .join(rankHint(
                rank.select(col("node").as("src_r"), col("rank").as("r"))),
              col("src") === col("src_r"))
            .select(col("dst").as("node"),
              (col("w") * col("r") / col("outdeg")).as("c")))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("contrib"))
      val next = contribs
        .select(col("node"),
          round(lit(1.0 - damping) +
            lit(damping) * col("contrib"), 9).as("rank"))
        .unionByName(noInRanks)
      rank = if ((i + 1) % checkpointEvery == 0 && i + 1 < iters)
        Checkpoints.truncate(next)
      else next
      i += 1
    }
    rank
  }
}
