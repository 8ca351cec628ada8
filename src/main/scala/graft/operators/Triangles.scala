package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed triangle counting with pluggable edge orientation —
  * the scale refinement of qj18's key-oriented SQL spelling.
  *
  * Orientation turns the undirected edge {u,v} into one directed
  * edge pointing from the smaller to the larger vertex under a total
  * order; every triangle then has exactly one "apex" (its smallest
  * vertex) and is generated exactly once as a wedge of the apex's
  * two out-edges closed by the out-edge between its endpoints. Work
  * is Σ_v C(outdeg(v), 2) — the ORDER decides the cost:
  *
  *  - KEY order (qj18): outdeg of low-key vertices is ~their full
  *    degree; on a skewed graph a high-degree hub with a small key
  *    generates O(deg²) wedges — the known blow-up at 100×.
  *  - DEGREE order (Schank & Wagner '05, "Finding, Counting and
  *    Listing all Triangles in Large Graphs"): edges point from
  *    low-degree to high-degree endpoints ((deg, key) lexicographic,
  *    key as tie-break), so wedges generate at LOW-degree vertices;
  *    total wedge work is O(m^1.5) on any graph — hub vertices
  *    receive edges instead of fanning them out. The cost-toward-
  *    the-cheap-side idea mirrors the reference's cost-based
  *    placement, /root/reference/mlir_compiler/partitioner.py:26-52.
  *
  * Execution shape (100 TB): the oriented edge list is the only
  * shuffled state; the wedge join and the closing probe both join
  * against the (bounded, two-int-column) edge list. The broadcast
  * hint is SIZE-GATED on the measured row count
  * (`spark.graft.triangles.broadcastMaxRows`, default 32M ≈ 2 GB
  * hashed — well under Spark's 8 GB broadcast hard limit): an
  * explicit hint never falls back, so past the bound we emit the
  * plain join and let AQE / autoBroadcastJoinThreshold choose the
  * physical strategy. Wedges are generated and
  * immediately probed inside one codegen'd pipeline — never
  * materialized. Triangle totals are orientation-invariant (asserted
  * deg == key in TrianglesSpec); wedge totals are not — the delta IS
  * the saved work, and both are reported by eng_triangles_deg. */
object Triangles {

  /** Row-count bound for emitting a broadcast HINT. Measured, not
    * assumed: an explicit `broadcast()` overrides AQE's size decision
    * and hard-fails past Spark's 8 GB broadcast limit instead of
    * degrading to a shuffled join — so the hint has to be earned by a
    * runtime census, the same discipline as the packable guards
    * below. 32M three-column rows hash to ~2 GB, comfortably under
    * the limit; above the bound the plain join is emitted and
    * AQE / autoBroadcastJoinThreshold pick the strategy. Mirrors the
    * reference's measured-cost placement rule
    * (/root/reference/mlir_compiler/partitioner.py:84-87). */
  val BroadcastMaxRowsKey = "spark.graft.triangles.broadcastMaxRows"
  val BroadcastMaxRowsDefault: Long = 32L * 1000 * 1000

  private def broadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption(BroadcastMaxRowsKey).map(_.toLong)
      .getOrElse(BroadcastMaxRowsDefault)

  /** Hint only under the measured bound; plain frame above it. */
  private def gatedBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastMaxRows(df.sparkSession)) broadcast(df) else df

  /** Undirected supplier co-occurrence edges (s1 < s2, distinct):
    * suppliers sharing an order. `minPrice` optionally thins lines
    * (qj18 uses 90000 to keep its DuckDB oracle small); None faces
    * the full ~91%-dense graph.
    *
    * Spelled as group-to-set + pair explosion rather than the qj18
    * self-join: ONE shuffle on the grouping key builds per-order
    * supplier sets (bounded — lines per order is a data-model
    * constant, ~7 here), and the pair explosion is a shuffle-free
    * codegen'd projection. Measured 1.7 s vs the self-join's 2.7 s
    * warm at sf0.1 (and it skips the join's second full scan). The
    * per-group set is what bounds this: a grouping key with
    * unbounded fan-in would need the self-join spelling back.
    * TrianglesSpec cross-checks the edge census against the
    * independent self-join SQL spelling. */
  def supplierCooccurrence(lineitem: DataFrame, minPrice: Option[Double]): DataFrame = {
    val lines = minPrice.fold(lineitem)(p => lineitem.filter(col("l_extendedprice") > p))
      .select(col("l_orderkey"), col("l_suppkey"))
    lines.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("ss"))
      .select(explode(col("ss")).as("s1"), col("ss"))
      .select(col("s1"), explode(col("ss")).as("s2"))
      .where(col("s1") < col("s2"))
      .distinct()
  }

  /** Per-vertex undirected degree of an (s1 < s2) edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("s1").as("v"))
      .unionAll(edges.select(col("s2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** Orients edges by KEY: src = min key. Emits (src, dst, dst_rank)
    * where rank is the orientation order of dst — the wedge join
    * needs it to order the two endpoints. For key order the rank IS
    * the key, kept as a LONG: a double cast would collapse distinct
    * keys ≥ 2⁵³ and the strict dst_rank < predicate would then
    * silently drop their wedges. */
  def orientByKey(edges: DataFrame): DataFrame =
    edges.select(col("s1").as("src"), col("s2").as("dst"),
      col("s2").as("dst_rank"))

  /** Orients edges by DEGREE ((deg, key) lexicographic): src = the
    * endpoint smaller in that order. Two joins against the
    * vertex-cardinality degree table — broadcast-hinted only under
    * the measured [[BroadcastMaxRowsKey]] bound (a vertex set that
    * outgrows the driver degrades to a shuffled join, never aborts);
    * no extra shuffle of the edge list.
    *
    * dst_rank encodes (deg, key) as a single orderable DOUBLE —
    * deg · 2²⁶ + key, exact (≤ 2⁵³) for keys < 2²⁶ and degrees
    * < 2²⁷ — because the wedge join compares it ~2·wedges times and
    * a scalar double compare measures ~2× faster there than a
    * struct compare. The bounds are CHECKED at runtime (one
    * aggregate over the edge list, the same discipline as
    * triangleCount's packable guard): ids outside them fall back to
    * a lexicographic struct rank, trading the 2× for correctness on
    * arbitrary key spaces instead of silently mis-orienting. */
  def orientByDegree(edges: DataFrame,
                     knownBounds: Option[(Long, Long, Long)] = None): DataFrame = {
    val degTable = degrees(edges)
    // Runtime bounds probe over the EDGE list (typically cached by the
    // caller), NOT over degTable: probing degTable executed the full
    // degrees aggregate once for the probe and again when the
    // orientation materializes (guide §1.2). A caller that already
    // censused the edge list (eng_triangles_deg folds count+min+max
    // into its first aggregate) passes (lo, hi, m) through
    // knownBounds — only valid for a NON-EMPTY edge list — so the
    // probe action isn't paid twice. Pack safety: the rank
    // must stay exact in a double, i.e. maxDeg · 2²⁶ + key ≤ 2⁵³. On a
    // SIMPLE graph hi < 2²⁶ implies maxDeg ≤ n − 1 < 2²⁶ < 2²⁷, but
    // degrees() counts WITH multiplicity, so a multigraph caller with
    // a > 2²⁷-parallel-edge hub could overflow and silently
    // mis-orient — the m < 2²⁷ term (maxDeg ≤ m always) restores the
    // guard for free, m is already in the probe. The broadcast gate
    // (hint-only — physical choice, never results) uses the
    // conservative vertex bound min(2m, hi − lo + 1) ≥ the exact
    // count it replaces.
    val (empty, lo, hi, m) = knownBounds match {
      case Some((l, h, mm)) => (false, l, h, mm)
      case None =>
        val b = edges.agg(min(least(col("s1"), col("s2"))).as("lo"),
          max(greatest(col("s1"), col("s2"))).as("hi"),
          count(lit(1)).as("m")).collect()(0)
        if (b.isNullAt(0)) (true, 0L, 0L, 0L)
        else (false, b.getLong(0), b.getLong(1), b.getLong(2))
    }
    val packs = !empty && lo >= 0L && hi < (1L << 26) && m < (1L << 27)
    val vertBound = if (empty) 0L else math.min(2L * m, hi - lo + 1L)
    val deg = gatedBroadcast(degTable, vertBound)
    val (rank1, rank2) =
      if (packs)
        (col("d1.deg").cast("double") * lit((1L << 26).toDouble) + col("s1"),
          col("d2.deg").cast("double") * lit((1L << 26).toDouble) + col("s2"))
      else
        (struct(col("d1.deg").as("d"), col("s1").as("k")),
          struct(col("d2.deg").as("d"), col("s2").as("k")))
    edges.join(deg.as("d1"), col("s1") === col("d1.v"))
      .join(deg.as("d2"), col("s2") === col("d2.v"))
      .select(
        when(rank1 < rank2, col("s1")).otherwise(col("s2")).as("src"),
        when(rank1 < rank2, col("s2")).otherwise(col("s1")).as("dst"),
        when(rank1 < rank2, rank2).otherwise(rank1).as("dst_rank"))
  }

  /** Total wedge work Σ_v C(outdeg(v), 2) of an oriented edge list —
    * a two-level aggregate, no wedge is generated. This is the
    * number the orientation exists to minimize. */
  def wedgeCount(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("src")).agg(count(lit(1)).as("o"))
      .agg(coalesce(sum(col("o") * (col("o") - 1) / 2), lit(0))
        .cast("long").as("wedges"))

  /** Exact triangle count: wedges (apex src; endpoints ordered by
    * dst_rank so the closing edge is oriented a→b) probed against
    * the oriented edge list. Both joins broadcast-HINT the skinny
    * edge list only under the measured [[BroadcastMaxRowsKey]] gate;
    * the wedge stream is generated and probed inside one pipeline,
    * never materialized. Returns a 1-row (n_triangles)
    * frame; the count executes eagerly so the edge cache's lifecycle
    * stays inside this call.
    *
    * The count is over the underlying SIMPLE graph: duplicate
    * (src, dst) pairs — a multigraph's parallel edges — are dropped
    * first, inside the repartition's own shuffle (hash on (src, dst)
    * already clusters the distinct). Kept, they would split the two
    * routes: the intersect kernel counts min-multiplicity, the wedge
    * join products, so the result would change across the gate.
    *
    * Three measured levers (sf0.1 dense graph, 1.35e8 wedges,
    * 23.7 s → 1.8 s combined):
    *  - explicit repartition to full parallelism: the wedge join is
    *    MULTIPLICATIVE (each edge fans out to its apex's whole
    *    out-neighborhood), so AQE's size-based coalescing — blind to
    *    output cardinality — collapses the ~7 MB edge list to one
    *    task and serializes the expansion;
    *  - materializing the oriented edges first: otherwise the
    *    orientation's CASE projections re-evaluate inside the
    *    broadcast build and every bucket probe (4.5× measured);
    *  - packing the closing-edge key (a,b) into ONE long
    *    (a·2³² | b) when ids fit in 32 bits: the semi probe then
    *    uses Spark's dense LongHashedRelation instead of the
    *    unsafe-row struct-key map (~6× on the 1e8-probe stage); ids
    *    outside [0, 2³²) fall back to the struct-key join. */
  def triangleCount(oriented: DataFrame): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val e = oriented.select(col("src"), col("dst"), col("dst_rank"))
      .repartition(spark.sparkContext.defaultParallelism * 2, col("src"), col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // EDGE-ITERATOR route under the measured broadcast gate (the
      // count doubles as the persist's materializing action): probing
      // wedges one row at a time materializes |wedges| join rows
      // (1.35e8 at sf0.1 — the row copies dominate, measured ~2.0 s
      // warm), while summing |in(a) ∩ in(b)| over closing edges does
      // the identical work inside one fused sorted-merge kernel —
      // 453k rows, zero per-wedge materialization, measured 0.6-0.9 s
      // (SortedIntersectCountExpr; its hybrid merge/binary-search
      // keeps Σ min(deg) = O(m^1.5) even on skewed graphs). The
      // in-lists broadcast carries every edge once (Σ|in| = m rows),
      // so the hint is earned by the SAME m-bound gate as the wedge
      // join's; past it the wedge-join spelling runs unchanged.
      // Route equality is spec-asserted across the gate flip.
      val nEdges = e.count()
      val tri =
        if (nEdges <= broadcastMaxRows(spark)) closedWedgeCountViaIntersect(e)
        else closedWedges(e).count()
      Seq(tri).toDF("n_triangles")
    } finally { e.unpersist(); () }
  }

  /** Σ_{(a,b)∈E} |in(a) ∩ in(b)| over the oriented edge list — the
    * edge-iterator triangle count (Schank & Wagner '05's
    * edge-iterator, fused): in an oriented simple graph the triangle
    * u→v, u→w, v→w is found exactly once at its closing edge (v, w)
    * as the common in-neighbor u. dst_rank is NOT consulted — the
    * orientation already encodes the order. Caller gates on the
    * broadcast bound. */
  private[graft] def closedWedgeCountViaIntersect(e: DataFrame): Long = {
    val ins = e.groupBy(col("dst").as("v"))
      .agg(sort_array(collect_list(col("src"))).as("ins"))
    val counted = e
      .join(broadcast(ins.select(col("v").as("src"), col("ins").as("ia"))),
        Seq("src"))
      .join(broadcast(ins.select(col("v").as("dst"), col("ins").as("ib"))),
        Seq("dst"))
      .select(org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.expressions.SortedIntersectCountExpr(
          org.apache.spark.sql.graftshim.ColumnBridge.expr(col("ia")),
          org.apache.spark.sql.graftshim.ColumnBridge.expr(col("ib")))).as("c"))
      .agg(coalesce(sum(col("c")), lit(0)).cast("long"))
    counted.collect()(0).getLong(0)
  }

  /** Per-component density gate for [[triangleCountAuto]]: complement
    * a component when more than half of its vertex pairs are edges
    * (m_c > C(n_c,2)/2 ⇒ its complement has fewer edges) — the gate
    * implies the n_c²/2 candidate pairs are < 2·m_c, so complement
    * generation is proportional to the edges it replaces. The n cap
    * bounds candidate generation on adversarial inputs. Chosen from
    * MEASURED counts, the partitioner.py:84-87 discipline. */
  private[graft] def useComplement(n: Long, m: Long): Boolean =
    n >= 3 && n <= ComplementMaxVerts && m > n * (n - 1) / 4

  /** The SAME gate as a Column, for the per-component census — the
    * expression triangleCountAuto actually routes on. n(n−1) is
    * always even, so Spark's double division and useComplement's
    * integer division agree for integer m (x.5 vs x: m > either ⟺
    * m ≥ x+1); TrianglesSpec pins the two spellings to each other
    * across the boundaries so an edit to one cannot silently leave
    * the other behind. */
  private[graft] def denseGate(nc: Column, mc: Column): Column =
    nc >= 3 && nc <= lit(ComplementMaxVerts) && mc > nc * (nc - 1) / 4

  private val ComplementMaxVerts = 100000L

  /** Work-gated exact triangle count. Dense graphs make the direct
    * wedge probe quadratic-ish in degree — the unfiltered supplier
    * co-occurrence graph probes 1.35e8 wedges at sf0.1 — while each
    * dense region's COMPLEMENT is sparse. Triangles never cross
    * connected components, so the count decomposes as Σ_c T(G_c),
    * and for a dense component the triple/wedge inclusion–exclusion
    * identity (count vertex triples by how many of their 3 pairs are
    * edges):
    *
    *   T(G_c) = C(n_c,3) − m_c·(n_c−2) + Σ_v C(deg v, 2) − T(Ḡ_c)
    *
    * turns the count into three exact aggregates plus a Schank count
    * on the sparse complement — wedge work O(m̄^1.5) instead of
    * O(m^1.5). Route selection is all measured, never assumed:
    *  1. if the direct orientation's wedge work (an aggregate — no
    *     wedge is materialized) is ≤ directWorkFactor · m OR under
    *     minWedgeWork in absolute terms, count directly: the
    *     decomposition route carries ~5-8 s of fixed orchestration
    *     (components, censuses, candidate anti-join — measured at
    *     sf0.1, where direct probes 1.35e8 wedges in under 4 s and
    *     the complement route LOSES; at 10× the wedges it wins by
    *     ~1.5×), so the probe must be expensive enough to amortize
    *     it — minWedgeWork defaults to 4e8 (~10 s of direct probe);
    *  2. otherwise decompose into components
    *     (DedupClusters.connectedComponents — single-task union-find
    *     under 2M edges, pointer-jumping label propagation above) and
    *     complement exactly the components passing [[useComplement]];
    *     sparse components are counted directly as one union (they
    *     are disjoint). A graph with heavy wedge work but no dense
    *     component (e.g. skewed hubs) falls back to the direct count.
    * The replicated bench graphs are the motivating case: sf1 is 10
    * disjoint ~91%-dense blocks — globally 9% dense, so a whole-graph
    * density test would miss them, but per-component the identity
    * fires in every block. All routes are exact; TrianglesSpec
    * asserts equality across the gate and against brute force. */
  def triangleCountAuto(edges: DataFrame, directWorkFactor: Long = 16,
                        minWedgeWork: Long = 400000000L,
                        knownWork: Option[(Long, Long)] = None,
                        knownOriented: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("s1"), col("s2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE degree orientation shared by the cost probe and the
      // direct route — each orientByDegree call pays a degrees
      // aggregate plus a driver bounds probe, so building it twice
      // on the direct path would double that work; lazy so the
      // decomposition route (which orients complement/sparse edge
      // sets of its own) never builds it at all under knownWork.
      // A caller that already oriented the SAME edge set (e.g.
      // eng_triangles_deg reports the degree orientation's wedge
      // census anyway) passes it through knownOriented — ideally
      // persisted — so the degrees aggregate + bounds collect + the
      // two orientation joins execute once, not twice (guide §2.4).
      lazy val orientedE = knownOriented.getOrElse(orientByDegree(e))
      // callers that already censused the graph (eng_triangles_deg
      // reports edge and wedge counts anyway) pass (m, wDeg) through
      // knownWork so the cost probe isn't paid twice
      val (m, wDeg) = knownWork.getOrElse {
        val mm = e.count()
        (mm,
          if (mm == 0) 0L
          else wedgeCount(orientedE).collect()(0).getLong(0))
      }
      // components THROWS rather than returning over-split labels when
      // propagation fails to converge (pathological >4096-diameter
      // graphs above the union-find threshold) — an over-split label
      // table would make the per-component census non-induced and the
      // identity silently wrong, so the fallback is the always-exact
      // direct count, not a best-effort decomposition
      val labelsOpt =
        if (wDeg <= directWorkFactor * m || wDeg <= minWedgeWork) None
        else
          try Some(DedupClusters.connectedComponents(e, "s1", "s2")
            .select(col("node").as("v"), col("cluster").as("comp"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          catch { case _: IllegalStateException => None }
      if (labelsOpt.isEmpty) triangleCount(orientedE)
      else {
        val labels = labelsOpt.get
        try {
          val nVerts = labels.count()
          // per-edge component (s1's label; s2 shares it by definition)
          val ec = e.join(
              gatedBroadcast(labels.withColumnRenamed("v", "s1"), nVerts),
              Seq("s1"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val census = labels.groupBy(col("comp")).agg(count(lit(1)).as("nc"))
              .join(ec.groupBy(col("comp")).agg(count(lit(1)).as("mc")), Seq("comp"))
              .join(degrees(e).join(gatedBroadcast(labels, nVerts), Seq("v"))
                .groupBy(col("comp"))
                .agg(coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0))
                  .cast("long").as("wc")), Seq("comp"))
              .withColumn("dense", denseGate(col("nc"), col("mc")))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // closed-form part of the identity over the dense comps,
              // in exact integer arithmetic (DIV, all terms < 2^63)
              val closedRow = census.filter(col("dense"))
                .agg(coalesce(sum(expr(
                    "nc * (nc - 1) * (nc - 2) DIV 6 - mc * (nc - 2) + wc")),
                  lit(0)).cast("long").as("closed"),
                  count(lit(1)).as("n_dense"),
                  coalesce(sum(col("mc")), lit(0)).cast("long").as("m_dense"))
                .collect()(0)
              if (closedRow.getLong(1) == 0) triangleCount(orientedE)
              else {
                val denseComps = census.filter(col("dense")).select(col("comp"))
                val vDense = labels
                  .join(gatedBroadcast(denseComps, nVerts), Seq("comp"))
                // complement candidates comp-by-comp; broadcasting the
                // (vertex-cardinality) dense vertex table keeps the
                // n_c² expansion spread across the probe side's tasks
                // instead of one task per component key
                val cand = vDense.select(col("comp"), col("v").as("s1"))
                  .join(gatedBroadcast(vDense
                      .select(col("comp").as("c2"), col("v").as("s2")), nVerts),
                    col("comp") === col("c2") && col("s1") < col("s2"))
                  .select(col("s1"), col("s2"))
                // persisted: orientation + probe consume this lineage
                // several times and the anti-join must run only once
                val complementEdges = cand.join(e, Seq("s1", "s2"), "left_anti")
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                val triComplement =
                  try triangleCount(orientByDegree(complementEdges))
                    .collect()(0).getLong(0)
                  finally { complementEdges.unpersist(); () }
                // sparse-side edges = m − Σ dense m_c, known from the
                // census — skip the whole count when there are none
                val triSparse =
                  if (m == closedRow.getLong(2)) 0L
                  else {
                    val sparseEdges = ec
                      .join(gatedBroadcast(denseComps, nVerts), Seq("comp"), "left_anti")
                      .select(col("s1"), col("s2"))
                      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                    try triangleCount(orientByDegree(sparseEdges))
                      .collect()(0).getLong(0)
                    finally { sparseEdges.unpersist(); () }
                  }
                Seq(closedRow.getLong(0) - triComplement + triSparse)
                  .toDF("n_triangles")
              }
            } finally { census.unpersist(); () }
          } finally { ec.unpersist(); () }
        } finally { labels.unpersist(); () }
      }
    } finally { e.unpersist(); () }
  }

  /** The closed-wedge probe over an already-materialized oriented
    * edge frame — one output row per triangle; `count()` it for the
    * total. Package-private so TrianglesSpec can assert the physical
    * shape (hint under the gate → BroadcastExchange; over it → none). */
  private[graft] def closedWedges(e: DataFrame): DataFrame = {
    val bounds = e.agg(min(least(col("src"), col("dst"))).as("lo"),
      max(greatest(col("src"), col("dst"))).as("hi"),
      count(lit(1)).as("n")).collect()(0)
    val packable = !bounds.isNullAt(0) &&
      bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 32)
    val nEdges = bounds.getLong(2)
    val wedges = e.as("e1").join(gatedBroadcast(e.as("e2"), nEdges),
      col("e1.src") === col("e2.src") &&
        col("e1.dst_rank") < col("e2.dst_rank"))
    if (packable) {
      val closing = e.select(
        shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("ab"))
      wedges.select(
          shiftleft(col("e1.dst"), 32).bitwiseOR(col("e2.dst")).as("ab"))
        .join(gatedBroadcast(closing, nEdges), Seq("ab"), "left_semi")
    } else
      wedges.select(col("e1.dst").as("a"), col("e2.dst").as("b"))
        .join(
          gatedBroadcast(e.select(col("src").as("a"), col("dst").as("b")),
            nEdges),
          Seq("a", "b"), "left_semi")
  }
}
