package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Triangles

class TrianglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Plain-Scala reference: adjacency-set intersection over a
    * driver-collected edge list (test graphs are small). */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Long = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // each triangle is seen once per its three edges
    edges.map { case (a, b) => (adj(a) & adj(b)).size.toLong }.sum / 3
  }

  private def scalar(df: org.apache.spark.sql.DataFrame): Long =
    df.collect()(0).getLong(0)

  test("triangle count is orientation-invariant and matches brute force (co-occurrence graph)") {
    val edges = Triangles.supplierCooccurrence(
      Tables.table(spark, "/root/testdata/sf0.001", "lineitem"), minPrice = None)
      .persist()
    try {
      val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(local.nonEmpty && local.forall { case (a, b) => a < b })
      val triKey = scalar(Triangles.triangleCount(Triangles.orientByKey(edges)))
      val triDeg = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))
      assert(triKey == triDeg)
      assert(triKey == bruteTriangles(local))
      // degree orientation never does more wedge work than key order here
      val wKey = scalar(Triangles.wedgeCount(Triangles.orientByKey(edges)))
      val wDeg = scalar(Triangles.wedgeCount(Triangles.orientByDegree(edges)))
      assert(wDeg <= wKey, s"wedges(deg)=$wDeg > wedges(key)=$wKey")
      assert(triDeg <= wDeg) // triangles are closed wedges
    } finally { edges.unpersist(); () }
  }

  test("degree orientation collapses the hub blow-up on a skewed graph") {
    import spark.implicits._
    // hub vertex 0 (smallest KEY, largest DEGREE — key order's worst
    // case) joined to 60 leaves, plus a 5-clique among high keys
    val hub = (1L to 60L).map(l => (0L, l))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val edges = (hub ++ clique).toDF("s1", "s2")
    val wKey = scalar(Triangles.wedgeCount(Triangles.orientByKey(edges)))
    val wDeg = scalar(Triangles.wedgeCount(Triangles.orientByDegree(edges)))
    // key order fans out C(60,2)=1770 wedges at the hub; degree order
    // points every hub edge INTO the hub and generates none there
    assert(wKey >= 1770)
    assert(wDeg < wKey / 10, s"wedges(deg)=$wDeg not << wedges(key)=$wKey")
    val triKey = scalar(Triangles.triangleCount(Triangles.orientByKey(edges)))
    val triDeg = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))
    assert(triKey == triDeg)
    assert(triDeg == 10L) // C(5,3) from the clique; the hub star is triangle-free
  }

  test("degree orientation stays exact for keys beyond the packable range") {
    import spark.implicits._
    // ids far above 2^26 force the struct-rank fallback; the packed
    // double would collide across degree buckets here
    val big = 300000000L
    val clique = for (a <- big to (big + 4); b <- (a + 1) to (big + 4)) yield (a, b)
    val star = (1L to 40L).map(l => (big - l, big)) // hub = big (largest key AND degree)
    val edges = (clique ++ star).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("s1", "s2")
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val triDeg = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))
    val triKey = scalar(Triangles.triangleCount(Triangles.orientByKey(edges)))
    assert(triDeg == triKey)
    assert(triDeg == bruteTriangles(local))
  }

  test("orientByKey stays exact for keys at and beyond 2^53 (long rank, no double cast)") {
    import spark.implicits._
    // adjacent longs at 2^53 collide when cast to double (ulp = 2):
    // with a double dst_rank the strict < wedge predicate would drop
    // the {5, a, a+1} wedge at apex 5 and undercount
    val a = 1L << 53
    val local = Seq((5L, a), (5L, a + 1), (a, a + 1))
    val edges = local.toDF("s1", "s2")
    val triKey = scalar(Triangles.triangleCount(Triangles.orientByKey(edges)))
    val triDeg = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))
    assert(triKey == 1L)
    assert(triDeg == triKey)
    assert(triKey == bruteTriangles(local))
  }

  test("broadcast hints are size-gated: identical counts and the plan flips at the threshold") {
    val edges = Triangles.supplierCooccurrence(
      Tables.table(spark, "/root/testdata/sf0.001", "lineitem"),
      minPrice = Some(90000.0))

    def probe(): (Long, String) = {
      val e = Triangles.orientByDegree(edges).persist()
      try {
        val p = Triangles.closedWedges(e)
        (p.count(), p.queryExecution.executedPlan.toString)
      } finally { e.unpersist(); () }
    }

    // under the (default, 32M-row) gate the hint is emitted
    val (nHint, planHint) = probe()
    assert(planHint.contains("BroadcastExchange"), planHint)
    val triHint = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))

    // over the gate (threshold 0 makes this edge list "too big"),
    // with auto-broadcast disabled so AQE cannot re-introduce a
    // broadcast on the tiny test graph: same counts, no hint — the
    // plan degrades to shuffled joins instead of aborting
    spark.conf.set(Triangles.BroadcastMaxRowsKey, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (nGated, planGated) = probe()
      assert(nGated == nHint)
      assert(!planGated.contains("BroadcastExchange"), planGated)
      val triGated = scalar(Triangles.triangleCount(Triangles.orientByDegree(edges)))
      assert(triGated == triHint)
    } finally {
      spark.conf.unset(Triangles.BroadcastMaxRowsKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("edge-iterator route equals the wedge-join route across the gate flip") {
    import spark.implicits._
    // the hub's in-degree of 200 exercises SortedIntersectCountExpr's
    // binary-search mode (tiny in(a) probed against the huge in(hub));
    // K5 exercises the balanced merge mode
    val star = ((1L to 200L).map(i => (i, 1000L)) ++ Seq((1L, 2L), (5L, 7L)))
      .toDF("s1", "s2")
    val k5 = (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)).toDF("s1", "s2")
    def both(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val viaIntersect = scalar(Triangles.triangleCountAuto(df)) // default gate: on
      spark.conf.set(Triangles.BroadcastMaxRowsKey, "0")         // force wedge join
      val viaWedges = try scalar(Triangles.triangleCountAuto(df))
        finally spark.conf.unset(Triangles.BroadcastMaxRowsKey)
      (viaIntersect, viaWedges)
    }
    assert(both(star) == ((2L, 2L)))  // {1,2,hub} and {5,7,hub}
    assert(both(k5) == ((10L, 10L))) // C(5,3)
  }

  test("SortedIntersectCountExpr.count: merge and binary-search modes agree with sets") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def arr(xs: Long*) = ArrayData.toArrayData(xs.toArray)
    def f(a: ArrayData, b: ArrayData): Long =
      graft.expressions.SortedIntersectCountExpr.count(a, b)
    assert(f(arr(), arr(1L)) == 0L)
    assert(f(arr(1L, 2L, 3L), arr(2L, 3L, 4L)) == 2L)
    // skewed sizes route through the binary-search mode, both ways
    val large = arr((0L until 1000L).map(_ * 3): _*)
    assert(f(arr(299L, 300L), large) == 1L)
    assert(f(large, arr(299L, 300L)) == 1L)
    assert(f(arr(5000L), large) == 0L) // beyond the large array's max
    // randomized cross-check against plain set intersection
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = rnd.shuffle((0L until 500L).toList).take(rnd.nextInt(60)).sorted
      val b = rnd.shuffle((0L until 500L).toList).take(rnd.nextInt(400)).sorted
      assert(f(arr(a: _*), arr(b: _*)) == (a.toSet & b.toSet).size.toLong)
    }
  }

  test("work-gated count: complement identity equals direct on both sides of the gate") {
    import spark.implicits._
    // dense: 12-clique minus a perfect matching — 60 of 66 pairs are
    // edges (91%), over the per-component complement gate.
    // directWorkFactor=0 forces the decomposition machinery on these
    // toy graphs (at default 16 they are cheap enough to go direct).
    val all = for (a <- 0L until 12L; b <- (a + 1) until 12L) yield (a, b)
    val matching = (0L until 6L).map(i => (2 * i, 2 * i + 1)).toSet
    val dense = all.filterNot(matching)
    assert(Triangles.useComplement(12, dense.size))
    val denseDf = dense.toDF("s1", "s2")
    val auto = scalar(Triangles.triangleCountAuto(denseDf, directWorkFactor = 0, minWedgeWork = 0))
    val direct = scalar(Triangles.triangleCount(Triangles.orientByDegree(denseDf)))
    assert(auto == direct)
    assert(auto == bruteTriangles(dense))
    // complete graph: the complement is EMPTY and the identity still
    // holds (T = C(12,3))
    val clique = all.toDF("s1", "s2")
    assert(scalar(Triangles.triangleCountAuto(clique, directWorkFactor = 0, minWedgeWork = 0)) == 220L)
    // sparse: no component passes the density gate -> direct fallback
    val sparse = (0L until 20L).map(i => (i, i + 1)) ++ Seq((0L, 2L))
    assert(!Triangles.useComplement(21, sparse.size))
    assert(scalar(Triangles.triangleCountAuto(sparse.toDF("s1", "s2"),
      directWorkFactor = 0, minWedgeWork = 0)) == bruteTriangles(sparse))
    // the default work gate: cheap graphs take the direct route and
    // still agree
    assert(scalar(Triangles.triangleCountAuto(denseDf)) == auto)
    // gate boundaries: tiny and oversized vertex sets never take the
    // complement route regardless of density
    assert(!Triangles.useComplement(2, 1))
    assert(!Triangles.useComplement(200000, Long.MaxValue / 2))
  }

  test("the Scala and Column spellings of the density gate agree at every boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // useComplement (the unit-tested Scala copy) and denseGate (the
    // Column triangleCountAuto's census actually routes on) must be
    // the same predicate — probe both across the n >= 3 floor, the
    // ComplementMaxVerts ceiling, and the m > n(n-1)/4 threshold
    // (±1 around each, including the half-integer double-division
    // cells where n(n-1) ≡ 2 mod 4)
    val cells = for {
      n <- Seq(1L, 2L, 3L, 4L, 7L, 99999L, 100000L, 100001L)
      edge = n * (n - 1) / 4
      m <- Seq(0L, edge - 1, edge, edge + 1, n * (n - 1) / 2).filter(_ >= 0).distinct
    } yield (n, m)
    val gateCol = cells.toDF("nc", "mc")
      .select(col("nc"), col("mc"),
        Triangles.denseGate(col("nc"), col("mc")).as("dense"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    cells.foreach { case (n, m) =>
      assert(gateCol((n, m)) == Triangles.useComplement(n, m),
        s"gate spellings diverge at n=$n m=$m")
    }
  }

  test("component-aware count: mixed dense blocks + sparse tail, exactly decomposed") {
    import spark.implicits._
    // the sf1-shaped regime: disjoint dense blocks that a WHOLE-graph
    // density test would miss (globally sparse), plus a sparse chain
    // with its own triangle — per-component gating must complement
    // the two blocks and count the chain directly
    def blockEdges(base: Long, n: Long, drop: Set[(Long, Long)]): Seq[(Long, Long)] =
      (for (a <- 0L until n; b <- (a + 1) until n) yield (base + a, base + b))
        .filterNot { case (a, b) => drop((a - base, b - base)) }
    val block1 = blockEdges(0, 10, Set((0L, 1L), (2L, 3L)))
    val block2 = blockEdges(100, 9, Set((4L, 5L)))
    val chain = (200L until 220L).map(i => (i, i + 1)) ++ Seq((200L, 202L))
    val edges = (block1 ++ block2 ++ chain).toDF("s1", "s2")
    val auto = scalar(Triangles.triangleCountAuto(edges, directWorkFactor = 0, minWedgeWork = 0))
    assert(auto == bruteTriangles(block1 ++ block2 ++ chain))
    assert(auto == scalar(Triangles.triangleCount(Triangles.orientByDegree(edges))))
  }

  test("property: work-gated count equals brute force on random graphs") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](gen: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(1042L + i)))
    // random graphs across the regimes the router distinguishes:
    // sparse and dense edge probability, unit and huge id strides
    // (the latter exercising the struct-rank and anti-packing paths),
    // occasionally multi-component via a disjoint id offset
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(4, 13)
      p <- Gen.oneOf(0.25, 0.85)
      stride <- Gen.oneOf(1L, 7L, 1L << 27)
      offset <- Gen.oneOf(0L, 5L, 300000000L)
      picks <- Gen.listOfN(n * (n - 1) / 2, Gen.chooseNum(0.0, 1.0))
    } yield {
      val pairs = for (a <- 0L until n; b <- (a + 1) until n) yield (a, b)
      pairs.zip(picks).collect { case ((a, b), r) if r < p =>
        (offset + a * stride, offset + b * stride) }
    }
    val graphs = samples(graphGen, 7).filter(_.nonEmpty).distinct
    assert(graphs.size >= 5)
    graphs.foreach { g =>
      val df = g.toDF("s1", "s2")
      val expected = bruteTriangles(g)
      // forced decomposition machinery AND the default direct gate
      // must both agree with the plain-Scala reference
      assert(scalar(Triangles.triangleCountAuto(df, directWorkFactor = 0,
        minWedgeWork = 0)) == expected, s"auto(forced) on $g")
      assert(scalar(Triangles.triangleCount(Triangles.orientByDegree(df))) ==
        expected, s"direct on $g")
    }
  }

  test("property: on multigraphs both routes count the simple graph, across the gate") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random simple graphs (s1 < s2) with every edge repeated 1-3 times
    val multigraphGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(4, 10)
      picks <- Gen.listOfN(n * (n - 1) / 2, Gen.chooseNum(0.0, 1.0))
      reps <- Gen.listOfN(n * (n - 1) / 2, Gen.chooseNum(1, 3))
    } yield {
      val pairs = for (a <- 0L until n; b <- (a + 1) until n) yield (a, b)
      pairs.zip(picks).zip(reps).flatMap { case ((e, r), k) =>
        if (r < 0.6) Seq.fill(k)(e) else Nil }
    }
    val graphs = (0 until 6).flatMap(i =>
      multigraphGen.apply(Gen.Parameters.default, Seed(2042L + i)))
      .filter(g => g.distinct.size < g.size)
    assert(graphs.size >= 4)
    graphs.foreach { g =>
      val df = g.toDF("s1", "s2")
      val expected = bruteTriangles(g.distinct)
      def counts(): Seq[Long] = Seq(Triangles.orientByKey(df), Triangles.orientByDegree(df))
        .map(o => scalar(Triangles.triangleCount(o)))
      val viaIntersect = counts()                               // default gate: on
      spark.conf.set(Triangles.BroadcastMaxRowsKey, "0")        // force wedge join
      val viaWedges = try counts() finally spark.conf.unset(Triangles.BroadcastMaxRowsKey)
      assert(viaIntersect == Seq(expected, expected), s"intersect route on $g")
      assert(viaWedges == Seq(expected, expected), s"wedge route on $g")
    }
  }

  test("eng_triangles_deg reports consistent exact counts") {
    val row = EngineOps.queries("eng_triangles_deg")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nEdges, wKey, wDeg, tri) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nEdges > 0 && tri > 0)
    assert(wDeg <= wKey)
    assert(tri <= wDeg)
    // cross-check the edge census against an independent SQL spelling
    Tables.register(spark, "/root/testdata/sf0.001")
    val sqlEdges = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT DISTINCT a.l_suppkey, b.l_suppkey
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)""".stripMargin)
      .collect()(0).getLong(0)
    assert(nEdges == sqlEdges)
  }
}
