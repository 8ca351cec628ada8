package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Attention, Cascade, Checkpoints, KMeans, LmScore, MinHashDedup, Multimodal, PageRank, ProductQuantizer, SimilaritySearch}
import graft.streaming.{StatefulOps, Telemetry}
import org.apache.spark.sql.graftshim.ScratchDir

/** Engine-side operators (SURVEY §2.9 tail): approximate, stateful,
  * streaming, or plan/IO-census shaped. Each appears in
  * `SparkEntry.queries`; most carry no `oracleSql` entry (driver
  * records a rows-only check; checksum goldens + a deterministic
  * unit test stand in), but the deterministic SQL-expressible ones
  * are PROMOTED into the DuckDB oracle too ([[EngineOps.oracleSql]]).
  *
  * Every query returns a small, totally-ordered, deterministic
  * result so repeated runs are stable. */
object EngineOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(spark, dir, name)

  /** Pre-order flatten of an executed plan, unwrapping the AQE
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaves of
    * the outer plan whose real operators live in a nested plan) —
    * the ONE traversal behind every plan census in this file. */
  private def flattenExecuted(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flattenExecuted(a.executedPlan)
      case q: QueryStageExec => flattenExecuted(q.plan)
      case other => other.children.flatMap(flattenExecuted)
    })
  }

  /** RAM-backed scratch checkpoint for the drain-once (AvailableNow)
    * measured streaming entries: their state dies with the query, so
    * checkpoint durability buys nothing and the /tmp-disk fsyncs were
    * the dominant run-to-run variance in the bench numbers. Falls
    * back to java.io.tmpdir when no tmpfs is mounted. A REAL streaming
    * deployment needs a durable (HDFS/object-store) checkpoint — this
    * path is only for replay measurements. */
  private def scratchCheckpoint(qName: String): String = {
    val base =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    s"$base/graft_ckpt_$qName"
  }
  private def dropScratchCheckpoint(qName: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(scratchCheckpoint(qName)))
  }

  /** MinHash-LSH near-dup candidates (scale path of ql3). r=4
    * banding puts the LSH S-curve knee near J≈0.5 — shared
    * boilerplate between moderately-similar synthetic docs does not
    * explode the candidate set the way r=2 did. */
  private def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    MinHashDedup.candidatePairs(t(spark, dir, "documents"),
        idCol = "doc_id", textCol = "text",
        shingleK = 3, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .orderBy(col("est_jaccard").desc_nulls_last, col("doc_a"), col("doc_b"))
      .limit(50)

  /** INCREMENTAL dedup (MinHashDedup.incrementalPairs) — the
    * daily-ingest path: documents split into a BASE corpus (signed
    * ONCE per session — the persisted signature index a production
    * pipeline keeps in storage) and a DELTA batch (doc_id % 7 = 3,
    * ~14%); the measured work is exactly what an ingest pays — sign
    * the delta, collide its band keys against the index, score only
    * delta-involving pairs. Equality with a full recompute restricted
    * to delta pairs is spec-asserted (DedupSpec). */
  private val baseSigCache = new SessionMemo[DataFrame]
  private def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val isDelta = col("doc_id") % 7 === 3
    val baseSigned = baseSigCache(spark, dir) {
      Checkpoints.truncate(MinHashDedup.signatures(docs.filter(!isDelta),
        "doc_id", "text", shingleK = 3, numHashes = 64))
    }
    val delta = docs.filter(isDelta)
    // two consumers below (pair stats + distinct-doc census) would
    // each re-run the delta signature + banded join pipeline —
    // materialize the bounded pair set once (the dedupPipeline /
    // qa19 shared-frame discipline)
    val pairs = Checkpoints.truncate(MinHashDedup.incrementalPairs(baseSigned, delta,
      idCol = "doc_id", textCol = "text", shingleK = 3,
      bands = 16, rowsPerBand = 4, threshold = 0.2))
    // delta membership is a pure predicate on the id (the split rule
    // above) — no lookup table needed
    def d(c: org.apache.spark.sql.Column) = c % 7 === 3
    val pairStats = pairs
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(d(col("doc_a")) && d(col("doc_b")), 1)
          .otherwise(0)).as("n_delta_delta"),
        sum(when(d(col("doc_a")) =!= d(col("doc_b")), 1)
          .otherwise(0)).as("n_delta_base"),
        round(coalesce(avg(col("est_jaccard")), lit(0.0)), 4).as("avg_est_jaccard"))
    // distinct delta docs across BOTH pair sides: a when(a).otherwise(b)
    // pick counts one delta member per pair and misses doc_b of a
    // delta-delta pair
    val docStats = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .filter(d(col("doc")))
      .agg(count_distinct(col("doc")).as("n_dup_delta_docs"))
    pairStats.crossJoin(docStats) // 1-row × 1-row
      .select(col("n_pairs"), col("n_delta_delta"), col("n_delta_base"),
        col("n_dup_delta_docs"), col("avg_est_jaccard"))
  }

  /** SimHash banded near-dup pairs. maxHamming=7 matches the 8×8-band
    * pigeonhole guarantee (every pair at hamming ≤7 shares a band);
    * a looser budget would both miss pairs the banding can't see and
    * drag ~1M moderately-similar candidate pairs through the filter. */
  private def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    MinHashDedup.simHashPairs(t(spark, dir, "documents"),
        idCol = "doc_id", textCol = "text", maxHamming = 7, maxBucket = 128)
      .orderBy(col("hamming").asc_nulls_last, col("doc_a"), col("doc_b"))
      .limit(50)

  /** Near-dup clusters: SimHash candidate pairs → connected
    * components (min-label propagation) → cluster report. The full
    * dedup pipeline shape — pairs alone don't dedup anything; the
    * component step picks one canonical survivor per group. */
  private def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashDedup.simHashPairs(t(spark, dir, "documents"),
      idCol = "doc_id", textCol = "text", maxHamming = 7, maxBucket = 128)
    val comps = operators.DedupClusters.connectedComponents(pairs, "doc_a", "doc_b")
    operators.DedupClusters.clusterStats(comps)
      .orderBy(col("n_members").desc_nulls_last, col("cluster"), col("id_sum"))
      .limit(25)
  }

  /** Embedding-cosine near-dup dedup — the remaining north-star dedup
    * modality beside exact/MinHash/SimHash/Jaccard: LSH-bucketed
    * cosine pair join at ≥0.95 → connected components → cluster
    * report. The synthetic embeddings carry no true near-dups (max
    * pairwise cosine ≈0.51 at sf0.01), so the corpus plants 20
    * deterministic near-copies (source vectors scaled by 1.001 —
    * cosine 1 with their originals; positive scaling preserves every
    * hyperplane dot-product sign, so LSH buckets each copy with its
    * source — a float-rounding flip would need |dot| within ~1e-7 of
    * zero, which the fixed testdata stays far from); the operator must
    * recover exactly those 20 two-member clusters. Scale shape:
    * bucket join + size-aware CC — never all-pairs. */
  private def embedDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val dups = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val pairs = SimilaritySearch.lshPairJoin(
        base.unionByName(dups), "vec_id", "embedding", minCosine = 0.95)
      .select(col("id_a"), col("id_b"))
    val comps = operators.DedupClusters.connectedComponents(pairs, "id_a", "id_b")
    operators.DedupClusters.clusterStats(comps)
      .orderBy(col("cluster"), col("n_members"), col("id_sum"))
  }

  /** SemDeDup-style semantic dedup (cluster-then-dedup, Abbas et al.
    * '23): spherical-k-means codebook (8 cells, 3 sweeps, first-8
    * init) over the planted-copy corpus (the same 20 deterministic
    * near-copies as eng_embed_dedup — ×1.001f scaling, cosine 1 with
    * the originals and scale-invariant under the cosine argmax, so
    * each copy co-locates with its source by construction), cosine
    * within-cell pairs at ≥0.95, connected components, keep-min-id
    * (survivors via a distributed LEFT ANTI join — the production
    * drop, no driver round-trip).
    * The 100 TB shape — BOTH knobs of the paper's recipe: k SCALES
    * with the corpus (one cell per ~64 vectors, so within-cell pair
    * work stays linear in n, never quadratic), and the codebook FITS
    * on a bounded deterministic sample (first max(4096, 16·k) by id,
    * capped at 65536 since k caps at 4096 — the sample scales with k
    * so the fit never degenerates to sample == k; fit cost
    * O(sample · k · dim), while the full
    * corpus is only ever ASSIGNED, one codegen'd argmax pass). ONE
    * shuffle on the learned cell id; cross-cell pairs never form —
    * the data-shaped-bucket sibling of eng_embed_dedup's LSH buckets.
    * Census: per-cell member/survivor counts; `ok` pins that EXACTLY
    * the 20 planted copies drop (never an original) and all 20
    * planted pairs surfaced. Golden+spec, not oracle: per-row k-means
    * CELL assignment parity across engines is not defensible (a
    * cosine near-tie can resolve differently), while the aggregate
    * k-means history is (eng_kmeans_fit). */
  private def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val dups = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    // row count up front (parquet footers — no scan) so the
    // partitioning decisions below can be size-gated
    val n = t(spark, dir, "embeddings").count() + 20L
    val dp = spark.sparkContext.defaultParallelism
    // the corpus feeds the codebook fit (3 distributed aggregates),
    // the assignment, and the pair join — materialize once. When the
    // corpus is big, spread it over every core first (the parquet
    // read's handful of input splits would otherwise bound the
    // O(n·k·dim) kernel pass); a small corpus skips the shuffle —
    // per-row work is too small to repay it
    val corpusRaw = base.unionByName(dups)
    val corpus = Checkpoints.truncate(
      if (n >= 32768) corpusRaw.repartition(dp) else corpusRaw)
    val k = math.max(8L, math.min(4096L, n / 64L)).toInt
    // the fit sample scales WITH k (16 points per centroid, floor
    // 4096) so a large-k codebook never degenerates to sample == k
    // (first-k init with no effective sweeps); k caps at 4096, so the
    // sample caps at 65536 — still a bounded fit no matter the corpus
    val sampleSize = math.max(4096, 16 * k)
    // repartition after the limit: a global sort-limit collapses to
    // ONE partition, which would run every O(sample·k·dim) Lloyd
    // sweep single-threaded — at k=4096 that is ~2e11 flops on one
    // core. Sized ~1024 rows/partition (capped at the core count) so
    // a tiny sample doesn't fan into per-task overhead. Row order
    // doesn't matter downstream (assignment is per-row; vecSumAgg's
    // partition-order wiggle is pinned by the fit's 9-dp rounding).
    val sampleParts = math.max(1, math.min(dp, sampleSize / 1024))
    val sample = Checkpoints.truncate(corpus.orderBy(col("vec_id"))
      .limit(sampleSize)
      .repartition(sampleParts))
    val init = SimilaritySearch.sampledCodebook(sample, "vec_id", "embedding", k)
    val (codebook, _) = KMeans.fit(sample, "embedding", maxIter = 3,
      tol = 1e-4, init)
    // assign ONCE and share: the O(n·k·dim) argmax kernel pass is the
    // entry's dominant per-row cost, and both the pair join and the
    // member/survivor censuses need the same (id, cell) frame
    val assigned = Checkpoints.truncate(
      SimilaritySearch.assignCells(corpus, "vec_id", "embedding", codebook))
    val pairs = Checkpoints.truncate(SimilaritySearch.semanticDedupPairsAssigned(
      assigned, "vec_id", "embedding", minCosine = 0.95))
    // two consumers: the anti join + the census
    val dropped = Checkpoints.truncate(operators.DedupClusters
      .connectedComponents(pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("vec_id")))
    // THE production drop — a distributed LEFT ANTI join on the id
    // (the eng_dedup_pipeline shape): survivors never round-trip
    // through the driver, so the spelling holds at any corpus size
    val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
    // CENSUS-ONLY collect: bounded by the PLANT count (20 copies by
    // construction), never by the corpus — it exists to pin that
    // exactly the planted copies drop, not to compute the drop
    val droppedIds = dropped.collect().map(_.getLong(0)).toSet
    val wantDropped = (0L until 20L).map(_ + 100000L).toSet
    val planted = pairs
      .filter(col("id_b") === col("id_a") + lit(100000L)).count()
    val globalOk = droppedIds == wantDropped && planted == 20L &&
      pairs.count() == 20L
    val members = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val survivors = kept.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_kept"))
    members.join(survivors, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        (col("n_members") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .withColumn("ok", lit(globalOk))
      .orderBy(col("cell"))
  }

  /** The full corpus-cleaning pipeline a training-data run actually
    * executes, end to end: exact dedup (md5 keep-min) → SimHash
    * near-dup pairs over the survivors → connected components → drop
    * non-canonical cluster members → per-source survival report.
    * Composition of ql2 + simHashPairs + DedupClusters; each stage's
    * scale shape is documented at its operator. */
  private def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"), col("source"))
    // stage 1: exact — keep the smallest doc_id per content hash
    val keyed = docs.withColumn("_h", md5(col("text")))
    val keepExact = keyed.groupBy(col("_h")).agg(min(col("doc_id")).as("keep_id"))
    // three consumers (near-dup pairs, anti-join, stats): materialize
    // once instead of re-running the scan+hash+join per consumer
    val exactKept = Checkpoints.truncate(keyed.join(keepExact, Seq("_h"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("text"), col("source")))
    // stage 2: near-dup clusters over the exact survivors
    val pairs = MinHashDedup.simHashPairs(exactKept, "doc_id", "text",
      maxHamming = 3, maxBucket = 128)
    val dropNear = operators.DedupClusters.connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    val cleaned = exactKept.join(dropNear, Seq("doc_id"), "left_anti")
    // survival report per source — left joins from the raw rollup: a
    // source whose documents are ALL deduplicated away must report
    // n_exact/n_clean = 0, not vanish from the report
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
      .join(exactKept.groupBy(col("source")).agg(count(lit(1)).as("n_exact")), Seq("source"), "left")
      .join(cleaned.groupBy(col("source")).agg(count(lit(1)).as("n_clean")), Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"))
      .orderBy(col("source"))
  }

  /** Sliding event-time windows (10 min length, 5 min hop): each
    * event lands in two overlapping windows — the standard smoothing
    * window for rate metrics; one shuffle on (window, type). */
  private def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_v"))
      .orderBy(col("ws"), col("event_type"), col("cnt"), col("sum_v"))

  /** Exact-dup clusters by md5 (engine spelling of ql2). */
  private def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    // summary row keeps the result non-empty when no dups exist
    d.select(count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"))
  }

  /** The ANN probe vector (vec_id=0), fetched once per
    * (session, data dir) — a bounded, documented index-build step,
    * cached so repeated invocations (bench samples) don't pay an
    * extra Spark job each. */
  private val probeCache = new SessionMemo[Array[Float]]
  private def probeVec(spark: SparkSession, dir: String): Array[Float] =
    probeCache(spark, dir) {
      t(spark, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    }

  /** Brute-force cosine top-k against the vec_id=0 probe. */
  private def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        probeVec(spark, dir), 10)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** SQ8 scalar-quantized top-k (int8 codes + exact re-scoring)
    * against the same probe — the 4×-smaller-scan ANN path beside
    * PQ/IVF-PQ. */
  private def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    SimilaritySearch.sq8TopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        probeVec(spark, dir), k = 10, rescore = 5)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  // per-(session, dir) scratch for the SQ8 at-rest layout pair —
  // computed once, reused by bench samples and the fp sweep (the
  // zorderLayouts discipline)
  private val sq8Layouts = new SessionMemo[String]

  /** Write the embeddings in the two at-rest representations the SQ8
    * scaladoc compares: `float/` (vec_id + float32 array — the plain
    * layout) and `sq8/` (vec_id + int8 codes + scale — the compact
    * index). Both are totally ordered before the single-file write so
    * the byte census is deterministic under any shuffle width. */
  private def ensureSq8Layouts(spark: SparkSession, dir: String): String =
    sq8Layouts(spark, dir) {
      val tmp = ScratchDir.create("graft_sq8")
      import org.apache.spark.sql.graftshim.ColumnBridge.{column, expr}
      val emb = t(spark, dir, "embeddings")
      emb.select(col("vec_id"), col("embedding"))
        .coalesce(1).sortWithinPartitions("vec_id")
        .write.option("compression", "zstd").mode("overwrite")
        .parquet(s"$tmp/float")
      emb.select(col("vec_id"),
          column(graft.expressions.Sq8EncodeExpr(expr(col("embedding"))))
            .as("q"))
        .select(col("vec_id"), col("q.codes").as("codes"),
          col("q.scale").as("scale"))
        .coalesce(1).sortWithinPartitions("vec_id")
        .write.option("compression", "zstd").mode("overwrite")
        .parquet(s"$tmp/sq8")
      tmp.toString
    }

  /** Measured SQ8 at-rest layout: byte footprint of the code layout
    * vs the float layout (the "4× smaller candidate scan" claim of
    * sq8TopK, proved the way eng_zorder_scan proves Z-order), plus
    * the REAL at-rest query flow — candidates come from the small
    * codes file, exact re-scoring joins back to the float file by id
    * (broadcast: the candidate frame is ≤ k·rescore rows). Top-10
    * equality with the float-only brute scan shows the compact path
    * loses nothing on this corpus. */
  private def sq8Layout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expr}
    val tmp = ensureSq8Layouts(spark, dir)
    def dataBytes(sub: String): Long = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(s"$tmp/$sub")
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
    val floatBytes = dataBytes("float")
    val sq8Bytes = dataBytes("sq8")
    val probe = probeVec(spark, dir)
    val probeCol = array(probe.map(f => lit(f.toDouble)): _*)
    val (probeCodes, _) =
      graft.expressions.Sq8Exprs.quantizeSymmetric(probe.map(_.toDouble))
    val floatDf = spark.read.parquet(s"$tmp/float").filter(col("vec_id") =!= 0)
    val floatTop = SimilaritySearch.bruteForceTopK(
        floatDf, "vec_id", "embedding", probe, 10)
      .collect().map(_.getAs[Long]("id"))
    val cand = spark.read.parquet(s"$tmp/sq8").filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        column(graft.expressions.Sq8CosineExpr(expr(col("codes")), probeCodes))
          .as("acos"))
      .orderBy(col("acos").desc_nulls_last, col("vec_id").asc)
      .limit(50)
    val sq8Top = floatDf.join(broadcast(cand), Seq("vec_id"))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.vecCosine(col("embedding"), probeCol)
          .as("cosine"))
      .orderBy(col("cosine").desc_nulls_last, col("vec_id").asc)
      .limit(10)
      .collect().map(_.getAs[Long]("vec_id"))
    val n = floatDf.count()
    Seq(
      ("float", n, 1.0, floatTop.mkString("|")),
      ("sq8", n, math.rint(sq8Bytes.toDouble / floatBytes * 100) / 100,
        sq8Top.mkString("|")))
      .toDF("layout", "n_vectors", "bytes_ratio_vs_float", "top10_ids")
      .orderBy(col("layout"))
  }

  /** LSH-bucketed approximate top-k against the same probe. */
  private def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    SimilaritySearch.lshTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        probeVec(spark, dir), k = 10, nBits = 10, probeHamming = 3)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** IVF-flat approximate top-k with a Lloyd-refined codebook. The
    * refinement (sample → one spherical-k-means step) is an
    * index-build artifact cached per (session, dir) like the probe —
    * at scale the codebook is trained once and reused across every
    * query, so the bench measures the QUERY path, not index builds. */
  private val codebookCache = new SessionMemo[Array[Array[Double]]]
  private def refinedCodebook(spark: SparkSession, dir: String,
                              corpus: DataFrame): Array[Array[Double]] =
    codebookCache(spark, dir) {
      SimilaritySearch.lloydStep(corpus, "vec_id", "embedding",
        SimilaritySearch.sampledCodebook(corpus, "vec_id", "embedding", 16))
    }

  /** The measured IVF query path reads the PERSISTED
    * cell-partitioned layout (writeIvfPartitioned under the refined
    * codebook, an index build cached per (session, dir) like the
    * codebook itself) — so each query's nProbe cell filter is
    * directory-level partition pruning, not a per-query re-assignment
    * scan of the whole corpus. The inline-assignment spelling remains
    * only as ivfTopK's documented fallback and the spec's
    * differential foil. */
  private val ivfQueryLayouts = new SessionMemo[String]
  private def ensureIvfQueryLayout(spark: SparkSession, dir: String,
      corpus: DataFrame, centroids: Array[Array[Double]]): String =
    ivfQueryLayouts(spark, dir) {
      val tmp = ScratchDir.create("graft_ivf_q")
      SimilaritySearch.writeIvfPartitioned(
        corpus, "vec_id", "embedding", centroids, s"$tmp/cells")
      s"$tmp/cells"
    }

  private def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val cb = refinedCodebook(spark, dir, corpus)
    val indexed = spark.read.parquet(
      ensureIvfQueryLayout(spark, dir, corpus, cb))
    SimilaritySearch.ivfTopK(
        indexed, "vec_id", "embedding",
        probeVec(spark, dir), k = 10, nCentroids = 16, nProbe = 4,
        codebook = Some(cb))
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** INCREMENTAL IVF index maintenance
    * (SimilaritySearch.appendToIvfPartitioned) — the ANN twin of
    * eng_incremental_dedup's daily-ingest path: embeddings split into
    * a BASE corpus (~90%, indexed ONCE per session into a
    * cell-partitioned layout with its `_codebook` sidecar — the
    * persisted index) and a DELTA batch (vec_id % 10 = 1); the
    * measured work is exactly what an ingest pays — assign ONLY the
    * delta under the layout's own persisted codebook (one narrow
    * projection, O(delta), never a corpus re-scan) and append it to
    * the partitioned directory. `topk_equal` pins the appended
    * layout's top-k EXACTLY equal to a full re-index under the same
    * codebook (assignment is deterministic, so incremental vs full
    * can only differ if the append lost or mis-celled rows);
    * `delta_score` vs `fit_objective` is the codebook STALENESS
    * signal the sidecar exists for — when a delta's mean assignment
    * score sags below the fit-time objective, re-clustering
    * (lloydStep + rewrite) is a measured decision, not a guess. The
    * appended files are removed after the census so every bench pass
    * re-measures the same O(delta) work against the pristine cached
    * index. */
  private val ivfIncrLayouts = new SessionMemo[(String, String, Set[String])]
  private def listFilesUnder(path: String): Set[String] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else walkTree(root)(_.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet)
  }
  private def resetToBaseline(path: String, baseline: Set[String]): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      walkTree(root)(_.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(p => baseline(root.relativize(p).toString)).toSeq)
        .foreach(java.nio.file.Files.delete(_))
  }
  private def ensureIvfIncr(spark: SparkSession, dir: String)
      : (String, String, Set[String]) =
    ivfIncrLayouts(spark, dir) {
      val emb = t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)
      val base = emb.filter(col("vec_id") % 10 =!= 1)
      // codebook fit on the BASE only — the delta is genuinely
      // unseen data, so the staleness signal measures something real
      val cb = SimilaritySearch.lloydStep(base, "vec_id", "embedding",
        SimilaritySearch.sampledCodebook(base, "vec_id", "embedding", 16))
      val tmp = ScratchDir.create("graft_ivf_incr")
      SimilaritySearch.writeIvfPartitioned(
        base, "vec_id", "embedding", cb, s"$tmp/base")
      SimilaritySearch.writeIvfPartitioned(
        emb, "vec_id", "embedding", cb, s"$tmp/full")
      (s"$tmp/base", s"$tmp/full", listFilesUnder(s"$tmp/base"))
    }

  /** Fixture EXPECTATION scalars shared by the IVF incremental /
    * compaction entries: the reference top-k over the IMMUTABLE `full`
    * layout and the base row count. Both are pure functions of the
    * cached [[ensureIvfIncr]] fixture, so they compute once per
    * (session, dir) — the eng_dsv2_ts_stats expectation discipline
    * (fixture work ≠ measured query). The MEASURED paths — append,
    * compaction, and every top-k over a MUTATED layout — recompute on
    * every invocation. */
  private val ivfExpect = new SessionMemo[(Seq[(Long, Double)], Long)]

  /** Rounded IVF top-k over a [[SimilaritySearch.writeIvfPartitioned]]
    * layout — the census probe the incremental/compaction entries
    * compare layouts with. */
  private def ivfTopkRounded(spark: SparkSession, dir: String,
                             path: String): Seq[(Long, Double)] = {
    val (df, cb) = SimilaritySearch.loadIvfIndex(spark, path)
    SimilaritySearch.ivfTopK(df, "vec_id", "embedding", probeVec(spark, dir),
        k = 10, nProbe = 4, codebook = Some(cb))
      .collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4) / 1e4)).toSeq
  }

  private def ivfExpected(spark: SparkSession, dir: String,
                          fullPath: String): (Seq[(Long, Double)], Long) =
    ivfExpect(spark, dir) {
      val nBase = t(spark, dir, "embeddings")
        .filter(col("vec_id") =!= 0).filter(col("vec_id") % 10 =!= 1).count()
      (ivfTopkRounded(spark, dir, fullPath), nBase)
    }

  private def ivfIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (basePath, fullPath, baseline) = ensureIvfIncr(spark, dir)
    resetToBaseline(basePath, baseline) // self-heal from a crashed pass
    val emb = t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 1)
    // ---- the measured ingest: O(delta) assignment + append ----
    val (nDelta, deltaScore, objective) =
      SimilaritySearch.appendToIvfPartitioned(spark, delta,
        "vec_id", "embedding", basePath)
    val (viaFull, nBase) = ivfExpected(spark, dir, fullPath)
    val viaIncr = ivfTopkRounded(spark, dir, basePath)
    // file census BEFORE the reset: the small-file evidence — one
    // delta batch lands one parquet file per touched cell (the
    // hygiene debt eng_ivf_compaction measures the cure for)
    def dataFileCount(p: String): Long = listFilesUnder(p)
      .count(n => n.endsWith(".parquet") && !n.startsWith("_codebook")).toLong
    val baseFiles = baseline
      .count(n => n.endsWith(".parquet") && !n.startsWith("_codebook")).toLong
    val deltaFiles = dataFileCount(basePath) - baseFiles
    resetToBaseline(basePath, baseline) // idempotent across passes
    // score_ratio = delta mean assignment score / fit-time objective:
    // ~1.0 means the codebook still describes the incoming data; a
    // sagging ratio is the re-cluster trigger (reported as a measured
    // number, not a thresholded guess — the policy is the caller's)
    Seq((nBase, nDelta,
        math.rint(deltaScore * 1e4) / 1e4, math.rint(objective * 1e4) / 1e4,
        math.rint(deltaScore / objective * 1e2) / 1e2, viaIncr == viaFull,
        deltaFiles, deltaFiles > 0))
      .toDF("n_base", "n_delta", "delta_score", "fit_objective",
        "score_ratio", "topk_equal", "delta_files", "files_censused")
  }

  /** MEASURED per-cell small-file compaction — the hygiene op for an
    * incrementally-maintained IVF layout: three "daily" sub-delta
    * appends land ~one parquet file per touched cell each, then
    * compactIvfPartitioned rewrites ONLY the over-budget cells into
    * SIZE-CAPPED bin-packed files in ONE job — top-k, codebook
    * sidecar, and fingerprint metadata unchanged, and no output file
    * exceeds the byte target (`size_capped` censuses the cap; the
    * oversized-cell >1-file case is spec-proven in
    * SimilaritySearchSpec). Runs on a scratch copy so the cached
    * pristine base keeps serving the other entries' bench passes;
    * the copy + appends + compaction ARE the measured maintenance
    * cost a nightly pipeline pays. */
  /** Staged pristine compaction SOURCE (base layout + the three
    * "daily" sub-delta appends), built once per (session, dir) — the
    * ts_stats/ivf-incremental fixture discipline (guide §1.2): the
    * small-file debt is the STATE the compaction entry cures, not the
    * operation it measures (eng_ivf_incremental is the entry that
    * measures the append path). Every pass re-materializes a scratch
    * copy of this source via hardlinks (cheap metadata ops; parquet
    * files are immutable, and compaction rewrites by writing new
    * files + unlinking old names, so the source is never perturbed —
    * [[linkRecursively]]) and the MEASURED compaction + censuses +
    * top-k probe recompute on that scratch copy per invocation. */
  private val ivfCompSrc = new SessionMemo[String]
  private def ensureIvfCompSrc(spark: SparkSession, dir: String): String =
    ivfCompSrc(spark, dir) {
      val (basePath, _, baseline) = ensureIvfIncr(spark, dir)
      // self-heal: a prior eng_ivf_incremental pass that crashed
      // between its append and its reset would leave the full delta
      // in the base — staging that would double the sub-delta appends
      resetToBaseline(basePath, baseline)
      val src = basePath + "_compsrc"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        deleteRecursively(java.nio.file.Paths.get(src))
      copyRecursively(java.nio.file.Paths.get(basePath),
        java.nio.file.Paths.get(src))
      val delta = t(spark, dir, "embeddings")
        .filter(col("vec_id") =!= 0).filter(col("vec_id") % 10 === 1)
      (0 until 3).foreach { i =>
        // withScore = false: the compaction entry discards the
        // staleness score, so the per-append full-delta aggregate
        // would be pure waste here
        SimilaritySearch.appendToIvfPartitioned(spark,
          delta.filter(col("vec_id") % 30 === (1 + 10 * i)),
          "vec_id", "embedding", src, withScore = false): Unit
      }
      src
    }

  private def ivfCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, fullPath, _) = ensureIvfIncr(spark, dir)
    val compSrc = ensureIvfCompSrc(spark, dir)
    val comp = compSrc.stripSuffix("_compsrc") + "_compact"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(comp)))
      deleteRecursively(java.nio.file.Paths.get(comp))
    linkRecursively(java.nio.file.Paths.get(compSrc),
      java.nio.file.Paths.get(comp))
    def dataFileCount(p: String): Long = listFilesUnder(p)
      .count(n => n.endsWith(".parquet") && !n.startsWith("_codebook")).toLong
    val filesBefore = dataFileCount(comp)
    val target = 128L << 20
    val cellsRewritten = SimilaritySearch
      .compactIvfPartitioned(spark, comp, targetFileBytes = target).toLong
    val filesAfter = dataFileCount(comp)
    // size-cap census: no compacted file may exceed the byte target —
    // the 100 TB guarantee that a cell never funnels into one
    // unbounded blob (the >1-file split of a genuinely oversized cell
    // is spec-proven; at bench scale every cell fits one bin)
    val maxFileBytes = {
      val root = java.nio.file.Paths.get(comp)
      walkTree(root)(_.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet") &&
          !root.relativize(p).toString.startsWith("_codebook"))
        .map(java.nio.file.Files.size(_)).maxOption.getOrElse(0L))
    }
    // topk(comp) probes the MUTATED layout — recomputed every pass;
    // the full-layout reference is the cached expectation scalar
    val compactOk = ivfTopkRounded(spark, dir, comp) ==
      ivfExpected(spark, dir, fullPath)._1 && filesAfter < filesBefore
    deleteRecursively(java.nio.file.Paths.get(comp))
    // the cap carries the SAME 1.5× slack the spec allows: bins pack
    // by INPUT byte sums, and re-encoding/compression can legitimately
    // exceed the target a little — a strict <= would flake at larger
    // SFs where a bin lands near the boundary
    Seq((filesBefore, filesAfter, cellsRewritten, compactOk,
        maxFileBytes <= target * 3 / 2))
      .toDF("delta_files", "compact_files", "cells_rewritten", "ok",
        "size_capped")
  }

  /** PQ-ADC approximate top-k (operators/ProductQuantizer — Jégou '11
    * product quantization): the memory-side ANN path beside LSH/IVF.
    * Training (m=16 subspaces × k=32 centroids, 5 Lloyd sweeps) and
    * corpus ENCODING are the index build, cached per (session, dir)
    * like the IVF codebook — the persisted codes frame is what a
    * 100 TB deployment stores (m codes per vector). The measured path
    * is the ADC query + exact re-rank of the 50-candidate shortlist:
    * m×k lookup table in plan literals, element-lookup sum,
    * TakeOrderedAndProject, broadcast-join refinement. Recall vs
    * brute force is floor-asserted in SimilaritySearchSpec. */
  private val pqCache = new SessionMemo[(ProductQuantizer.Model, DataFrame)]
  private def pqIndex(spark: SparkSession, dir: String,
                      corpus: DataFrame): (ProductQuantizer.Model, DataFrame) =
    pqCache(spark, dir) {
      val model = ProductQuantizer.fit(corpus, "vec_id", "embedding", m = 16, k = 32)
      // truncated lineage: bench samples re-read the codes, never
      // re-run the encode projection
      val encoded = Checkpoints.truncate(
        ProductQuantizer.encode(corpus, "vec_id", "embedding", model))
      (model, encoded)
    }

  private def annPq(spark: SparkSession, dir: String): DataFrame = {
    val corpus = t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)
    val (model, encoded) = pqIndex(spark, dir, corpus)
    ProductQuantizer.adcTopKRefined(encoded, corpus, "vec_id", "embedding",
        probeVec(spark, dir), model, k = 10, shortlist = 50)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** IVF-PQ composed index (ProductQuantizer.fitIvfPq — Jégou '11
    * IVFADC): the Lloyd-refined IVF coarse cells prune the SCAN
    * (nProbe=4 of 16 cells), residual-PQ codes prune the BYTES, and
    * the shortlist re-ranks exactly — the full production vector-store
    * shape. Index (cells + residual codebooks + encoded codes) cached
    * per (session, dir); the measured path is the pruned-scan ADC
    * query + re-rank. */
  private val ivfPqCache = new SessionMemo[ProductQuantizer.IvfPq]
  private def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val corpus = t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)
    val index = ivfPqCache(spark, dir) {
      val idx = ProductQuantizer.fitIvfPq(corpus, "vec_id", "embedding",
        refinedCodebook(spark, dir, corpus), m = 16, k = 32)
      idx.copy(encoded = Checkpoints.truncate(idx.encoded))
    }
    ProductQuantizer.ivfPqTopK(index, corpus, "vec_id", "embedding",
        probeVec(spark, dir), k = 10, nProbe = 4, shortlist = 50)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** All-pairs LSH near-neighbor join (scale path of qv4). */
  private def annPairJoin(spark: SparkSession, dir: String): DataFrame =
    SimilaritySearch.lshPairJoin(t(spark, dir, "embeddings"),
        "vec_id", "embedding", minCosine = 0.2, nBits = 8)
      .withColumn("cosine", round(col("cosine"), 4))
      .orderBy(col("cosine").desc_nulls_last, col("id_a"), col("id_b"))
      .limit(50)

  /** MEASURED Structured Streaming replay (ref 1 kHz loop,
    * /root/reference/simulator/codegen_cim.py:524-548): the events
    * parquet replayed through a real streaming query — file source →
    * watermark → 5-min tumbling agg → memory sink — drained with
    * Trigger.AvailableNow. Complete output mode keeps the result
    * deterministic regardless of file-split order (the watermark
    * never evicts complete-mode state), so the row count is stable
    * across runs; stream==batch for this agg is separately asserted
    * in StatefulOpsSpec/TelemetrySpec. */
  private def streamingReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a DIRECTORY; the test tables are single
    // files, so stream the parent dir restricted to the events file
    val stream = Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val qName = "graft_replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the windowed agg allocates one state store per shuffle
    // partition; the replay is tiny, so fewer partitions = less state
    // overhead (same sizing note as the stream-stream join below —
    // cluster-scale runs keep the session default)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      StatefulOps.windowedCounts(stream)
        .writeStream.format("memory").queryName(qName)
        .option("checkpointLocation", scratchCheckpoint(qName))
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(qName)
    }
    val out = Checkpoints.truncate(spark.table(qName)
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("cnt"), round(col("sum_v"), 4).as("sum_v"))
      .orderBy(col("ws"), col("event_type"), col("cnt"), col("sum_v")))
    spark.catalog.dropTempView(qName)
    out
  }

  /** MEASURED Structured Streaming SESSIONIZATION (ref op #36's
    * streaming spelling — the missing streaming sibling of qs5's
    * batch session_window): events replayed as a file-source stream →
    * per-user session_window(30 min) aggregation with watermark →
    * memory sink drained by Trigger.AvailableNow. Complete mode keeps
    * the drain deterministic (watermark never evicts complete-mode
    * state); stream==batch for the same aggregation is asserted in
    * StatefulOpsSpec (full table, sf0.001). Output: sessions-per-user
    * histogram — a small deterministic frame. The MEASURED slice is
    * users < 100: the in-memory state store costs ~100 µs per session
    * op, so the full sf0.1 table (~95k sessions) is a 10 s+ entry
    * measuring only store overhead — the slice keeps the timed path
    * the streaming semantics, not the store constant. */
  private def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
      .filter(col("user_id") < 100)
    val qName = "graft_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // same state-store sizing note as the replays above
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      StatefulOps.sessionCounts(stream)
        .writeStream.format("memory").queryName(qName)
        .option("checkpointLocation", scratchCheckpoint(qName))
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(qName)
    }
    val out = Checkpoints.truncate(spark.table(qName)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .groupBy(col("n_sessions"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .orderBy(col("n_sessions"), col("n_users"), col("n_events")))
    spark.catalog.dropTempView(qName)
    out
  }

  /** MEASURED stream-stream time-interval join (ref op #32's
    * two-channel fusion run as a REAL streaming query): two file-source
    * streams over the events parquet — 'click' channel vs 'view'
    * channel — watermarked both sides, joined on user + [ts, ts+1 min],
    * drained with Trigger.AvailableNow into a memory sink, then
    * summarized per user (count + value checksum) so the output is a
    * small deterministic frame. Inner-join output is a well-defined
    * multiset regardless of micro-batch boundaries. */
  private def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def channel(et: String) = Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
      .filter(col("event_type") === et)
      .select(col("ts"), col("user_id"), col("value"))
    val qName = "graft_sjoin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the join state store allocates per shuffle partition; the test
    // streams are tiny, so fewer partitions = less state overhead
    // (cluster-scale runs keep the session default)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // tolerance '4 hours', not the op's 1-minute default: the synthetic
    // events are sparse (~13 clicks/user/month), so 1 minute matches
    // ZERO pairs at every SF and the bench would time an empty join —
    // 4 hours yields 11/153/1466 pairs at sf0.001/0.01/0.1
    // (rows>0 asserted in StatefulOpsSpec)
    // Inner-join output is append-exact across micro-batches, so
    // per-batch partial (count, sum) merges are exact; the foreachBatch
    // aggregate runs on EXECUTORS and the driver keeps only O(users)
    // partials — never the raw pair stream (a memory sink would
    // accumulate every join pair on the driver at scale).
    val partials = scala.collection.mutable.HashMap.empty[Long, (Long, Double)]
    try {
      StatefulOps.streamStreamFuse(channel("click"), channel("view"),
          tolerance = "4 hours")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"), sum(col("gyro") * col("accel")).as("s"))
            .collect().foreach { r =>
              val k = r.getLong(0)
              partials.synchronized {
                val (n0, s0) = partials.getOrElse(k, (0L, 0.0))
                partials(k) = (n0 + r.getLong(1), s0 + r.getDouble(2))
              }
            }
        }
        .option("checkpointLocation", scratchCheckpoint(qName))
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(qName)
    }
    import spark.implicits._
    partials.toSeq.map { case (u, (n, s)) => (u, n, s) }.sortBy(_._1)
      .toDF("user_id", "n_pairs", "raw_sum")
      .select(col("user_id"), col("n_pairs"),
        round(col("raw_sum"), 4).as("checksum"))
      .orderBy(col("user_id"), col("n_pairs"), col("checksum"))
  }

  /** Measured streaming exact-dedup replay (ref op #36's ingest
    * front): the events file replays as TWO unioned streams — every
    * row arrives exactly twice — and StatefulOps.streamingDedup must
    * emit each once, with per-key state the watermark expires instead
    * of accumulating forever (its exact-row contract holds here:
    * duplicates are exact replays, so event_id determines ts). The memory-sink rows then collapse to
    * per-type counts, which equal the batch DISTINCT counts
    * (stream==batch asserted in StatefulOpsSpec; here the doubled
    * input makes any dedup miss loud — a miss doubles a count). */
  private def streamingDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def replay() = Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("ts"), col("event_id"), col("event_type"))
    val qName = "graft_sdedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // Dedup emits each surviving row exactly once across micro-
    // batches, so summing per-batch partial counts is exact. The
    // foreachBatch aggregate runs on EXECUTORS; the driver receives
    // only O(types) rows per batch — never the deduped stream itself
    // (a memory sink here would accumulate the whole table on the
    // driver, the scale anti-pattern).
    val partials = scala.collection.mutable.HashMap.empty[String, Long]
    try {
      StatefulOps.streamingDedup(replay().union(replay()), Seq("event_id"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy(col("event_type")).count().collect().foreach { r =>
            val k = r.getString(0)
            partials.synchronized {
              partials(k) = partials.getOrElse(k, 0L) + r.getLong(1)
            }
          }
        }
        .option("checkpointLocation", scratchCheckpoint(qName))
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(qName)
    }
    import spark.implicits._
    partials.toSeq.sortBy(_._1).toDF("event_type", "n_unique")
      .orderBy(col("event_type"))
  }

  /** Complementary filter over paired sensor channels (ref op #32,
    * /root/reference/firmware/middleware/fixed_point_filter.c:13-57):
    * s' = α(s + gyro·dt) + (1−α)·accel per user. Events are collapsed
    * to one sample per (user, ts) so the recurrence order is total —
    * the second channel is a deterministic transform of the first
    * (the synthetic tables carry one value stream). */
  private def complementaryFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fused = t(spark, dir, "events")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .agg(max(col("value")).as("gyro"))
      .withColumn("accel", sin(col("gyro")) * 10.0)
      .select(col("user_id"), col("tsMicros"), col("gyro"), col("accel"))
      .as[StatefulOps.FusedSample]
    StatefulOps.complementaryBatch(fused, alpha = 0.98).toDF()
      .select(col("user_id"), col("tsMicros"), round(col("fused"), 6).as("fused"))
      .orderBy(col("user_id"), col("tsMicros"), col("fused"))
  }

  /** PageRank power iteration (operators/PageRank) over the
    * supplier↔customer trade graph: lineitem⋈orders gives an edge per
    * line (supplier ships to customer), spelled BIdirectionally so the
    * chain is ergodic; supplier nodes are negated to keep the two key
    * spaces disjoint. 8 sweeps, top-20 influencers. Each sweep is one
    * join + one grouped sum over the checkpointed weighted edge list —
    * the engine's iterative-join graph workload beside the one-shot
    * connectedComponents. Expected bench profile: the measured entry
    * executes 8 FULL passes over ~1M weighted pairs (~0.7 s/sweep at
    * sf0.1, local[32]) — a multi-second reading is the workload's
    * size, not a plan defect; each sweep broadcasts the small rank
    * side and shuffles only the grouped contributions. */
  private def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val trade = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((-col("l_suppkey")).as("s"), col("o_custkey").as("c"))
    val edges = trade.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(trade.select(col("c").as("src"), col("s").as("dst")))
    PageRank.run(edges, iters = 8)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc_nulls_last, col("node"))
      .limit(20)
  }

  /** Partitioned-table DDL through the Hive metastore — the catalog
    * surface a migrating warehouse user touches first (the north
    * star's Hive compatibility layer; partition dirs mirror the
    * model-package directory layout of
    * /root/reference/tools/hive_compile.py:143-194): CREATE TABLE …
    * PARTITIONED BY (day), dynamic INSERT of two day partitions,
    * SHOW PARTITIONS, ALTER TABLE DROP PARTITION, then an
    * OUT-OF-BAND directory landing (files copied under day=… without
    * the catalog's knowledge — the classic backfill-by-distcp move)
    * reconciled by MSCK REPAIR TABLE, and finally metastore-path
    * SCHEMA EVOLUTION: ALTER TABLE ADD COLUMNS (quality DOUBLE) — the
    * catalog twin of eng_schema_merge's datasource mergeSchema — with
    * a fresh partition inserted under the widened schema; partitions
    * written before the ALTER read NULL for the new column (the
    * census's non-null count pins both regimes). The per-stage census
    * (partition count from SHOW PARTITIONS + row count + non-null
    * quality count through the catalog table) is exact and
    * golden-stable; at 100 TB each stage is a metastore-only
    * operation except the bounded per-day inserts. */
  private val ddlDaysCache = new SessionMemo[Array[String]]

  private def hivePartitionedDdl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events")
      .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
    // bounded collect: the three earliest day keys drive the scenario.
    // A pure function of the immutable events fixture, so computed
    // once per (session, dir) — expectation-scalar discipline; the
    // five per-stage censuses observe MUTATED catalog state and
    // recompute every invocation.
    val days = ddlDaysCache(spark, dir) {
      ev.select(col("day")).distinct().orderBy(col("day"))
        .limit(3).as[String].collect()
    }
    require(days.length == 3, s"need 3 distinct days, got ${days.toSeq}")
    val (d0, d1, d2) = (days(0), days(1), days(2))
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cat")
    spark.sql("DROP TABLE IF EXISTS graft_cat.events_part")
    spark.sql(
      """CREATE TABLE graft_cat.events_part
        |  (event_id BIGINT, event_type STRING, value DOUBLE, day STRING)
        |USING parquet PARTITIONED BY (day)""".stripMargin)
    ev.filter(col("day").isin(d0, d1))
      .select(col("event_id"), col("event_type"), col("value"), col("day"))
      .write.insertInto("graft_cat.events_part")
    def census(stage: String): (String, Long, Long, Long) = {
      val nPart = spark.sql("SHOW PARTITIONS graft_cat.events_part").count()
      val tbl = spark.table("graft_cat.events_part")
      // ONE scan per stage: count(col) counts non-nulls, so the row
      // count and the quality census share the aggregate instead of
      // scanning the table twice (guide §1.2 — don't compute things
      // twice). Pre-ALTER stages have no quality column yet → 0 by
      // definition.
      if (tbl.columns.contains("quality")) {
        val r = tbl.agg(count(lit(1)), count(col("quality"))).collect()(0)
        (stage, nPart, r.getLong(0), r.getLong(1))
      } else (stage, nPart, tbl.count(), 0L)
    }
    val s1 = census("1_insert_2_days")
    spark.sql(s"ALTER TABLE graft_cat.events_part DROP PARTITION (day='$d1')")
    val s2 = census("2_drop_partition")
    // out-of-band landing: day=<d2> written straight to the table
    // location, bypassing the catalog — MSCK must discover it
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("events_part", Some("graft_cat")))
      .location.getPath
    ev.filter(col("day") === d2)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$loc/day=$d2")
    val s3 = census("3_outofband_unseen")
    spark.sql("MSCK REPAIR TABLE graft_cat.events_part")
    val s4 = census("4_msck_discovered")
    // schema evolution through the catalog: widen, then land the
    // (earlier-dropped) middle day under the NEW schema — its rows
    // carry quality values, every pre-ALTER partition reads NULL
    spark.sql("ALTER TABLE graft_cat.events_part ADD COLUMNS (quality DOUBLE)")
    ev.filter(col("day") === d1)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 2, 4).as("quality"), col("day"))
      .write.insertInto("graft_cat.events_part")
    val s5 = census("5_add_column_insert")
    Seq(s1, s2, s3, s4, s5)
      .toDF("stage", "n_partitions", "n_rows", "n_quality")
      .orderBy(col("stage"))
  }

  /** Cost-based-optimizer statistics surface: `ANALYZE TABLE …
    * COMPUTE STATISTICS [FOR COLUMNS]` through the metastore, plus a
    * plan decision that PROVABLY changes with the stats — the Spark
    * analog of the reference's measured-cost placement
    * (/root/reference/mlir_compiler/partitioner.py:26-52, where the
    * cost model, not the op name, chooses the physical variant).
    *
    * Stage "1_no_stats": external catalog tables over the contract
    * parquet, no statistics. The broadcast threshold is pinned to
    * HALF the planner's file-size estimate of the filtered dim
    * subtree, so the stats-blind plan (filter selectivity treated as
    * 1.0) keeps a shuffled join. Stage "2_analyzed_cbo": ANALYZE
    * (table + c_custkey/c_nationkey column stats) with
    * spark.sql.cbo.enabled — FilterEstimation now shrinks the
    * c_nationkey dim under that SAME threshold via NDV selectivity,
    * and the SAME query plans a BroadcastHashJoin. Both stages
    * execute; their join results must be identical (the flip is
    * physical only) and are goldened beside the catalog censuses
    * (rowCount, NDV). The require() guards the margin: a with-stats
    * estimate that fails to undercut the threshold fails loudly
    * instead of goldening a non-flip.
    *
    * Each stage also records the optimizer's JOIN ORDER on a 3-table
    * chain (orders ⋈ customer ⋈ nation, selective nation filter):
    * stats-blind Catalyst keeps the written order, while
    * spark.sql.cbo.joinReorder reorders by estimated cardinality to
    * join the two dimensions first — the cost-based join-reorder
    * decision, read from optimizedPlan leaf order and goldened.
    *
    * At 100 TB: CREATE EXTERNAL is metastore-only, ANALYZE is a
    * one-time scan (FOR COLUMNS piggybacks NDV/min/max on it); the
    * payoff is every subsequent plan choosing broadcast/shuffle/
    * reorder from measured rowCount+NDV instead of raw file bytes —
    * exactly the decision this entry measures. */
  private def cboStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confKeys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_cat")
      spark.sql("DROP TABLE IF EXISTS graft_cat.orders_cbo")
      spark.sql("DROP TABLE IF EXISTS graft_cat.customer_cbo")
      spark.sql("DROP TABLE IF EXISTS graft_cat.nation_cbo")
      // LOCATION ⇒ external: DROP above never touches the source data.
      // skipHiveMetadata: store Spark's own table format at once. Hive
      // rejects a single-file location, and Spark would log the
      // metastore's stack before falling back to that format anyway
      for (t <- Seq("orders", "customer", "nation"))
        spark.sql(s"CREATE TABLE graft_cat.${t}_cbo USING parquet " +
          s"OPTIONS (skipHiveMetadata 'true') LOCATION '$dir/$t.parquet'")

      def dimSide: DataFrame = spark.table("graft_cat.customer_cbo")
        .filter(col("c_nationkey") === 3).select(col("c_custkey"))
      def estimate: BigInt = dimSide.queryExecution.optimizedPlan.stats.sizeInBytes
      // revenue in exact integer cents: a double sum is partition-
      // order dependent and would destabilize the golden
      def probe(): DataFrame = spark.table("graft_cat.orders_cbo")
        .join(spark.table("graft_cat.customer_cbo").filter(col("c_nationkey") === 3),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("join_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("join_revenue_cents"))
      def joinKind(df: DataFrame): String =
        if (df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
          "broadcast" else "shuffled"
      // 3-table chain for the join-reorder decision; the optimized
      // plan's leaf order IS the chosen join order
      def reorderProbe(): DataFrame = spark.table("graft_cat.orders_cbo").as("o")
        .join(spark.table("graft_cat.customer_cbo").as("c"),
          col("o.o_custkey") === col("c.c_custkey"))
        .join(spark.table("graft_cat.nation_cbo").as("n"),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .filter(col("n.n_nationkey") === 3)
        .agg(count(lit(1)).as("n_rows"))
      def leafOrder(df: DataFrame): String =
        df.queryExecution.optimizedPlan.collectLeaves().map(_.toString).map { s =>
          Seq("orders_cbo", "customer_cbo", "nation_cbo")
            .find(s.contains).getOrElse("other")
        }.mkString(",")
      def catalogStats(): (Long, Long) = {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("customer_cbo", Some("graft_cat")))
        (meta.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L),
          meta.stats.flatMap(_.colStats.get("c_nationkey"))
            .flatMap(_.distinctCount).map(_.toLong).getOrElse(-1L))
      }

      spark.conf.set("spark.sql.cbo.enabled", "false")
      val estNoStats = estimate
      val threshold = estNoStats / 2
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val (rc1, ndv1) = catalogStats()
      // one DataFrame per probe per stage: the inspected plan IS the
      // executed one, and Catalyst plans each join once, not twice
      val probe1 = probe(); val reorder1 = reorderProbe()
      val plan1 = joinKind(probe1)
      val order1 = leafOrder(reorder1)
      val res1 = probe1.collect()(0)
      val nre1 = reorder1.collect()(0).getLong(0)

      // ONE ANALYZE per table: FOR COLUMNS computes and stores the
      // table-level stats (sizeInBytes + rowCount) alongside the
      // column stats, so a separate COMPUTE STATISTICS pass is a
      // second full scan for nothing (guide §1.2) — catalogStats()
      // reads the identical rowCount either way
      spark.sql("ANALYZE TABLE graft_cat.customer_cbo COMPUTE STATISTICS FOR COLUMNS c_custkey, c_nationkey")
      spark.sql("ANALYZE TABLE graft_cat.orders_cbo COMPUTE STATISTICS FOR COLUMNS o_custkey")
      spark.sql("ANALYZE TABLE graft_cat.nation_cbo COMPUTE STATISTICS FOR COLUMNS n_nationkey")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val estWithStats = estimate
      require(estWithStats < threshold,
        s"with-stats estimate $estWithStats did not undercut threshold $threshold (no-stats $estNoStats)")
      val (rc2, ndv2) = catalogStats()
      val probe2 = probe(); val reorder2 = reorderProbe()
      val plan2 = joinKind(probe2)
      val order2 = leafOrder(reorder2)
      val res2 = probe2.collect()(0)
      val nre2 = reorder2.collect()(0).getLong(0)

      Seq(
        ("1_no_stats", rc1, ndv1, plan1, order1, res1.getLong(0), res1.getLong(1), nre1),
        ("2_analyzed_cbo", rc2, ndv2, plan2, order2, res2.getLong(0), res2.getLong(1), nre2))
        .toDF("stage", "customer_rows", "ndv_nationkey", "probe_join",
          "join_order", "join_rows", "join_revenue_cents", "reorder_rows")
        .orderBy(col("stage"))
    } finally
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Equi-height HISTOGRAM statistics — the selectivity decision
    * NDV/min-max stats cannot make. eng_cbo_stats shows ANALYZE
    * flipping an EQUALITY-filtered join via NDV; range predicates on
    * skewed columns are the case that still goes wrong: without a
    * histogram, FilterEstimation assumes the column is UNIFORM over
    * [min, max], and the events.value distribution is exponential-
    * shaped — `value > (min+max)/2` truly passes ~0.4–3 % of rows
    * while the uniform assumption says 50 % (a 20–75× error at the
    * tested SFs).
    *
    * Stage "1_basic_stats": ANALYZE … FOR COLUMNS with
    * spark.sql.statistics.histogram.enabled=false — the filtered dim
    * subtree is estimated at ~half the table and the user-activity
    * join (all events of users who produced a tail event) plans
    * SHUFFLED under a broadcast threshold pinned to the geometric
    * mean of the two stages' estimates. Stage "2_histogram": the SAME
    * ANALYZE with histograms on (254-bin equi-height, piggybacked on
    * the stats scan) — FilterEstimation integrates actual bin heights,
    * the estimate collapses under the SAME threshold, and the SAME
    * query plans a BroadcastHashJoin. joinKind reads the
    * pre-execution plan, so the flip measured is the cost-based
    * decision, not AQE's runtime rescue. Both stages execute;
    * identical join results and the histogram census are goldened,
    * and the require() fails loudly if the estimates ever stop
    * bracketing the threshold. Reference analog: the measured-cost
    * placement of mlir_compiler/partitioner.py:26-52 — the decision
    * follows the measured distribution, not a uniformity assumption.
    *
    * At 100 TB: the histogram adds one percentile sketch to the
    * one-time ANALYZE scan; the payoff is every range-predicate plan
    * (time windows, price tails, score thresholds) sizing its
    * build side from the real distribution. */
  private def cboHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confKeys = Seq("spark.sql.cbo.enabled",
      "spark.sql.statistics.histogram.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_cat")
      spark.sql("DROP TABLE IF EXISTS graft_cat.events_hist")
      // LOCATION ⇒ external: DROP never touches the source data
      spark.sql(s"CREATE TABLE graft_cat.events_hist USING parquet LOCATION '$dir/events.parquet'")
      spark.conf.set("spark.sql.cbo.enabled", "true")

      val mm = spark.table("graft_cat.events_hist")
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx")).collect()(0)
      val cutoff = mm.getDouble(0) + 0.5 * (mm.getDouble(1) - mm.getDouble(0))

      def dimSide: DataFrame = spark.table("graft_cat.events_hist")
        .filter(col("value") > cutoff)
        .select(col("event_id"), col("user_id"))
      def estimate: BigInt = dimSide.queryExecution.optimizedPlan.stats.sizeInBytes
      // anchor-context probe: every event by a user who produced a
      // tail event, weighted by that user's tail-event count; exact
      // integer cents keep the golden partition-order independent
      def probe(): DataFrame = spark.table("graft_cat.events_hist").as("f")
        .join(dimSide.select(col("user_id")).as("d"),
          col("f.user_id") === col("d.user_id"))
        .agg(count(lit(1)).as("join_rows"),
          sum(round(col("f.value") * 100).cast("long")).as("value_cents"))
      def joinKind(df: DataFrame): String =
        if (df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
          "broadcast" else "shuffled"
      def histInfo(): (Boolean, Long) = {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("events_hist", Some("graft_cat")))
        val h = meta.stats.flatMap(_.colStats.get("value")).flatMap(_.histogram)
        (h.isDefined, h.map(_.bins.length.toLong).getOrElse(0L))
      }
      // ONE statement: FOR COLUMNS stores sizeInBytes + rowCount too,
      // so the former separate COMPUTE STATISTICS was a second full
      // scan of events per stage (guide §1.2)
      def analyzeCols(): Unit =
        spark.sql("ANALYZE TABLE graft_cat.events_hist COMPUTE STATISTICS FOR COLUMNS user_id, value")
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(
        "events_hist", Some("graft_cat"))

      spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
      analyzeCols()
      val estBasic = estimate
      // snapshot the basic-only catalog stats: stage 1 executes LAST
      // (the threshold needs both estimates first), and restoring this
      // snapshot is value-identical to the former third ANALYZE —
      // the stats are a deterministic function of the data — without
      // re-scanning events for numbers already in hand (guide §1.2)
      val basicStats = spark.sessionState.catalog.getTableMetadata(ident).stats
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      analyzeCols()
      val estHist = estimate
      require(estHist * 2 <= estBasic,
        s"histogram estimate $estHist did not undercut half the uniform estimate $estBasic")
      // pinned BETWEEN the two estimates: only the histogram-informed
      // plan may broadcast
      val threshold = BigInt(
        java.math.BigDecimal.valueOf(
          math.sqrt((BigDecimal(estBasic) * BigDecimal(estHist)).toDouble)).toBigInteger)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val (h2, bins2) = histInfo()
      val probe2 = probe()
      val plan2 = joinKind(probe2)
      val res2 = probe2.collect()(0)
      // revert to basic-only column stats: restoring the snapshot
      // REPLACES the histogram stats with exactly what a
      // histogram-less warehouse would hold (the same catalog entry
      // the former re-ANALYZE recomputed from a full scan), so stage 1
      // plans from identical stats at zero scan cost
      basicStats.foreach(s =>
        spark.sessionState.catalog.alterTableStats(ident, Some(s)))
      val (h1, bins1) = histInfo()
      val probe1 = probe()
      val plan1 = joinKind(probe1)
      val res1 = probe1.collect()(0)

      Seq(
        ("1_basic_stats", h1, bins1, plan1, res1.getLong(0), res1.getLong(1)),
        ("2_histogram", h2, bins2, plan2, res2.getLong(0), res2.getLong(1)))
        .toDF("stage", "has_histogram", "n_bins", "probe_join",
          "join_rows", "value_cents")
        .orderBy(col("stage"))
    } finally
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Degree-oriented triangle counting (operators/Triangles, Schank
    * '05) over the UNFILTERED supplier co-occurrence graph — the
    * dense-graph face of qj18 (whose value filter exists only to
    * keep its DuckDB oracle small). Reports the wedge work of BOTH
    * orientations — the delta is the saved work; on this near-regular
    * graph it is small, on a skewed graph it is the difference
    * between O(m^1.5) and a hub's O(deg²) blow-up (TrianglesSpec
    * pins both regimes, plus deg==key triangle equality). All three
    * scalars are exact counts — partition-order independent, golden-
    * stable. The edge list is persisted across its four uses and
    * released before return; every collect is a 1-row aggregate. */
  private def trianglesDeg(spark: SparkSession, dir: String): DataFrame = {
    val edges = operators.Triangles
      .supplierCooccurrence(t(spark, dir, "lineitem"), minPrice = None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE census action carries the edge count AND the id bounds the
      // degree orientation's pack/broadcast probe needs (guide §1.2 —
      // this, the shared orientation below, and the fused wedge census
      // fold what were five driver actions into three)
      val b = edges.agg(count(lit(1)).as("m"),
        min(least(col("s1"), col("s2"))).as("lo"),
        max(greatest(col("s1"), col("s2"))).as("hi")).collect()(0)
      val nEdges = b.getLong(0)
      val knownBounds =
        if (nEdges == 0) None else Some((b.getLong(1), b.getLong(2), nEdges))
      // the degree orientation feeds BOTH the wedge census and the
      // triangle count — persist it so the degrees aggregate and the
      // two orientation joins execute once, not once per consumer
      // (guide §2.4; the probe/count share it via knownOriented)
      val byDeg = operators.Triangles.orientByDegree(edges, knownBounds)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // BOTH orientations' wedge censuses in one tagged aggregate —
        // one action, one exchange instead of two of each. Term and
        // sum arithmetic identical to Triangles.wedgeCount (integer-
        // valued doubles sum exactly, so the fold order can't drift
        // the golden).
        val w = byDeg.select(col("src"), lit(1).as("o"))
          .unionAll(edges.select(col("s1").as("src"), lit(0).as("o")))
          .groupBy(col("o"), col("src")).agg(count(lit(1)).as("c"))
          .groupBy(col("o"))
          .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0))
            .cast("long").as("w"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val wKey = w.getOrElse(0, 0L)
        val wDeg = w.getOrElse(1, 0L)
        // work-gated count: (nEdges, wDeg) feed the route's cost probe
        // so it isn't measured twice; the wedge censuses above still
        // report the DIRECT orientation work (the delta between
        // orientations is the operator's headline number)
        val tri = operators.Triangles
          .triangleCountAuto(edges, knownWork = Some((nEdges, wDeg)),
            knownOriented = Some(byDeg))
          .collect()(0).getLong(0)
        import spark.implicits._
        Seq((nEdges, wKey, wDeg, tri))
          .toDF("n_edges", "wedges_key", "wedges_deg", "n_triangles")
      } finally { byDeg.unpersist(); () }
    } finally { edges.unpersist(); () }
  }

  /** Holt linear-trend forecasting per user (operators/Forecast —
    * smoothed generalization of ref op #34's 2-point extrapolation):
    * daily mean values per user fold to (level, trend) in one
    * secondary-sort pass, 3-step-ahead forecasts emitted per key.
    * Day indices make (key, t) unique, so the fold order is pinned. */
  private def forecastHolt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = t(spark, dir, "events")
      .filter(col("user_id") < 100)
      .groupBy(col("user_id").as("key"),
        (unix_micros(col("ts")) divide lit(86400000000L)).cast("long").as("t"))
      .agg((sum(col("value")) / count(lit(1))).as("v"))
      .as[operators.Forecast.SeriesPoint]
    operators.Forecast.holt(daily, alpha = 0.3, beta = 0.1, horizon = 3).toDF()
      .select(col("key"), col("n"), round(col("level"), 4).as("level"),
        round(col("trend"), 4).as("trend"), col("h"),
        round(col("forecast"), 4).as("forecast"))
      .orderBy(col("key"), col("h"), col("n"), col("level"), col("trend"),
        col("forecast"))
  }

  /** Forecast-based anomaly detection: one-step-ahead Holt residuals
    * per user (Forecast.holtResiduals — the model's genuine
    * out-of-sample error at every point) thresholded by the TRUE
    * per-user MAD, median(|r − median(r)|) — centering on the median
    * residual first keeps the calibration valid when a series drifts
    * and residuals have non-zero median. |r − med| > 5.19·MAD ≈ 3.5σ
    * for normal errors (qa19's robust, division-free discipline). A
    * key whose MAD is 0 (over half its residuals identical) has no
    * robust scale to calibrate against, so flagging is deliberately
    * disabled there rather than dividing by zero — documented, not
    * silent. Two grouped aggregates on the same key co-location; the
    * flag join broadcasts the tiny (key, med, MAD) frame. */
  private def anomalyForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = t(spark, dir, "events")
      .filter(col("user_id") < 100)
      .groupBy(col("user_id").as("key"),
        (unix_micros(col("ts")) divide lit(86400000000L)).cast("long").as("t"))
      .agg((sum(col("value")) / count(lit(1))).as("v"))
      .as[operators.Forecast.SeriesPoint]
    val res = operators.Forecast.holtResiduals(daily, alpha = 0.3, beta = 0.1).toDF()
    val med = res.groupBy(col("key"))
      .agg(expr("percentile(residual, 0.5)").as("med"))
    val mad = res.join(broadcast(med), Seq("key"))
      .groupBy(col("key"))
      .agg(expr("percentile(abs(residual - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
    res.join(broadcast(mad), Seq("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(abs(col("residual") - col("med")) > lit(5.19) * col("mad") &&
            col("mad") > 0, 1)
          .otherwise(0)).as("n_anomalies"),
        round(max(abs(col("residual"))), 4).as("max_abs_resid"))
      .orderBy(col("key"), col("n_points"), col("n_anomalies"), col("max_abs_resid"))
  }

  /** True recursive EMA per user (ref IIR low-pass) — batch spelling
    * of the flatMapGroupsWithState recurrence. */
  private def emaBatch(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.emaBatch(t(spark, dir, "events"), alpha = 0.3)
      .withColumn("ema", round(col("ema"), 4))
      .orderBy(col("user_id"), col("eventId"))

  /** LSTM recurrence per user (ref op #5, CIM_LSTM) — the stateful
    * hidden/cell fold over ordered events; stream==batch asserted in
    * StatefulOpsSpec. */
  private def lstmState(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.lstmBatch(t(spark, dir, "events"))
      .select(col("user_id"), col("eventId"),
        round(col("h0"), 6).as("h0"), round(col("hNorm"), 6).as("h_norm"))
      .orderBy(col("user_id"), col("eventId"))

  /** φ-heavy-hitters over event actors (operators/HeavyHitters —
    * Misra-Gries candidates + exact verification, the frequent-items
    * member of the sketch family): "which users exceed 0.8% of all
    * traffic" — the hot-key detection that feeds the salting path
    * (eng_salted_agg). Output is exact counts of the true hitters —
    * deterministic on any partitioning (the sketch's order-dependent
    * counters never reach the output). */
  private def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    operators.HeavyHitters.heavyHitters(
      t(spark, dir, "events").select(col("user_id").cast("string").as("actor")),
      "actor", phi = 0.008)

  /** Language-ID heuristic vs the labeled lang column: per-language
    * accuracy of the n-gram/stopword scorer. */
  private def langId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        round(avg(when(col("pred") === col("lang"), 1.0).otherwise(0.0)), 4).as("accuracy"))
      .orderBy(col("lang"))

  /** Quality scoring distribution per source. */
  private def qualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"), TextFunctions.qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(round(avg(col("q")), 4).as("avg_quality"),
        round(min(col("q")), 4).as("min_quality"),
        round(max(col("q")), 4).as("max_quality"))
      .orderBy(col("source"))

  /** Rolling-hash document fingerprints + token counts (whitespace,
    * regex-subword, and vocab-driven WordPiece). */
  private def fingerprints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.docFingerprint(col("text")).as("fingerprint"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        TextFunctions.wordpieceCount(col("text")).as("n_wordpieces"))
      .orderBy(col("doc_id"))

  /** Vocab-driven WordPiece tokenization (the production token-budget
    * op): pieces-per-token compression and a deterministic sample of
    * the piece stream per source. */
  private def wordpiece(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"),
        TextFunctions.wordpieceTokenize(col("text")).as("wp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("wp"))).as("n_pieces"),
        round(sum(size(col("wp"))).cast("double") / sum(col("n_tok")), 4).as("pieces_per_token"),
        min(concat_ws("|", slice(col("wp"), 1, 5))).as("sample_pieces"))
      .orderBy(col("source"))

  /** BPE vocabulary TRAINING + application (the train half of the
    * tokenizer pipeline; eng_wordpiece is the apply half with a fixed
    * vocab): fit merges on the corpus word-frequency table (one
    * distributed aggregate → bounded driver artifact → incremental
    * merge loop), then re-encode the corpus through the learned
    * kernel via the distinct-word broadcast join. Output: per-source
    * compression stats + the first learned merges (deterministic —
    * ties break lexicographically). */
  private def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // merge budget deliberately BELOW full convergence: the synthetic
    // corpus has ~31 distinct words (≈106 merges fully lexicalize it,
    // collapsing every word to one symbol and flattening the stats);
    // 30 merges leaves frequent words merged and rare words partial,
    // so subwords_per_word stays discriminative per source
    val model = operators.BpeTrain.fit(docs, "text", nMerges = 30)
    operators.BpeTrain.subwordStats(docs, model)
      .withColumn("n_merges", lit(model.merges.size))
      .withColumn("first_merges",
        lit(model.merges.take(3).map { case (a, b) => s"$a+$b" }.mkString("|")))
      .orderBy(col("source"))
  }

  /** Multimodal binary-column pipeline — REAL decode on all three
    * kinds (PNG via ImageIO, WAV via javax.sound.sampled, GVID video
    * via frame-sampled ImageIO; byte-fold only for unrecognized
    * payloads): per-kind feature summary. */
  private def multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(t(spark, dir, "documents"))
    val feats = Multimodal.featurize(media).toDF()
    feats.select(col("kind"), col("n_bytes"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("f0")), 4).as("avg_f0"))
      .orderBy(col("kind"))
  }

  /** Observed metrics (`Dataset.observe` + the Observation helper):
    * audit counters collected ON EXECUTORS during the normal pass —
    * zero extra scans, the production shape for per-job data-quality
    * counters (the reference's per-layer profiler counters,
    * /root/reference/simulator/profiler.py:71-166, are harvested
    * during the run the same way). The observed values equal an
    * explicit aggregate by construction (asserted in TelemetrySpec);
    * the pipeline here is a filter+projection whose metrics ride the
    * single scan. */
  private def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation(
      "audit_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val ev = t(spark, dir, "events")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        // coalesce: sum over zero rows (or all-null value) observes
        // NULL — report 0.0 instead of NPE-ing at the unbox below
        coalesce(round(sum(col("value")), 4), lit(0.0)).as("sum_v"))
      .filter(col("value") > 0)
    ev.write.format("noop").mode("overwrite").save() // the observed pass
    val row = obs.get
    import spark.implicits._
    Seq(
      ("n_error", row("n_error").asInstanceOf[Long].toDouble),
      ("n_rows", row("n_rows").asInstanceOf[Long].toDouble),
      ("sum_v", row("sum_v").asInstanceOf[Double]))
      .toDF("metric", "value")
      .orderBy(col("metric"))
  }

  /** Schema-evolution read (`mergeSchema`) — the ingest-drift
    * contract (SURVEY §2.8 gap-fill; the reference pins one model
    * binary layout per version, /root/reference/MODEL_LOADER_GUIDE.md,
    * and has no evolving-table story): batch 2 adds a `quality`
    * column batch 1 lacks, and the merged read surfaces the union
    * schema with nulls for legacy files — no history rewrite. At
    * 100 TB mergeSchema is a footer-union planning cost only; the
    * per-type legacy-row census is asserted in LayoutSpec. */
  private def schemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_schema_merge_$sfName")
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // marker carries a source-data fingerprint: a regenerated events
    // table at the same path rebuilds the stage instead of going stale
    sources.FixtureCache.ensure(stage,
      sources.FixtureCache.fingerprint(s"$dir/events.parquet", "schema_merge_v1")) {
      ev.filter(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(stage.getAbsolutePath)
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("quality", round(col("value") / 10.0, 4))
        .write.mode("append").parquet(stage.getAbsolutePath)
    }
    spark.read.option("mergeSchema", "true").parquet(stage.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_legacy"),
        round(sum(coalesce(col("quality"), lit(0.0))), 4).as("quality_sum"))
      .orderBy(col("event_type"))
  }

  /** Dynamic partition overwrite — the idempotent "restate one day"
    * backfill primitive: events land day-partitioned, then the
    * earliest day is re-written with corrected values (×2) under
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the
    * partitions present in the incoming frame. The read-back census
    * must show the target day doubled and every sibling day
    * untouched (LayoutSpec) — static overwrite would truncate the
    * whole table, and at 100 TB a daily correction that rewrites
    * history is not an option. */
  private def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val stage = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_dyn_overwrite_$sfName")
    val ev = t(spark, dir, "events").select(col("event_id"), col("ts"), col("value"))
    sources.FixtureCache.ensure(stage,
      sources.FixtureCache.fingerprint(s"$dir/events.parquet", "dyn_overwrite_v1")) {
      sources.TableLayout.writeEventsByDay(ev, stage.getAbsolutePath)
      // 1-row bounded collect: the restated day's key
      val day0 = ev.agg(min(to_date(col("ts"))).as("d")).collect()(0).getDate(0)
      ev.withColumn("event_date", to_date(col("ts")))
        .filter(col("event_date") === lit(day0))
        .withColumn("value", col("value") * 2)
        .write.partitionBy("event_date")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .mode("overwrite").parquet(stage.getAbsolutePath)
    }
    spark.read.parquet(stage.getAbsolutePath)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
        col("n"), col("sum_v"))
      .orderBy(col("day"))
  }

  /** MEASURED stream-static enrichment + idempotent partitioned sink
    * — the most common production streaming shape, and the stateless
    * complement of the stream-stream eng_stream_join: a fact stream
    * is joined per micro-batch against a FILE-BACKED dimension
    * snapshot (the static side is re-planned and re-read every
    * batch, so dimension updates land without restarting the query,
    * and — unlike a stream-stream join — enrichment keeps ZERO
    * watermark state; at 100 TB the dim broadcasts per batch while
    * the stream never shuffles). The dim covers only even user_ids,
    * so the left join's miss path is measured too (tier -1). The
    * sink is event_date-partitioned parquet written under dynamic
    * partition overwrite — the idempotent exactly-once contract when
    * the sink is plain parquet rather than a transactional table:
    * re-delivery of a payload REWRITES its date partitions
    * identically instead of appending duplicates (restatement units
    * must align with sink partitions, the same day-aligned contract
    * as eng_partition_overwrite). After the drain, the SAME payload
    * is re-applied in batch mode — simulating at-least-once
    * redelivery — and the per-tier census must match exactly
    * (reapply_identical, spec-asserted). Driver state: O(tiers)
    * census rows; the stream lands on executors and files only. */
  private def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    // file-backed dimension snapshot, built once per SF (the profile
    // table a production pipeline keeps in the lake)
    val dimDir = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_enrich_dim_$sfName")
    sources.FixtureCache.ensure(dimDir,
      sources.FixtureCache.fingerprint(s"$dir/events.parquet", "enrich_dim_v1")) {
      t(spark, dir, "events").select(col("user_id")).distinct()
        .filter(col("user_id") % 2 === 0)
        .withColumn("tier", pmod(col("user_id"), lit(5)).cast("int"))
        .write.mode("overwrite").parquet(dimDir.getAbsolutePath)
    }
    def dim = spark.read.parquet(dimDir.getAbsolutePath)
    def enrich(df: DataFrame): DataFrame = df
      .join(dim, Seq("user_id"), "left")
      .withColumn("tier", coalesce(col("tier"), lit(-1)))
      .withColumn("event_date", to_date(col("ts")))
      .select(col("user_id"), col("event_type"), col("value"),
        col("tier"), col("event_date"))
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val sink = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_enrich_sink_$runId")
    // partition-aligned write: one task owns each date partition, so
    // the sink gets one file per (date, writer wave) instead of
    // tasks × dates small files — the standard anti-small-files
    // recipe, and the same layout a 100 TB daily restatement wants
    def applyBatch(batch: DataFrame): Unit = batch
      .repartition(col("event_date"))
      .write.partitionBy("event_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(sink.getAbsolutePath)
    // bounded collect: one row per tier (≤ 6)
    def census(): Seq[(Int, Long, Long, Long)] =
      spark.read.parquet(sink.getAbsolutePath)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("event_date")).as("n_days"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      enrich(Tables.normalizeTs(spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
          .select(col("ts"), col("user_id"), col("event_type"), col("value")))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => applyBatch(batch) }
        .option("checkpointLocation", scratchCheckpoint(s"enrich_$runId"))
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      val first = census()
      // at-least-once redelivery: the same payload re-applied in
      // batch mode must leave the partitioned sink unchanged
      applyBatch(enrich(t(spark, dir, "events")
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))))
      val second = census()
      val identical = first == second
      first.map { case (tier, n, cents, days) => (tier, n, cents, days, identical) }
        .toDF("tier", "n_events", "value_cents", "n_days", "reapply_identical")
        .orderBy(col("tier"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(s"enrich_$runId")
      // per-run scratch sink; the census rows are already materialized
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(sink)
    }
  }

  /** Streaming checkpoint recovery — the exactly-once restart
    * contract (ref op #35's 1 kHz loop restarting after a power
    * cycle, sim_reflex.py's persistent loop state): a file-source
    * query drains batch 1 (one events copy), STOPS, a second copy
    * lands, and the query restarts FROM THE SAME CHECKPOINT — the
    * source's file log must skip everything batch 1 processed, so
    * run 2 sees exactly the new file and per-type totals come out
    * at precisely 2× one copy (n_first == n_second asserted in
    * StatefulOpsSpec; a recovery failure either reprocesses run 1's
    * file, doubling n_second, or loses it). Counting uses the same
    * executor-side foreachBatch partials as the other replay
    * entries. */
  private def streamRecovery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val stage = new java.io.File(sys.props("java.io.tmpdir"), s"graft_recov_$runId")
    stage.mkdirs()
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    def drain(): Map[String, Long] = {
      val partials = scala.collection.mutable.HashMap.empty[String, Long]
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        Tables.normalizeTs(spark.readStream.schema(schema)
            .parquet(stage.getAbsolutePath))
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.groupBy(col("event_type")).count().collect().foreach { r =>
              val k = r.getString(0)
              partials.synchronized {
                partials(k) = partials.getOrElse(k, 0L) + r.getLong(1)
              }
            }
          }
          // SAME checkpoint across both drains — this is the contract
          // under test (scratchCheckpoint is keyed by the run id)
          .option("checkpointLocation", scratchCheckpoint(s"recov_$runId"))
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      partials.toMap
    }
    try {
      java.nio.file.Files.copy(src, stage.toPath.resolve("part1.parquet"))
      val first = drain()
      java.nio.file.Files.copy(src, stage.toPath.resolve("part2.parquet"))
      val second = drain()
      import spark.implicits._
      // each drain's accumulator is fresh, so `second` holds exactly
      // what run 2 processed: the new file alone iff recovery worked
      // (a failure reprocesses part1 too, doubling n_second)
      (first.keySet ++ second.keySet).toSeq.sorted.map { k =>
        val (a, b) = (first.getOrElse(k, 0L), second.getOrElse(k, 0L))
        (k, a, b, a + b)
      }.toDF("event_type", "n_first", "n_second", "total")
        .orderBy(col("event_type"))
    } finally {
      dropScratchCheckpoint(s"recov_$runId")
      stage.listFiles().foreach(_.delete())
      stage.delete()
    }
  }

  /** MEASURED paced backfill — Trigger.AvailableNow + admission
    * control (`maxFilesPerTrigger`): the catch-up contract for a
    * scheduled incremental job. After downtime, the backlog is many
    * files; an unpaced drain admits ALL of it into one giant
    * micro-batch whose shuffle/state must fit executor memory at
    * once — the restart-after-a-week failure mode at 100 TB. With a
    * file cap, AvailableNow still processes everything and still
    * terminates, but in bounded batches (here 6 backlog files, cap
    * 2 → exactly 3 batches, censused from the query's progress
    * events — the engine's own per-batch ledger, not driver
    * bookkeeping). Totals must equal the batch read exactly —
    * pacing changes batch BOUNDARIES, never results (asserted with
    * the batch spelling in StatefulOpsSpec). Counting uses the same
    * executor-side foreachBatch partials as the other replay
    * entries; the checkpoint is per-run scratch, the backlog a
    * SHARED fingerprint-keyed fixture (FixtureCache — rebuilt only
    * when the source data changes, not per run). Reference
    * analog: the chunked flash reads of the reference's IO layer —
    * fixed-size admission into a bounded buffer, never
    * read-the-whole-backlog (tools/flash_io_benchmark.py's chunked
    * pipeline mode). */
  private def streamBackfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    // backlog fixture: the events table as 6 equal parquet files
    val backlog = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_backlog_$sfName")
    sources.FixtureCache.ensure(backlog,
      sources.FixtureCache.fingerprint(s"$dir/events.parquet", "backfill_v1")) {
      spark.read.parquet(s"$dir/events.parquet")
        .repartition(6)
        .write.mode("overwrite").parquet(backlog.getAbsolutePath)
    }
    val schema = spark.read.parquet(backlog.getAbsolutePath).schema
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val partials = scala.collection.mutable.HashMap.empty[String, Long]
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q = try {
      val query = Tables.normalizeTs(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2")
          .parquet(backlog.getAbsolutePath))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy(col("event_type")).count().collect().foreach { r =>
            val k = r.getString(0)
            partials.synchronized {
              partials(k) = partials.getOrElse(k, 0L) + r.getLong(1)
            }
          }
        }
        .option("checkpointLocation", scratchCheckpoint(s"backfill_$runId"))
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      query
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      dropScratchCheckpoint(s"backfill_$runId")
    }
    // the engine's own ledger: batches that admitted data
    val batches = q.recentProgress.count(_.numInputRows > 0).toLong
    val maxBatchRows = q.recentProgress.map(_.numInputRows).maxOption.getOrElse(0L)
    val total = partials.values.sum
    import spark.implicits._
    partials.toSeq.sortBy(_._1).map { case (k, n) =>
      // paced: exactly ceil(6/2)=3 batches AND the largest batch
      // admitted ~2 of the 6 near-equal files — bounded at 45% of
      // the backlog, so a broken cap (e.g. a 4/1/1 split at 67%)
      // fails the check while the true ~33% passes with slack for
      // repartition rounding
      (k, n, batches, batches == 3L && maxBatchRows * 20 <= total * 9)
    }.toDF("event_type", "n_rows", "n_batches", "paced")
      .orderBy(col("event_type"))
  }

  /** Binary-FILE multimodal ingestion — the at-scale ingest shape:
    * media arrives as OBJECTS in storage, not parquet columns (the
    * reference's binaries-as-files path:
    * /root/reference/tools/binary_packer.py:9 packs payloads to
    * standalone files, /root/reference/tools/flash_io_benchmark.py
    * measures reading them back). The
    * image-kind payloads are materialized once per sf as individual
    * .png files in scratch (an ingest fixture build, excluded from
    * the measured query like BucketedTables.ensureFacts), then read
    * back through Spark's `binaryFile` source (path/length/content
    * rows, partition-parallel) and featurized by the SAME kernel as
    * the column path — the summary must equal the column path's
    * image row (asserted in MultimodalSpec). */
  private def binaryIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixture = Multimodal.ensurePngFixture(t(spark, dir, "documents"), dir)
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(fixture)
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.png", 1).cast("long").as("media_id"),
        lit("image").as("kind"), col("content").as("payload"),
        lit(8).as("width"), lit(8).as("height"))
      .as[Multimodal.MediaRecord]
    Multimodal.featurize(media).toDF()
      .select(col("kind"), col("n_bytes"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("f0")), 4).as("avg_f0"))
      .orderBy(col("kind"))
  }

  /** Causal self-attention over a RoPE-rotated token table built from
    * embeddings (4 sequences × 16 positions) — the composed
    * MatMul→÷√d→Softmax→MatMul graph of the reference's transformer
    * exports (export_bert_tiny.py:7-30, export_tinyllama.py:29-56
    * causal + rotary). Golden-value unit test in AttentionSpec. */
  private def attention(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").filter(col("vec_id") < 64)
      .select((col("vec_id") % 4).as("seq"), (col("vec_id") / lit(4)).cast("int").as("pos"),
        col("embedding"))
    val roped = emb.select(col("seq"), col("pos"),
      VectorFunctions.vecRope(col("embedding"), col("pos")).as("q"),
      VectorFunctions.vecRope(col("embedding"), col("pos")).as("k"),
      col("embedding").as("v"))
    Attention.scaledDotProduct(roped, "seq", "pos", "q", "k", "v", causal = true)
      .select(col("seq"), col("pos"),
        round(element_at(col("attn"), 1), 4).as("a0"),
        round(aggregate(col("attn"), lit(0.0), (s, x) => s + x), 4).as("a_sum"))
      .orderBy(col("seq"), col("pos"))
  }

  /** Full BertTiny encoder block (ref export_bert_tiny.py:33-65)
    * composed from engine operators: LN → chunked q/k/v projections →
    * SDPA → out-proj + residual → LN → FC + GELU + residual. 4
    * sequences × 8 positions of 16-dim slices, seeded literal
    * weights; two shuffles end-to-end (differential-tested against a
    * plain-Scala forward pass in TransformerBlockSpec). */
  private def transformerBlock(spark: SparkSession, dir: String): DataFrame = {
    val dHead = 16
    def w(seed: Int) = Array.tabulate(dHead, dHead)((o, i) =>
      ((o * 7 + i * 13 + seed) % 11 - 5) / 10.0)
    def b(seed: Int) = Array.tabulate(dHead)(o => ((o * 3 + seed) % 7 - 3) / 10.0)
    val tokens = t(spark, dir, "embeddings").filter(col("vec_id") < 32)
      .select((col("vec_id") % 4).as("seq"),
        (col("vec_id") / lit(4)).cast("int").as("pos"),
        VectorFunctions.vecToDouble(slice(col("embedding"), 1, dHead)).as("x"))
    operators.TransformerBlock.bertTinyBlock(tokens, "seq", "pos", "x",
        w(1), b(1), w(2), b(2), w(3), b(3), w(4), b(4), w(5), b(5), causal = true)
      .select(col("seq"), col("pos"),
        round(element_at(col("out"), 1), 4).as("o0"),
        round(aggregate(col("out"), lit(0.0), (s, x) => s + x), 4).as("o_sum"))
      .orderBy(col("seq"), col("pos"))
  }

  /** NanoLlama decoder layer (ref export_tinyllama.py:29-100)
    * composed from engine operators: RMSNorm → bias-free q/k/v →
    * 4-head attention (head split = composite shuffle key) →
    * out-proj + residual → RMSNorm → SwiGLU MLP + residual.
    * Differential-tested in TransformerBlockSpec. */
  private def llamaBlock(spark: SparkSession, dir: String): DataFrame = {
    val (d, hidden, heads) = (16, 24, 4)
    def w(rows: Int, cols: Int, seed: Int) = Array.tabulate(rows, cols)((o, i) =>
      ((o * 7 + i * 13 + seed) % 11 - 5) / 10.0)
    val tokens = t(spark, dir, "embeddings").filter(col("vec_id") < 32)
      .select((col("vec_id") % 4).as("seq"),
        (col("vec_id") / lit(4)).cast("int").as("pos"),
        VectorFunctions.vecToDouble(slice(col("embedding"), 1, d)).as("x"))
    operators.TransformerBlock.llamaBlock(tokens, "seq", "pos", "x", heads,
        w(d, d, 1), w(d, d, 2), w(d, d, 3), w(d, d, 4),
        w(hidden, d, 5), w(hidden, d, 6), w(d, hidden, 7), causal = true)
      .select(col("seq"), col("pos"),
        round(element_at(col("out"), 1), 4).as("o0"),
        round(aggregate(col("out"), lit(0.0), (s, x) => s + x), 4).as("o_sum"))
      .orderBy(col("seq"), col("pos"))
  }

  /** Relational conv2d (ref op #4, stubbed in the reference): 8×8
    * single-channel feature maps unpacked from embeddings, edge-detect
    * 2×2 kernel, per-image output checksum. */
  private def conv2d(spark: SparkSession, dir: String): DataFrame = {
    val maps = t(spark, dir, "embeddings").filter(col("vec_id") < 256)
      .select(col("vec_id").as("img_id"), lit(0).as("c"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("img_id"), col("c"),
        (col("pos") / 8).cast("int").as("y"), (col("pos") % 8).as("x"),
        col("v").cast("double").as("v"))
    val kernel = operators.Conv2d.kernelTable(spark,
      Array(Array(Array(Array(1.0, 0.0), Array(0.0, -1.0)))))
    operators.Conv2d.conv2dValid(maps, kernel, height = 8, width = 8, kh = 2, kw = 2)
      .groupBy(col("img_id"))
      .agg(count(lit(1)).as("n_out"),
        round(sum(abs(col("v"))), 4).as("edge_energy"))
      .orderBy(col("img_id"))
  }

  /** Star join over the bucket-aligned fact tables (qj1-class work,
    * measured WITHOUT the lineitem⋈orders shuffle): both facts are
    * bucketed+sorted on orderkey, so the join is a zero-exchange
    * sort-merge — the write-time amortization that wins at 100 TB.
    * The one-time bucketed write happens in ensureFacts (pre-built in
    * Bench warm-up, lazily on first use elsewhere). Plan asserted
    * no-exchange in BucketedTablesSpec. */
  private def bucketedStar(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.BucketedTables.ensureFacts(spark, dir)
    spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Telemetry logger round-trip (ref tools/ai_feedback.py:78-151):
    * two batches of runtime samples appended as JSONL, then the
    * get_statistics aggregation over the log directory. Fresh temp
    * dir per invocation (append sink), deleted after the one-row
    * stats result is materialized — repeated invocations leave no
    * tmpdir garbage. The stats output depends only on the events
    * table, so the result is deterministic. */
  private def telemetry(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_telemetry")
    // bounded sample: the operator contract (append batches, re-read,
    // aggregate) is exercised end to end; logging the whole events
    // table would just bench JSON serialization volume
    val ev = t(spark, dir, "events")
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    Telemetry.logBatch(ev.filter(col("event_id") % 2 === 0), tmp.toString, 0)
    Telemetry.logBatch(ev.filter(col("event_id") % 2 === 1), tmp.toString, 1)
    // the writer's schema is known, so skip json()'s inference pass
    val logSchema = ev.schema.add("batch_id", org.apache.spark.sql.types.LongType)
    val out = Checkpoints.truncate(
      Telemetry.stats(spark, tmp.toString, schema = Some(logSchema)))
    deleteRecursively(tmp)
    out
  }

  /** Parquet codec exercise (ref §2.3: LZ4 decompressor, codec
    * dispatch and chunked transfer map to parquet codec config;
    * /root/reference/tools/flash_io_benchmark.py:19-74 analog): write
    * a bounded events slice under each codec, read it back, verify
    * the round-trip via an order-independent checksum, report the
    * compressed footprint. coalesce(1) fixes the file layout so sizes
    * are deterministic; checksum is bit_xor of row hashes (sum would
    * overflow under ANSI). */
  /** The shared round-trip fixture: a deterministic events slice and
    * its order-independent checksum (count, xor'd row hash, value
    * sum) — one definition so the codec and source round-trips can
    * never silently diverge. */
  private def eventsSlice(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .coalesce(1)

  private def checksum(df: DataFrame): (Long, Long, Double) = {
    val agg = df.agg(
      count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(event_id, event_type))").as("h"),
      round(sum(col("value")), 4).as("s")).head()
    (agg.getLong(0), agg.getLong(1), agg.getDouble(2))
  }

  private def codecRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_codec")
    try {
      val slice = eventsSlice(spark, dir)
      val rows = Seq("gzip", "lz4", "snappy", "zstd").map { codec =>
        val path = s"$tmp/$codec"
        slice.write.option("compression", codec).mode("overwrite").parquet(path)
        val (n, h, s) = checksum(spark.read.parquet(path))
        (codec, n, h, s,
          walkTree(java.nio.file.Paths.get(path))(_
            .filter(p => p.toString.endsWith(".parquet"))
            .map(java.nio.file.Files.size).sum) / 1024)
      }
      rows.toDF("codec", "n_rows", "row_hash", "sum_v", "size_kb")
        .orderBy(col("codec"))
    } finally deleteRecursively(tmp)
  }

  /** Source-format breadth beside codecRoundtrip's parquet codecs:
    * the same slice written and re-read as JSON lines, CSV (header),
    * XML (the Spark-4 built-in source — legacy-feed ingest), parquet
    * and ORC, with an order-independent checksum proving the
    * round-trip is lossless per format. Schemas are passed explicitly
    * on read — the schema-inference pass a naive reader pays would
    * double the scan at 100 TB (same note as Telemetry.stats). */
  private def sourceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sources")
    try {
      val slice = eventsSlice(spark, dir)
      val schema = slice.schema
      def opts(fmt: String): Map[String, String] = fmt match {
        case "csv" => Map("header" -> "true")
        case "xml" => Map("rowTag" -> "row")
        case _ => Map.empty
      }
      val rows = Seq("json", "csv", "xml", "parquet", "orc").map { fmt =>
        val path = s"$tmp/$fmt"
        slice.write.mode("overwrite").format(fmt)
          .options(opts(fmt)).save(path)
        val back = spark.read.schema(schema).format(fmt)
          .options(opts(fmt)).load(path)
        val (n, h, s) = checksum(back)
        (fmt, n, h, s)
      }
      val (bn, bh, bs) = checksum(slice)
      (rows :+ (("source", bn, bh, bs)))
        .toDF("format", "n_rows", "row_hash", "sum_v")
        .orderBy(col("format"))
    } finally deleteRecursively(tmp)
  }

  /** MEASURED small-file compaction (TableLayout.compact): the events
    * table deliberately fragmented into 64 tiny files (the simulated
    * streaming-ingest aftermath), then bin-packed to 256 KB targets.
    * The order-independent checksum before == after proves the
    * rewrite lossless; the file counts prove the packing. The rewrite
    * itself is a shuffle-free coalesce — see TableLayout.compact's
    * scale note. Fragmentation uses an explicit repartition(64), so
    * the result is invariant to the session's shuffle width. */
  private def compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
    try {
      val frag = s"$tmp/frag"
      t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
      val (bn, bh, bs) = checksum(spark.read.parquet(frag))
      val (nIn, nOut) =
        sources.TableLayout.compact(spark, frag, s"$tmp/packed", 256L << 10)
      val (an, ah, as2) = checksum(spark.read.parquet(s"$tmp/packed"))
      Seq(("fragmented", nIn, bn, bh, bs), ("compacted", nOut, an, ah, as2))
        .toDF("stage", "n_files", "n_rows", "row_hash", "sum_v")
        .orderBy(col("stage"))
    } finally deleteRecursively(tmp)
  }

  /** MEASURED multi-dimensional data-skipping comparison
    * (TableLayout.writeEventsZOrdered): the same events table written
    * (a) Z-ordered on (user, hour-of-month) and (b) time-sorted, then
    * scanned with a user-only and a time-only predicate.
    * `rows_scanned` is the parquet reader's output AFTER row-group
    * skipping (scan-node metric, fetched post-action): the Z layout
    * skips on BOTH dimensions while the time-sorted layout can skip
    * only time — the scan-side proof that write-time clustering, not
    * an index, is what makes selective predicates cheap at 100 TB.
    * The matching rows per predicate are bounded (one user / two
    * days), so the driver-side collect is a small, documented probe;
    * hit counts and value sums are asserted equal across layouts in
    * LayoutSpec. */
  /** One-time layout build per (session, dir) — an INDEX BUILD, the
    * same class as BucketedTables.ensureFacts (which Bench excludes
    * from measurement via warm-up): the measured entry times the
    * SCANS against the layouts, which is the property being claimed. */
  private val zorderLayouts = new SessionMemo[String]
  private def ensureZorderLayouts(spark: SparkSession, dir: String): String =
    zorderLayouts(spark, dir) {
      val tmp = ScratchDir.create("graft_zorder")
      val ev = t(spark, dir, "events")
      sources.TableLayout.writeEventsZOrdered(ev, s"$tmp/zorder")
      // deterministic day buckets, not repartitionByRange (sampled
      // bounds drift across sessions — see writeEventsZOrdered)
      ev.withColumn("_day", dayofmonth(col("ts")))
        .repartition(32, col("_day"))
        .sortWithinPartitions("_day", "ts")
        .drop("_day")
        .write.option("compression", "zstd").mode("overwrite")
        .parquet(s"$tmp/linear")
      tmp.toString
    }

  private def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = ensureZorderLayouts(spark, dir)
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "user_eq" -> (col("user_id") === 5),
      "time_range" -> (col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-12").cast("timestamp") && col("user_id") < 50))
    val rows = for ((layout, pn) <- Seq("linear", "zorder").flatMap(l => preds.map(l -> _)))
      yield {
        val (predName, pred) = pn
        // count/sum are computed as an executor-side aggregate — only
        // the 1-row (n, s) result crosses to the driver, so a hit set
        // 100× larger changes nothing here; rows_scanned still reads
        // the scan node's post-skip output metric from the same
        // executed plan.
        val agg = spark.read.parquet(s"$tmp/$layout").filter(pred)
          .agg(count(lit(1)).as("n"),
            round(coalesce(sum(coalesce(col("value"), lit(0.0))), lit(0.0)), 2).as("s"))
        // collect() (not head()) so the metrics we read belong to the
        // plan that actually ran — head() would execute a separate
        // limit plan and leave this one's scan counters at 0
        val head = agg.collect().head
        (layout, predName, head.getLong(0), head.getDouble(1), scanOutputRows(agg))
      }
    rows.toDF("layout", "predicate", "n_hits", "sum_v", "rows_scanned")
      .orderBy(col("layout"), col("predicate"))
  }

  /** Sum of a scan-node metric over an ALREADY-EXECUTED DataFrame.
    * "numOutputRows": rows the parquet reader actually produced after
    * row-group min/max skipping (the residual Filter runs above the
    * scan, so this isolates IO-side pruning). "numFiles": files the
    * scan read AFTER partition pruning — the directory-skipping
    * census. */
  private def scanMetricSum(df: DataFrame, metric: String): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    flattenExecuted(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.metrics(metric).value }.sum
  }
  private def scanOutputRows(df: DataFrame): Long = scanMetricSum(df, "numOutputRows")

  /** MEASURED IVF partition pruning — the proof of ivfTopK's "at
    * 100 TB the cell is a partition column" claim, in the same scan-
    * metric discipline as eng_zorder_scan: the embeddings corpus is
    * written once per (session, dir) physically partitioned by IVF
    * cell (SimilaritySearch.writeIvfPartitioned — an INDEX BUILD, the
    * zorderLayouts class), then the same top-k cosine query runs (a)
    * over all cells and (b) filtered to the probe's nProbe best
    * cells. `n_files` is the scan's post-partition-pruning file count
    * and `rows_scanned` the reader's output rows: the pruned variant
    * must read only nProbe of nCells directories — file skipping
    * before any IO, asserted in LayoutSpec. */
  private val ivfLayouts = new SessionMemo[(String, Array[Array[Double]])]
  private def ensureIvfLayout(spark: SparkSession, dir: String)
      : (String, Array[Array[Double]]) =
    ivfLayouts(spark, dir) {
      val emb = t(spark, dir, "embeddings")
      val centroids =
        SimilaritySearch.sampledCodebook(emb, "vec_id", "embedding", 16)
      val tmp = ScratchDir.create("graft_ivf")
      SimilaritySearch.writeIvfPartitioned(
        emb, "vec_id", "embedding", centroids, s"$tmp/cells")
      (s"$tmp/cells", centroids)
    }

  private def ivfPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (path, centroids) = ensureIvfLayout(spark, dir)
    val probe = probeVec(spark, dir)
    val cells = SimilaritySearch.probeCells(centroids, probe, nProbe = 4)
    val probeCol = array(probe.map(f => lit(f.toDouble)): _*)
    val rows = Seq(
      "full" -> spark.read.parquet(path),
      "pruned" -> spark.read.parquet(path)
        .filter(col("cell").isin(cells.map(_.asInstanceOf[Any]): _*))
    ).map { case (variant, base) =>
      val topk = base.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          VectorFunctions.vecCosine(col("embedding"), probeCol).as("cosine"))
        .orderBy(col("cosine").desc_nulls_last, col("vec_id").asc)
        .limit(10)
      // collect() (not head()) so the metrics belong to the executed plan
      val top = topk.collect()
      (variant, scanMetricSum(topk, "numFiles"), scanOutputRows(topk),
        top.head.getLong(0), math.rint(top.head.getDouble(1) * 1e4) / 1e4)
    }
    rows.toDF("variant", "n_files", "rows_scanned", "top1_id", "top1_cosine")
      .orderBy(col("variant"))
  }

  /** MEASURED dynamic partition pruning (DPP) — the third member of
    * the scan-pruning proof family (eng_zorder_scan: row-group
    * min/max skipping; eng_ivf_pruned_scan: static partition
    * pruning): events written day-partitioned
    * (TableLayout.writeEventsByDay, an index build cached per
    * (session, dir)), then joined against a SMALL dim frame whose
    * filter only resolves at runtime — Spark's DPP turns the
    * broadcast dim into a runtime partition filter on the fact scan,
    * so only the dim's surviving days are read at all. At 100 TB this
    * is THE mechanism that keeps star joins over partitioned facts
    * from scanning the full table; `n_files` (post-pruning file
    * census) is the proof, asserted in LayoutSpec. The dim is written
    * as parquet (not a LocalRelation) so the optimizer cannot
    * constant-fold the filter into a static predicate. */
  private val dppLayouts = new SessionMemo[String]
  private def ensureDppLayout(spark: SparkSession, dir: String): String =
    dppLayouts(spark, dir) {
      val tmp = ScratchDir.create("graft_dpp")
      sources.TableLayout.writeEventsByDay(t(spark, dir, "events"), s"$tmp/facts")
      // dim: every event day tagged; 3 days carry the 'pick' tag the
      // query filters on — the runtime-only pruning predicate
      t(spark, dir, "events")
        .select(to_date(col("ts")).as("event_date")).distinct()
        .withColumn("tag",
          when(dayofmonth(col("event_date")) % 10 === 3, lit("pick"))
            .otherwise(lit("skip")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/dim")
      tmp.toString
    }

  private def dppScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = ensureDppLayout(spark, dir)
    val facts = spark.read.parquet(s"$tmp/facts")
    val dim = spark.read.parquet(s"$tmp/dim")
    val rows = Seq(
      "full" -> facts.join(dim, Seq("event_date")),
      "dpp" -> facts.join(dim.filter(col("tag") === "pick"), Seq("event_date"))
    ).map { case (variant, joined) =>
      val agg = joined.agg(count(lit(1)).as("n"),
        round(coalesce(sum(col("value")), lit(0.0)), 2).as("s"))
      val head = agg.collect().head
      (variant, scanMetricSum(agg, "numFiles"), scanOutputRows(agg),
        head.getLong(0), head.getDouble(1))
    }
    rows.toDF("variant", "n_files", "rows_scanned", "n_hits", "sum_v")
      .orderBy(col("variant"))
  }

  /** MEASURED runtime Bloom-filter join pruning (InjectRuntimeFilter)
    * — the ROW-level member of the scan-pruning proof family
    * (eng_zorder_scan: row-group min/max skipping; eng_ivf_pruned_
    * scan: static partition pruning; eng_dpp_scan: dynamic partition
    * pruning). When NEITHER join side broadcasts (the 100 TB star
    * shape: fact and dim both shuffle), the only early pruning left
    * is Catalyst injecting a Bloom filter built from the dim's
    * selective filter into the fact side — fact rows that cannot
    * match are dropped BEFORE the shuffle instead of being exchanged
    * and discarded by the join. Stage "1_filter_off" disables the
    * rule: every fact row is shuffled. Stage "2_bloom_injected"
    * enables it: the optimized plan carries a might_contain(
    * bloom_filter_agg) predicate on the fact side, and the injected
    * FilterExec's numOutputRows metric — deterministic, since the
    * Bloom bit-array is an order-independent OR-merge over
    * xxhash64 — measures the rows that actually reached the
    * shuffle. Results are identical by construction (a Bloom filter
    * admits all true matches); the row census quantifies the saved
    * exchange. The two size thresholds are conf'd to make the small
    * bench fact eligible; at 100 TB the defaults (creation side
    * < 10 MB, application scan > 10 GB) gate the rule onto exactly
    * this shape. LayoutSpec asserts injection, equality, and the
    * pruning ratio. */
  private def runtimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      // both sides too big to broadcast (forced here; true at 100 TB)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the bench fact is far under the 10 GB production gate
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = t(spark, dir, "lineitem")
      val fullFact = li.count()
      def dim = t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      def probe(): DataFrame = li
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("join_rows"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      def hasBloom(df: DataFrame): Boolean = {
        val s = df.queryExecution.optimizedPlan.toString.toLowerCase
        s.contains("might_contain") || s.contains("bloomfilter")
      }
      // rows surviving the injected bloom predicate, read from the
      // executed plan's FilterExec metric (AQE-aware traversal, the
      // scanMetricSum discipline)
      def bloomOutputRows(df: DataFrame): Long = {
        import org.apache.spark.sql.execution.FilterExec
        flattenExecuted(df.queryExecution.executedPlan).collect {
          case f: FilterExec
            if f.condition.toString.toLowerCase.contains("might_contain") => f
        } match {
          case Seq() => -1L
          case fs => fs.map(_.metrics("numOutputRows").value).sum
        }
      }

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val p1 = probe()
      val b1 = hasBloom(p1)
      val r1 = p1.collect()(0)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      val p2 = probe()
      val b2 = hasBloom(p2)
      val r2 = p2.collect()(0)
      val pruned = bloomOutputRows(p2)

      Seq(
        ("1_filter_off", b1, fullFact, r1.getLong(0), r1.getLong(1)),
        ("2_bloom_injected", b2, pruned, r2.getLong(0), r2.getLong(1)))
        .toDF("stage", "bloom_in_plan", "fact_rows_to_join",
          "join_rows", "revenue_cents")
        .orderBy(col("stage"))
    } finally
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** MEASURED AQE skew-join splitting (OptimizeSkewedJoin) — the
    * runtime member of the skew-mitigation pair beside the explicit
    * salting entries (eng_salted_agg / eng_salted_join handle skew
    * the planner can see up front; this entry handles skew that only
    * shows up in runtime shuffle statistics, which at 100 TB is the
    * common case: a hub customer, a null-heavy key, yesterday's hot
    * partition). The fact side maps ~97% of lineitem rows onto ONE
    * join key, so a plain sort-merge join lands ~97% of the bytes on
    * a single reducer — the straggler that decides wall-clock time.
    * Stage "1_skew_off" disables the rule and measures that no
    * skew repair happened; stage "2_skew_split" enables it:
    * OptimizeSkewedJoin reads the map-output sizes AFTER the
    * exchange materializes, slices the oversized partition into
    * byte-bounded sub-reads and re-reads the matching dim partition
    * once per slice. The AQEShuffleReadExec's numSkewedPartitions /
    * numSkewedSplits metrics measure the repair; the goldened
    * columns keep only the deterministic facts (detection boolean +
    * identical join results — split COUNTS depend on runtime byte
    * sizes, so the spec asserts them > 0 instead of goldening them).
    * The thresholds are conf'd down so the KB-scale bench partition
    * is "oversized"; at 100 TB the defaults (256 MB / 5× median)
    * gate the rule onto exactly this shape. Splitting is a physical
    * re-read — join semantics are unchanged, so both stages return
    * identical aggregates by construction. Downstream of the join
    * the entry aggregates globally: OptimizeSkewedJoin declines to
    * split when the join's output partitioning feeds a downstream
    * requirement, and a global aggregate imposes none.
    * Reference analog: runtime repartitioning by measured cost in
    * mlir_compiler/partitioner.py:84-87 (placement chosen from
    * measured sizes, not static estimates). LayoutSpec asserts
    * detection, split counts and equality. */
  private def aqeSkew(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confKeys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      // both sides exceed broadcast (forced here; true at 100 TB)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // the KB-scale bench hot partition must register as skewed
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // ~97% of fact rows collapse onto join key 0 (the hub). The
      // spread repartition exists because skew splits are MAPPER-
      // RANGE slices of the reduce partition: the bench table is one
      // parquet row group = one map task, which leaves nothing to
      // slice — at 100 TB the scan has thousands of mappers and the
      // pre-spread is the natural state, not an extra exchange.
      val fact = t(spark, dir, "lineitem")
        .repartition(24, col("l_orderkey"), col("l_linenumber"))
        .withColumn("cust_key",
          when(pmod(col("l_orderkey"), lit(100)) < 97, lit(0L))
            .otherwise(pmod(col("l_orderkey"), lit(100)).cast("long")))
      val dim = spark.range(0, 100).select(col("id").as("cust_key"),
        (col("id") * 7 % 13 + 1).as("tier"))
      def probe(): DataFrame = fact
        .join(dim, "cust_key")
        .agg(count(lit(1)).as("join_rows"),
          sum(round(col("l_extendedprice") * col("tier") * 100).cast("long"))
            .as("weighted_cents"))
      // skew-repair census from the executed plan's AQE shuffle reads
      def skewStats(df: DataFrame): (Long, Long) = {
        import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
        val reads = flattenExecuted(df.queryExecution.executedPlan)
          .collect { case r: AQEShuffleReadExec => r }
        def m(name: String) =
          reads.flatMap(_.metrics.get(name)).map(_.value).sum
        (m("numSkewedPartitions"), m("numSkewedSplits"))
      }

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val p1 = probe()
      val r1 = p1.collect()(0)
      val (sk1, sp1) = skewStats(p1)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val p2 = probe()
      val r2 = p2.collect()(0)
      val (sk2, sp2) = skewStats(p2)

      Seq(
        ("1_skew_off", sk1 > 0, sp1 > 0, r1.getLong(0), r1.getLong(1)),
        ("2_skew_split", sk2 > 0, sp2 > 0, r2.getLong(0), r2.getLong(1)))
        .toDF("stage", "skew_detected", "splits_applied",
          "join_rows", "weighted_cents")
        .orderBy(col("stage"))
    } finally
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** MEASURED exchange reuse — the last member of the
    * don't-repeat-work proof family (eng_dpp_scan prunes partitions,
    * eng_runtime_filter prunes rows, eng_aqe_skew repairs the
    * shuffle; this entry avoids RUNNING a shuffle twice). Self-
    * comparative analytics — share-of-total, pct-of-max, "above
    * average" — reference the same aggregate twice: once as the
    * per-key relation, once reduced to the global figure it is
    * compared against. Naively that scans and shuffles 100 TB twice;
    * Catalyst's ReuseExchange rule (and AQE's stage cache) detects
    * the identical exchange subtree and materializes it ONCE, the
    * second consumer reading the same shuffle files. Stage
    * "1_reuse_off" disables the rule (spark.sql.exchange.reuse):
    * the per-supplier aggregate's exchange appears twice in the
    * executed plan and both execute. Stage "2_reuse_on" re-runs the
    * same share-of-total query: the executed plan replaces the
    * duplicate with a ReusedExchangeExec. Both plan-census counts
    * are goldened — the plan is a pure function of (query, confs,
    * SF) here, so the census is as deterministic as the result
    * rows. Results identical by construction. LayoutSpec asserts
    * reuse-on executes strictly fewer exchanges and at least one
    * ReusedExchangeExec, with equal results. */
  private def exchangeReuse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = "spark.sql.exchange.reuse"
    val saved = spark.conf.getOption(key)
    try {
      // per-supplier revenue, referenced twice (rows AND total)
      def census(df: DataFrame): (Long, Long) = {
        import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
        val nodes = flattenExecuted(df.queryExecution.executedPlan)
        (nodes.count { case _: ReusedExchangeExec => false; case _: Exchange => true; case _ => false }.toLong,
          nodes.count(_.isInstanceOf[ReusedExchangeExec]).toLong)
      }
      def probe(): (DataFrame, (Long, Long), org.apache.spark.sql.Row) = {
        val per = t(spark, dir, "lineitem").groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("rev_cents"))
        val total = per.agg(sum(col("rev_cents")).as("total_cents"))
        // suppliers holding >= 1% of total revenue (1-row stat side)
        val df = per.crossJoin(total)
          .filter(col("rev_cents") * 100 >= col("total_cents"))
          .agg(count(lit(1)).as("n_major"),
            coalesce(sum(col("rev_cents")), lit(0L)).as("major_cents"),
            coalesce(max(col("total_cents")), lit(0L)).as("total_cents"))
        val row = df.collect()(0)
        (df, census(df), row)
      }
      spark.conf.set(key, "false")
      val (_, (e1, r1), row1) = probe()
      spark.conf.set(key, "true")
      val (_, (e2, r2), row2) = probe()
      Seq(
        ("1_reuse_off", e1, r1, row1.getLong(0), row1.getLong(1), row1.getLong(2)),
        ("2_reuse_on", e2, r2, row2.getLong(0), row2.getLong(1), row2.getLong(2)))
        .toDF("stage", "n_exchanges", "n_reused",
          "n_major", "major_cents", "total_cents")
        .orderBy(col("stage"))
    } finally
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** SQL UDFs (CREATE FUNCTION ... RETURN, Spark 4) with PROVEN
    * inlining — the Hive-UDF migration surface: a warehouse user's
    * first instinct is to port Java/Hive UDFs one-to-one, and every
    * JVM UDF is an opaque ScalaUDF boundary that breaks whole-stage
    * codegen on the hot path (this repo's own discipline: every hot
    * lambda is a codegen'd Catalyst expression). A SQL UDF instead
    * INLINES at analysis time — the body lands in the optimized plan
    * as ordinary expressions, so the 100 TB scan keeps one codegen
    * pipeline. Stage columns measure exactly that: `inlined` is true
    * iff the optimized plan carries the body's CASE with NO ScalaUDF
    * node; `matches_direct` asserts the UDF spelling equals the
    * hand-inlined spelling row-for-row. A parameterized TABLE
    * function (RETURNS TABLE) covers the view-with-arguments shape
    * (tvf_rows == the direct filter count). Reference analog: the
    * ONNX compiler inlines composite ops into one fused kernel
    * rather than calling out per op (optimizer.py:126-218) — same
    * reason, keep the compiled pipeline unbroken. */
  private def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events")
    ev.createOrReplaceTempView("graft_sqludf_events")
    try {
      spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_seg(v DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN v < 10 THEN 'low' WHEN v < 100 THEN 'mid' ELSE 'high' END""")
      spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_hot(cut DOUBLE)
        RETURNS TABLE(user_id BIGINT, value DOUBLE)
        RETURN SELECT user_id, value FROM graft_sqludf_events WHERE value > cut""")
      val viaUdf = spark.sql("""
        SELECT graft_seg(value) AS segment, count(*) AS n_events,
               sum(CAST(round(value * 100) AS BIGINT)) AS value_cents
        FROM graft_sqludf_events GROUP BY 1""")
      val plan = viaUdf.queryExecution.optimizedPlan.toString
      val inlined = plan.contains("CASE WHEN") && !plan.contains("ScalaUDF")
      val direct = ev.groupBy(
          when(col("value") < 10, "low").when(col("value") < 100, "mid")
            .otherwise("high").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
      def keyed(df: DataFrame): Map[String, (Long, Long)] = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val (u, d) = (keyed(viaUdf), keyed(direct))
      val matches = u == d
      // parameterized table function vs the direct spelling
      val cut = 50.0
      val tvfRows = spark.sql(s"SELECT count(*) AS n FROM graft_hot($cut)")
        .collect()(0).getLong(0)
      val directRows = ev.filter(col("value") > cut).count()
      u.toSeq.sortBy(_._1).map { case (seg, (n, cents)) =>
        (seg, n, cents, inlined, matches, tvfRows, tvfRows == directRows)
      }.toDF("segment", "n_events", "value_cents", "inlined",
          "matches_direct", "tvf_rows", "tvf_matches")
        .orderBy(col("segment"))
    } finally {
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_seg")
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_hot")
      spark.catalog.dropTempView("graft_sqludf_events")
    }
  }

  /** MEASURED DataSource V2 connector (sources/GraftLogSource) — the
    * extension surface for data that does NOT already live in a
    * Spark-native format: instead of pre-converting by hand, the
    * `graft-log` source teaches the planner the format and proves
    * every DSv2 optimization hook end-to-end. Reference analog: the
    * flash/sensor ingest layer reads the chip's own record stream
    * directly (raw format + register framing) rather than staging
    * through a columnar store.
    *
    * Fixture: the events table rendered as 8 value-bucketed TSV
    * `.glog` files whose names carry the bucket's exact [min,max]
    * value range as IEEE-754 bits — a zone map in the directory
    * listing (clustering by the hot filter column is the operator's
    * documented layout contract, exactly eng_zorder_scan's).
    *
    * Three measured stages, every number read from the engine:
    *  - `1_full` (option pushdown=false): all 8 files planned, all 6
    *    columns parsed, readers emit every row — the foil.
    *  - `2_pushed`: the SAME query with pushdown on. Planning keeps
    *    only the files whose zone map intersects `value >= cut`
    *    (files_kept census from the source's driver-side planning
    *    hook), readers parse only the 3 referenced columns
    *    (cols_read) and evaluate the pushed predicates before rows
    *    reach Spark — rows_emitted comes from the connector's DSv2
    *    CustomSumMetric (`rowsEmitted` on the BatchScanExec), the
    *    same channel the SQL UI reads, valid on a real cluster.
    *  - `3_limit`: SupportsPushDownLimit — `LIMIT 5` caps every
    *    reader instead of draining the scan (`limit_capped`; the
    *    exact emitted count races with early task termination by
    *    design, so the census is the bound, not the count).
    *  - `4_writeback`: the WRITE path — the filtered subset flows
    *    back out through the connector's DSv2 task-commit protocol
    *    (invisible `.inprogress` temps, job-commit rename to
    *    zone-map-named files, SaveMode.Overwrite via
    *    SupportsTruncate) and must survive a full round-trip; `ok`
    *    additionally requires every committed file to carry pruning
    *    bounds in its name.
    *  - `5_dml`: SQL DELETE through the catalog on a per-run scratch
    *    copy, with a predicate (value ≥ the 4.5/8 boundary) that
    *    exercises all three file behaviors at once: zone-proven
    *    unaffected files stay byte-untouched, fully-covered files
    *    drop whole without being opened, the straddling file
    *    rewrites in place (atomic same-name swap; bounds stay a
    *    sound superset). Survivor count pinned to the parquet
    *    spelling.
    * `matches_parquet` pins stages 1/2 to the identical aggregate
    * over the parquet spelling — pushdown is an optimization, never
    * a correctness dependency (pushed filters stay residual, Spark
    * re-checks them post-scan, parquet's own discipline).
    * Cut sits exactly on bucket boundary 5/8 of the value range, so
    * zone-map pruning must drop exactly the 5 low buckets. */
  /** Stage (once per tmpdir+sf, fixture-cached) the events table as
    * 8 value-bucketed `.glog` files with zone-map names — the shared
    * fixture behind eng_dsv2_source and eng_dsv2_runtime_filter.
    * Returns (stage dir, value min, value max). */
  private val glogFixtureBounds = new SessionMemo[(Double, Double)]
  private def ensureGlogFixture(spark: SparkSession, dir: String)
      : (java.io.File, Double, Double) = {
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val stage = new java.io.File(sys.props("java.io.tmpdir"), s"graft_glog_$sfName")
    val ev = t(spark, dir, "events")
    // bounded 1-row collect, ONCE per (session, dir): the value range
    // that defines the bucket zone maps (and the stage-2 cut, pinned
    // to a boundary) — three entries share this fixture and must not
    // each re-aggregate it
    val (vMin, vMax) = glogFixtureBounds(spark, dir) {
      val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
      (mm.getDouble(0), mm.getDouble(1))
    }
    sources.FixtureCache.ensure(stage,
      sources.FixtureCache.fingerprint(s"$dir/events.parquet", "glog_v1")) {
      val tmp = new java.io.File(stage, "_tsv")
      // the line format reserves TAB/newline — same loud rejection as
      // the connector's own writer, instead of a corrupt fixture
      val nReserved = ev.filter(
        col("event_type").rlike("[\\t\\n\\r]") || col("props").rlike("[\\t\\n\\r]"))
        .count()
      require(nReserved == 0,
        s"$nReserved events rows carry reserved TAB/newline characters")
      val bucketed = ev
        .withColumn("bucket",
          least(lit(7), floor((col("value") - vMin) / ((vMax - vMin) / 8.0))
            .cast("int")))
        .withColumn("line", concat_ws("\t",
          col("event_id"), unix_micros(col("ts")),
          col("user_id"), col("event_type"),
          col("value").cast("string"), col("props")))
        .persist() // one-pass build: the write and the bounds
                   // aggregation below share the scan
      bucketed.select(col("bucket"), col("line"))
        .repartition(8, col("bucket"))
        .sortWithinPartitions(col("bucket"), col("line"))
        .write.partitionBy("bucket").mode("overwrite")
        .text(tmp.getAbsolutePath)
      // exact per-bucket value bounds: 8-row bounded collect
      val bounds = bucketed.groupBy(col("bucket"))
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
        .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      bucketed.unpersist(): Unit
      var seq = 0
      bounds.keys.toSeq.sorted.foreach { b =>
        val (mn, mx) = bounds(b)
        val parts = Option(new java.io.File(tmp, s"bucket=$b").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
          .sortBy(_.getName)
        parts.foreach { p =>
          val target = new java.io.File(stage,
            sources.GraftLogSource.fileName(seq, mn, mx))
          require(p.renameTo(target), s"rename $p -> $target failed")
          seq += 1
        }
      }
      deleteRecursively(tmp.toPath)
    }
    (stage, vMin, vMax)
  }

  private def dsv2Source(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val (stage, vMin, vMax) = ensureGlogFixture(spark, dir)
    val ev = t(spark, dir, "events")

    def glog(pushdown: Boolean): DataFrame = spark.read
      .format("graft.sources.GraftLogSource")
      .option("path", stage.getAbsolutePath)
      .option("pushdown", pushdown.toString)
      .load()
    // stage-2 cut: exactly bucket boundary 5/8 — prunes 5 low files
    val cut = vMin + (vMax - vMin) * 5.0 / 8.0
    def q(src: DataFrame): DataFrame = src
      .filter(col("event_type") === "purchase" && col("value") >= cut)
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        approx_count_distinct(col("user_id")).as("nu"))
    def rowsEmitted(df: DataFrame): Long =
      flattenExecuted(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec =>
          b.metrics.get("rowsEmitted").map(_.value).getOrElse(0L)
      }.sum
    def census(): (Int, Int, Int) =
      sources.GraftLogSource.planCensus.get(stage.getAbsolutePath)

    val oracleRow = q(ev).collect()(0)
    def run(pushdown: Boolean): (Long, (Int, Int, Int), Boolean) = {
      val df = q(glog(pushdown))
      val row = df.collect()(0)
      (rowsEmitted(df), census(),
        row.getLong(0) == oracleRow.getLong(0) &&
          row.getLong(1) == oracleRow.getLong(1) &&
          row.getLong(2) == oracleRow.getLong(2))
    }
    val (rows1, (tot1, kept1, cols1), ok1) = run(pushdown = false)
    val (rows2, (tot2, kept2, cols2), ok2) = run(pushdown = true)
    // stage 3: pushed LIMIT caps the readers
    val lim = glog(pushdown = true).select(col("event_id")).limit(5)
    val nLim = lim.collect().length.toLong
    val (_, keptL, colsL) = census()
    val limCapped = rowsEmitted(lim) <= 5L * keptL

    // stage 4: the WRITE path — task-commit protocol, zone-map-named
    // committed files, SaveMode.Overwrite via SupportsTruncate; the
    // written subset must survive a full connector round-trip
    val sink = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_sink_$sfName")
    glog(pushdown = true)
      .filter(col("event_type") === "purchase" && col("value") >= cut)
      .write.format("graft.sources.GraftLogSource")
      .option("path", sink.getAbsolutePath)
      .mode("overwrite").save()
    // census the LIVE generation via the manifest: overwrite is
    // metadata-only, so earlier passes' displaced files legitimately
    // linger on disk as snapshot orphans until vacuum — a raw listing
    // would over-count (and drift run-to-run)
    val sinkFiles = sources.GraftLogSource.listCommitted(
      new org.apache.hadoop.fs.Path(sink.getAbsolutePath),
      sources.GraftLogSource.driverHadoopConf(), Seq.empty)
      ._1.map(_.getPath.getName)
    // every committed file is zone-map named; no temp residue visible
    val allNamed = sinkFiles.nonEmpty && sinkFiles.forall(n =>
      sources.GraftLogSource.minMaxFromName(n).isDefined)
    val backDf = spark.read.format("graft.sources.GraftLogSource")
      .option("path", sink.getAbsolutePath).load()
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        approx_count_distinct(col("user_id")).as("nu"))
    val back = backDf.collect()(0)
    val (_, _, colsSink) =
      sources.GraftLogSource.planCensus.get(sink.getAbsolutePath)
    val ok4 = allNamed &&
      back.getLong(0) == oracleRow.getLong(0) &&
      back.getLong(1) == oracleRow.getLong(1) &&
      back.getLong(2) == oracleRow.getLong(2)

    // stage 5: SQL DML — a DELETE whose predicate exercises all three
    // file behaviors in one statement: files the zone map proves
    // unaffected stay byte-untouched (metadata-only), fully-covered
    // files drop whole (the retention-window case), the one
    // straddling file rewrites with refreshed bounds. Runs on a
    // scratch copy rebuilt per run (DML mutates); `files_kept`
    // censuses the post-DELETE file count, `ok` pins survivor count
    // to the parquet spelling plus zero temp residue.
    val dml = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_dml_$sfName")
    if (dml.exists()) deleteRecursively(dml.toPath)
    dml.mkdirs()
    val fixtureFiles = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".glog"))
    fixtureFiles.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dml, f.getName).toPath): Unit
    }
    val cut5 = vMin + (vMax - vMin) * 4.5 / 8
    val expectSurvive = ev.filter(col("value") < cut5).count()
    spark.sql("DROP TABLE IF EXISTS graft_glog_dml_bench")
    val (filesAfter, nAfter, colsDml, ok5) = try {
      spark.sql(s"""CREATE TABLE graft_glog_dml_bench USING glog
        OPTIONS (path '${dml.getAbsolutePath}')""")
      spark.sql(s"DELETE FROM graft_glog_dml_bench WHERE value >= $cut5")
      // LIVE census through the manifest: copy-on-write leaves the
      // replaced originals on disk as orphans (snapshot isolation;
      // vacuum reclaims), so the raw listing over-counts
      val glogs = sources.GraftLogSource.listCommitted(
        new org.apache.hadoop.fs.Path(dml.getAbsolutePath),
        sources.GraftLogSource.driverHadoopConf(), Seq.empty)._2
      val residue = Option(dml.listFiles()).getOrElse(Array.empty)
        .exists(f => f.getName.endsWith(".rewrite") ||
          f.getName.endsWith(".inprogress"))
      val n = spark.sql("SELECT count(*) FROM graft_glog_dml_bench")
        .collect()(0).getLong(0)
      val (_, _, colsDml) =
        sources.GraftLogSource.planCensus.get(dml.getAbsolutePath)
      (glogs, n, colsDml, n == expectSurvive && !residue)
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_dml_bench")

    // stage 6: pushed TopN (SupportsPushDownTopN, partial) — ORDER BY
    // value DESC LIMIT 5 drains each reader through an O(k) bounded
    // heap, so the scan emits at most k rows per file instead of the
    // whole table into the global sort; values pinned to the parquet
    // spelling (Spark's TakeOrdered merge is the correctness net)
    val topn = glog(pushdown = true)
      .orderBy(col("value").desc).limit(5).select(col("value"))
    val topVals = topn.collect().map(_.getDouble(0)).toSeq
    val (_, keptT, colsT) = census()
    val topEmitted = rowsEmitted(topn)
    val oracleTop = ev.orderBy(col("value").desc).limit(5)
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    val ok6 = topEmitted <= 5L * keptT && topVals == oracleTop

    Seq(
      ("1_full", tot1, kept1, cols1, rows1, ok1),
      ("2_pushed", tot2, kept2, cols2, rows2, ok2),
      ("3_limit", tot2, keptL, colsL, nLim, limCapped),
      ("4_writeback", sinkFiles.length, sinkFiles.length, colsSink,
        back.getLong(0), ok4),
      ("5_dml", fixtureFiles.length, filesAfter, colsDml, nAfter, ok5),
      ("6_topn", tot2, keptT, colsT, topEmitted, ok6))
      .toDF("stage", "files_total", "files_kept", "cols_read",
        "rows_emitted", "ok")
      .orderBy(col("stage"))
  }

  /** MEASURED write-side clustering (RequiresDistributionAndOrdering)
    * — the INGEST-time half of the connector's zone-map contract.
    * The zone map's selectivity is only as good as the row layout the
    * upstream plan happens to deliver: a scrambled write commits
    * files that each span the full value range, and every later
    * value predicate keeps every file. With `option("clustered",
    * "true")` the WRITE itself requests a value-ordered distribution
    * from Spark — one range exchange + in-task sort before the
    * writers — so committed files carry tight, disjoint bounds on
    * ANY upstream layout. Write-time twin of eng_zorder_scan's
    * at-rest layout; reference analog: the weight-layout transpose
    * pass that reorders data at LOAD time so the runtime access
    * pattern is sequential (mlir_compiler/optimizer.py layout pass).
    *
    * Stages 1/2 write the SAME deliberately scrambled input (a
    * round-robin repartition interleaves the value range across
    * every task), then run the same top-quarter value
    * query: `1_scrambled` keeps every file (bounds all overlap);
    * `2_clustered` prunes the majority at planning time
    * (`pruned_majority`; the exact kept count follows the range
    * sampler, so the golden pins the bound and the spec asserts the
    * strict census). Stage `3_compacted` then COMPACTS the scrambled
    * sink in place (GraftLogSource.compact — an executor-parallel
    * rewrite through the clustered write path; the driver only swaps
    * the listing, duplicates-over-loss on crash) and re-runs the
    * query: same content, disjoint bounds, pruning restored — the
    * maintenance op the in-place DELETE documents as its tightness
    * counterpart, and the small-files cure after long append
    * streams. `bounds_disjoint` censuses adjacent-file bound
    * overlap from the committed names; `ok` pins rows+cents to the
    * parquet spelling each time. */
  private def dsv2ClusteredWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val ev = t(spark, dir, "events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    val cut = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.75
    val oracleRow = ev.filter(col("value") >= cut)
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents")).collect()(0)
    val scrambled = ev.repartition(8)
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_cl_$sfName")
    if (base.exists()) deleteRecursively(base.toPath)

    def measure(label: String, sink: java.io.File): (String, Long, Long, Long, Boolean, Boolean, Boolean) = {
      // LIVE names via the manifest: after stage 3's compact the old
      // generation stays on disk as snapshot orphans whose overlapping
      // bounds would falsely fail the disjointness census
      val bounds = sources.GraftLogSource.listCommitted(
          new org.apache.hadoop.fs.Path(sink.getAbsolutePath),
          sources.GraftLogSource.driverHadoopConf(), Seq.empty)
        ._1.map(_.getPath.getName)
        .flatMap(sources.GraftLogSource.minMaxFromName)
        .sortBy(_._1)
      val disjoint = bounds.sliding(2).forall {
        case Array(a, b) => sources.GraftLogSource.cmp(b._1, a._2) >= 0
        case _ => true
      }
      val q = spark.read.format("glog").option("path", sink.getAbsolutePath)
        .load().filter(col("value") >= cut)
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val row = q.collect()(0)
      val (total, kept, _) =
        sources.GraftLogSource.planCensus.get(sink.getAbsolutePath)
      (label, bounds.length.toLong, row.getLong(0), row.getLong(1),
        disjoint, kept.toLong * 2 <= total.toLong,
        row.getLong(0) == oracleRow.getLong(0) &&
          row.getLong(1) == oracleRow.getLong(1) &&
          // a range partition may legally come up empty under skew —
          // bound the census rather than hard-pinning 8
          total > 0 && total <= 8)
    }
    def stage(name: String, clustered: Boolean): (String, Long, Long, Long, Boolean, Boolean, Boolean) = {
      val sink = new java.io.File(base, name)
      scrambled.write.format("glog").option("path", sink.getAbsolutePath)
        .option("clustered", clustered.toString).mode("overwrite").save()
      measure(name, sink)
    }
    val s1 = stage("1_scrambled", clustered = false)
    val s2 = stage("2_clustered", clustered = true)
    // stage 3: COMPACT the scrambled sink in place — the maintenance
    // op that retro-fits the clustered layout (and is the documented
    // cure for post-DELETE superset bounds): same content, bounds
    // now disjoint, the same query prunes like the clustered write
    sources.GraftLogSource.compact(spark,
      new java.io.File(base, "1_scrambled").getAbsolutePath)
    val s3 = measure("3_compacted", new java.io.File(base, "1_scrambled"))
    Seq(s1, s2, s3)
      .toDF("stage", "n_files", "n_rows", "cents",
        "bounds_disjoint", "pruned_majority", "ok")
      .orderBy(col("stage"))
  }

  /** MEASURED connector column statistics → cost-based broadcast
    * flip (DSv2 Statistics.columnStats) — the stats surface
    * eng_cbo_stats proves for CATALOG tables, now provided BY THE
    * CONNECTOR for free: `value` min/max come straight off the
    * zone-map filenames and the row count from one 8 KB line-width
    * sample, no ANALYZE scan. The fixture is written SCRAMBLED
    * (every file spans the full value range), so a selective value
    * predicate prunes NO files — the size-based estimate cannot see
    * the selectivity, only CBO's FilterEstimation over the reported
    * column stats can. With the broadcast threshold pinned between
    * the two estimates, the SAME events ⋈ filtered-glog join keeps a
    * shuffled join stats-blind (`1_no_cbo`) and flips to
    * BroadcastHashJoin under `spark.sql.cbo.enabled`
    * (`2_cbo_colstats`) — the decision read from the PRE-AQE
    * sparkPlan (cost-based, not AQE's runtime rescue), both stages
    * executed with identical results pinned to the parquet spelling.
    * At 100 TB this is what lets the planner broadcast a filtered
    * slice of a 100 TB log without anyone ever running ANALYZE on
    * it. */
  private val csLayouts = new SessionMemo[String]
  private[graft] def ensureCsLayout(spark: SparkSession, dir: String): String =
    csLayouts(spark, dir) {
      val tmp = ScratchDir.create("graft_glog_cs")
      t(spark, dir, "events").select(
          col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(8)
        .write.format("glog").option("path", s"$tmp/scrambled")
        .mode("overwrite").save()
      s"$tmp/scrambled"
    }

  private def dsv2ColStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = ensureCsLayout(spark, dir)
    val ev = t(spark, dir, "events")
    val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    // mid-range cut: selective but dense enough that the tail exists
    // in every file at any SF
    val cut = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.5
    def side(cbo: Boolean): DataFrame = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.read.format("glog").option("path", path).load()
        .filter(col("value") >= cut)
        .select(col("user_id"), col("value"))
    }
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      val actual = ev.filter(col("value") >= cut).count()
      val total = ev.count()
      // stats-blind: the connector reports bytes only — no row count,
      // no per-column bounds reach the planner
      val blindStats = side(cbo = false).queryExecution.optimizedPlan.stats
      val blindRows = blindStats.rowCount.map(_.toLong).getOrElse(-1L)
      // colstats-informed: rowCount from the 8 KB line-width sample,
      // value bounds straight off the zone-map names; CBO's
      // FilterEstimation interpolates the range predicate
      val csStats = side(cbo = true).queryExecution.optimizedPlan.stats
      val csRows = csStats.rowCount.map(_.toLong).getOrElse(-1L)
      val boundsSeen = csStats.attributeStats.exists { case (a, s) =>
        a.name == "value" && s.min.isDefined && s.max.isDefined
      }
      val baseStats = spark.read.format("glog").option("path", path).load()
        .select(col("user_id"), col("value"))
        .queryExecution.optimizedPlan.stats
      val baseRows = baseStats.rowCount.map(_.toLong).getOrElse(-1L)
      Seq(
        // stage 1: no CBO — the estimate simply does not exist
        ("1_blind", blindRows, actual, false, blindRows == -1L),
        // stage 2: CBO + connector colstats — a real estimate, with
        // the filter's selectivity strictly inside (0, total): above
        // the true count (range interpolation is uniform; the value
        // distribution is front-loaded) and strictly below the
        // unfiltered estimate, which itself lands within 25 % of the
        // true total off one 8 KB sample
        ("2_cbo_colstats", csRows, actual, boundsSeen,
          boundsSeen && csRows > 0 && baseRows > 0 &&
            csRows < baseRows && csRows >= actual &&
            math.abs(baseRows - total) * 4 <= total))
        .toDF("stage", "est_rows", "actual_rows", "value_bounds_seen", "ok")
        .orderBy(col("stage"))
    } finally {
      saved.map(spark.conf.set("spark.sql.cbo.enabled", _))
        .getOrElse(spark.conf.unset("spark.sql.cbo.enabled"))
    }
  }

  /** MEASURED DSv2 CATALOG plugin (sources/GlogCatalog) — glog
    * tables managed by NAME through a warehouse root instead of raw
    * path options: the deployment story's last piece (the catalog
    * twin of eng_hive_partitioned_ddl, but v2-native — no Hive
    * metastore, the filesystem IS the metastore, so any engine that
    * lists the warehouse sees the same tables). Stages census the
    * full lifecycle through SQL: CREATE NAMESPACE + CREATE TABLE
    * (directory census), INSERT (rows + every committed file
    * zone-map-named), row-level DML through the named table (UPDATE
    * + DELETE counts exact vs the parquet spelling), RENAME (content
    * preserved under the new name, old gone), DROP (namespace
    * empties). Each stage metadata-only at scale except the INSERT
    * and DML data movement themselves. */
  private def dsv2Catalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val wh = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_wh_$sfName")
    if (wh.exists()) deleteRecursively(wh.toPath)
    wh.mkdirs()
    val ev = t(spark, dir, "events")
    // two passes for the three expectation scalars (guide §1.2): the
    // min/max pass fixes `cut`, the second folds both counts
    val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    val cut = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.5
    val pc = ev.agg(count(when(col("event_type") === "purchase", 1)),
      count(when(col("event_type") === "purchase" && col("value") >= cut, 1)))
      .collect()(0)
    val (nPurchase, nHigh) = (pc.getLong(0), pc.getLong(1))
    // catalog name carries the SF: Spark caches catalog plugin
    // instances by name per session, so a shared name would pin the
    // FIRST warehouse across a multi-sf session (ScaleBench runs two
    // dirs in one JVM)
    val cat = s"glogbench_${sfName.replace('.', '_')}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GlogCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.lab")
      spark.sql(s"""CREATE TABLE $cat.lab.ev (
        event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING) USING glog""")
      val listed = spark.sql(s"SHOW TABLES IN $cat.lab").count()
      val s1 = ("1_create", listed, 0L, listed == 1L &&
        new java.io.File(new java.io.File(wh, "lab"), "ev").isDirectory)

      spark.sql(s"""INSERT INTO $cat.lab.ev
        SELECT event_id, ts, user_id, event_type, value, props
        FROM events WHERE event_type = 'purchase'""")
      def n() = spark.sql(s"SELECT count(*) FROM $cat.lab.ev")
        .collect()(0).getLong(0)
      val files = Option(new java.io.File(new java.io.File(wh, "lab"), "ev")
        .listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.endsWith(".glog"))
      val nIns = n() // one read: the census and its check share it
      val s2 = ("2_insert", nIns, files.length.toLong, nIns == nPurchase &&
        files.nonEmpty &&
        files.forall(sources.GraftLogSource.minMaxFromName(_).isDefined))

      spark.sql(s"""UPDATE $cat.lab.ev SET event_type = 'upd'
        WHERE value >= $cut""")
      val updated = spark.sql(
        s"SELECT count(*) FROM $cat.lab.ev WHERE event_type = 'upd'")
        .collect()(0).getLong(0)
      spark.sql(s"DELETE FROM $cat.lab.ev WHERE value >= $cut")
      val nDml = n()
      val s3 = ("3_dml", updated, nDml,
        updated == nHigh && nDml == nPurchase - nHigh)

      spark.sql(s"ALTER TABLE $cat.lab.ev RENAME TO lab.ev2")
      val n2 = spark.sql(s"SELECT count(*) FROM $cat.lab.ev2")
        .collect()(0).getLong(0)
      val s4 = ("4_rename", n2, 1L, n2 == nPurchase - nHigh &&
        !new java.io.File(new java.io.File(wh, "lab"), "ev").exists())

      spark.sql(s"DROP TABLE $cat.lab.ev2")
      spark.sql(s"DROP NAMESPACE $cat.lab")
      val s5 = ("5_drop", 0L, 0L, !new java.io.File(wh, "lab").exists())

      Seq(s1, s2, s3, s4, s5)
        .toDF("stage", "n_a", "n_b", "ok")
        .orderBy(col("stage"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  /** MEASURED versioned-manifest commit protocol (the connector's
    * round-11 source of truth, sources/GraftLogSource manifest
    * section): the full snapshot lifecycle censused through row
    * counts, which are partition-layout-independent. Stages on a
    * fresh scratch table each run:
    *  - `1_commits`: overwrite (v1) + append (v2) + DELETE of the
    *    appended slice (v3) — exactly three manifest versions, each
    *    statement ONE atomic version.
    *  - `2_timetravel`: `versionAsOf` reads of v1/v2/v3 return the
    *    exact historical row counts (the DELETE's copy-on-write
    *    orphans serve the pinned readers).
    *  - `3_concurrent`: two batch committers BOTH staged before
    *    either commits — the interleaving the old listing-based
    *    index allocation raced on — land both rows under distinct
    *    claimed names, two more versions.
    *  - `4_vacuum`: vacuum(retainVersions=1) reclaims the DML
    *    orphans (>=1 file), live results are untouched, and the
    *    vacuumed v1 read now fails LOUDLY instead of returning
    *    partial data.
    * At 100 TB this protocol is what makes concurrent ingest + DML
    * + maintenance safe without a lock service: every commit is one
    * conditional manifest publish, losers retry, readers are
    * snapshot-isolated, disk is reclaimed by policy. */
  private def dsv2Manifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.GraftLogSource
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_mf_$sfName")
    if (root.exists()) deleteRecursively(root.toPath)
    root.mkdirs()
    val path = new java.io.File(root, "t").getAbsolutePath
    val ev = t(spark, dir, "events").select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    val cut = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.5
    // one pass for both expectation counts (guide §1.2)
    val nlh = ev.agg(count(when(col("value") < cut, 1)),
      count(when(col("value") >= cut, 1))).collect()(0)
    val (nLow, nHigh) = (nlh.getLong(0), nlh.getLong(1))
    // coalesce(1): one file per statement, so every file-level census
    // below (vacuum's reclaim count in particular) is independent of
    // defaultParallelism — goldens must not follow the CPU count
    def write(df: DataFrame, mode: String): Unit =
      df.coalesce(1).write.format("glog").option("path", path).mode(mode).save()
    write(ev.filter(col("value") < cut), "overwrite") // v1
    write(ev.filter(col("value") >= cut), "append")   // v2
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = GraftLogSource.driverHadoopConf()
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    GraftLogSource.deleteMatching(p, conf,
      Array[org.apache.spark.sql.sources.Filter](
        GreaterThanOrEqual("value", cut)))               // v3
    val versions = GraftLogSource.manifestVersions(p, conf)
    def countAt(v: Long): Long = spark.read.format("glog")
      .option("path", path).option("versionAsOf", v.toString).load().count()
    def countNow(): Long = spark.read.format("glog")
      .option("path", path).load().count()
    val s1 = ("1_commits", versions.length.toLong, countNow(),
      versions == Seq(1L, 2L, 3L) && countNow() == nLow)
    val s2 = ("2_timetravel", countAt(2L), countAt(3L),
      countAt(1L) == nLow && countAt(2L) == nLow + nHigh &&
        countAt(3L) == nLow)
    // two committers, both staged before either commits
    def staged(id: Long, v: Double): (graft.sources.GlogBatchWrite,
        Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) = {
      val w = new graft.sources.GlogWriterFactory(path).createWriter(0, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, id * 1000L, id,
          org.apache.spark.unsafe.types.UTF8String.fromString("mf"), v,
          org.apache.spark.unsafe.types.UTF8String.fromString("{}"))))
      (new graft.sources.GlogBatchWrite(path, GraftLogSource.SchemaFixed,
        truncateFirst = false), Array(w.commit()))
    }
    val (bwA, msgA) = staged(900001L, 1.0)
    val (bwB, msgB) = staged(900002L, 2.0)
    bwA.commit(msgA); bwB.commit(msgB)                   // v4, v5
    val afterCc = countNow()
    val s3 = ("3_concurrent", afterCc,
      GraftLogSource.manifestVersions(p, conf).length.toLong,
      afterCc == nLow + 2 &&
        GraftLogSource.manifestVersions(p, conf) == (1L to 5L))
    val reclaimed = GraftLogSource.vacuum(path, graceMs = 0L)
    val v1Fails =
      try { countAt(1L); false } catch { case _: Exception => true }
    val s4 = ("4_vacuum", countNow(), reclaimed.toLong,
      reclaimed >= 1 && countNow() == nLow + 2 && v1Fails)
    // stage 5: MANY-COMMIT metadata scaling — 20 more single-row
    // appends (the per-epoch streaming-sink shape); each non-
    // checkpoint commit writes a ONE-RECORD delta beyond its O(1)
    // '#' headers (the #delta dispatch + #glog-format declaration) no
    // matter how many files are live (O(delta) metadata bytes per
    // commit), with a full checkpoint every CheckpointEvery-th
    // version bounding the resolve chain — the Delta/Iceberg
    // checkpoint+deltas shape.
    (10L to 29L).foreach { i =>
      val (bw, msg) = staged(900000L + i, i.toDouble)
      bw.commit(msg)
    }                                                    // v6..v25
    val metaDirF = new java.io.File(path, GraftLogSource.MetaDirName)
    val manifests = GraftLogSource.manifestVersions(p, conf)
      .filter(_ > 5L)
      .map { v =>
        new String(java.nio.file.Files.readAllBytes(
          new java.io.File(metaDirF, f"_v$v%012d.manifest").toPath),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.filter(_.nonEmpty).toSeq
      }
    def records(m: Seq[String]): Int = m.count(l => !l.startsWith("#"))
    val deltas = manifests.filter(_.contains("#delta"))
    val maxDeltaRecords = deltas.map(records).maxOption.getOrElse(0)
    val s5 = ("5_delta_chain", deltas.length.toLong, maxDeltaRecords.toLong,
      deltas.length == 19 && maxDeltaRecords == 1 &&
        countNow() == nLow + 22 &&
        // the one checkpoint commit in the window (v16) carries the
        // FULL list: 3 pre-existing files + the 11 appends v6..v16
        manifests.exists(m => !m.contains("#delta") && records(m) == 14))
    Seq(s1, s2, s3, s4, s5)
      .map { case (st, a, b, ok) => (st, a, b, ok) }
      .toDF("stage", "n_a", "n_b", "ok")
      .orderBy(col("stage"))
  }

  /** Change-feed fixture, built ONCE per (session, dir) — an index-
    * build step like the IVF layouts, so the measured entries time the
    * FEED READS, not the fixture writes. Versions: v1 = overwrite with
    * the low-value half, v2 = append the high half, v3 = DELETE the
    * top quarter (a copy-on-write rewrite whose carried-over survivors
    * must CANCEL out of the feed), v4 = ONE small appended file of a
    * FIXED row count (the daily-ingest shape — its size does not grow
    * with the table, so eng_changefeed_small_delta's scale ratio
    * tracks the delta, not the table). Returns
    * (path, nHigh, nTop, nTiny). */
  private val cfFixtures = new SessionMemo[(String, Long, Long, Long)]
  private def ensureChangeFeedFixture(spark: SparkSession, dir: String)
      : (String, Long, Long, Long) =
    cfFixtures(spark, dir) {
      import graft.sources.GraftLogSource
      val sfName = java.nio.file.Paths.get(dir).getFileName.toString
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_glog_cf_$sfName")
      if (root.exists()) deleteRecursively(root.toPath)
      root.mkdirs()
      val path = new java.io.File(root, "t").getAbsolutePath
      val ev = t(spark, dir, "events").select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      val mm = ev.agg(min(col("value")), max(col("value"))).collect()(0)
      val cut = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.5
      val cut2 = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) * 0.75
      val nHigh = ev.filter(col("value") >= cut).count()
      val nTop = ev.filter(col("value") >= cut2).count()
      ev.filter(col("value") < cut).coalesce(1).write.format("glog")
        .option("path", path).mode("overwrite").save()        // v1
      ev.filter(col("value") >= cut).coalesce(1).write.format("glog")
        .option("path", path).mode("append").save()           // v2
      import org.apache.spark.sql.sources.GreaterThanOrEqual
      GraftLogSource.deleteMatching(
        new org.apache.hadoop.fs.Path(path),
        Array[org.apache.spark.sql.sources.Filter](
          GreaterThanOrEqual("value", cut2)))                 // v3
      // v4: one small appended file — FIXED 1000 rows at any SF
      val tiny = ev.orderBy(col("event_id")).limit(1000)
      val nTiny = tiny.count()
      tiny.coalesce(1).write.format("glog")
        .option("path", path).mode("append").save()           // v4
      (path, nHigh, nTop, nTiny)
    }

  /** MEASURED row-level change feed (GraftLogSource.changeFeed) —
    * the incremental-consumer primitive over the manifest history: a
    * daily training-data pipeline reads exactly what changed between
    * two versions instead of re-scanning the table. Stages census
    * exact insert/delete row counts for the append range (inserts
    * only), the delete range (deletes only, the rewrite's survivors
    * cancelled), the composed range (net middle-slice insert), and
    * the PUBLIC reader spelling (`option("changeFeedFrom"/"To")`,
    * rewritten by GraftExtensions) over the small-delta range. The
    * file-level manifest diff travels into scan PLANNING via the
    * `filesOf` option: files common to both versions are never
    * planned or opened, so feed IO scales with the CHANGED files, not
    * the table (asserted via rowsEmitted in Dsv2SourceSpec and
    * measured at a fixed delta size by eng_changefeed_small_delta). */
  private def dsv2ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.GraftLogSource
    val (path, nHigh, nTop, nTiny) = ensureChangeFeedFixture(spark, dir)
    // the `to` endpoint's commit time — the manifest file's mtime, the
    // same clock TIMESTAMP AS OF resolves against — for the
    // _commit_timestamp census below
    def commitMs(v: Long): Long = {
      val d = GraftLogSource.resolveDir(path)
      GraftLogSource.fsFor(d, GraftLogSource.driverHadoopConf())
        .getFileStatus(GraftLogSource.manifestPath(d, v)).getModificationTime
    }
    // one pass per stage: change-type counts PLUS the CDC metadata
    // census — every row must stamp the range's `to` endpoint
    // (_commit_version == to, one distinct _commit_timestamp equal to
    // that manifest's commit mtime; the Delta-CDF attribution contract)
    def census(feed: DataFrame, name: String, to: Long,
        wantIns: Long, wantDel: Long): (String, Long, Long, Boolean, Boolean) = {
      val r = feed.agg(
        count(when(col("_change_type") === "insert", 1)).as("ins"),
        count(when(col("_change_type") === "delete", 1)).as("del"),
        countDistinct(col("_commit_version")).as("nv"),
        min(col("_commit_version")).as("v"),
        countDistinct(col("_commit_timestamp")).as("nt"),
        min(col("_commit_timestamp")).as("t")).collect()(0)
      val (ins, del) = (r.getLong(0), r.getLong(1))
      val metaOk = r.getLong(2) == 1L && r.getLong(3) == to &&
        r.getLong(4) == 1L && r.getTimestamp(5).getTime == commitMs(to)
      (name, ins, del, ins == wantIns && del == wantDel, metaOk)
    }
    def stage(name: String, a: Long, b: Long,
        wantIns: Long, wantDel: Long): (String, Long, Long, Boolean, Boolean) =
      census(GraftLogSource.changeFeed(spark, path, a, b), name, b,
        wantIns, wantDel)
    // the public DataFrame spelling — same plan after the
    // GraftExtensions rewrite, exercised end-to-end
    val pub = spark.read.format("glog").option("path", path)
      .option("changeFeedFrom", "3").option("changeFeedTo", "4").load()
    Seq(
      stage("1_append_range", 1L, 2L, nHigh, 0L),
      stage("2_delete_range", 2L, 3L, 0L, nTop),
      stage("3_composed", 1L, 3L, nHigh - nTop, 0L),
      census(pub, "4_public_option", 4L, nTiny, 0L))
      .toDF("stage", "n_insert", "n_delete", "ok", "meta_ok")
      .orderBy(col("stage"))
  }

  /** MEASURED small-delta change feed — the scale claim isolated: the
    * fixture's v3→v4 delta is ONE file of a FIXED row count while the
    * table underneath grows with SF, so this entry's scale ratio
    * tracks the DELTA (flat), not the table. `ok` additionally pins
    * the IO bound: the feed's readers emit at most 1× the delta rows
    * (each diffed side plans only the changed files via `filesOf` and
    * the signed diff scans each side ONCE; files common to both
    * versions are never opened). */
  private def changeFeedSmallDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (path, _, _, nTiny) = ensureChangeFeedFixture(spark, dir)
    val feed = sources.GraftLogSource.changeFeed(spark, path, 3L, 4L)
    val rows = feed.collect()
    val emitted =
      flattenExecuted(feed.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics.get("rowsEmitted").map(_.value).getOrElse(0L)
      }.sum
    val ins = rows.count(_.getString(6) == "insert").toLong
    val del = rows.count(_.getString(6) == "delete").toLong
    // metadata attribution rides along: the v3→v4 range stamps every
    // row with _commit_version 4 and a non-null commit timestamp
    val metaOk = rows.forall(r =>
      r.getLong(7) == 4L && r.getTimestamp(8) != null)
    Seq((nTiny, ins, del,
        ins == nTiny && del == 0L && emitted <= nTiny && metaOk))
      .toDF("n_delta", "n_insert", "n_delete", "ok")
  }

  /** MEASURED streaming row-level CDC
    * (option("readChangeFeed", "true") — GlogChangeFeedSource): the
    * end-to-end incremental-training-data loop with no hand-managed
    * version cursors. Over the shared change-feed fixture (v1 base,
    * v2 append, v3 DELETE, v4 small append), a stream anchored at
    * startingVersion=1 with maxVersionsPerTrigger=1 must deliver ONE
    * micro-batch per commit, each equal to batch changeFeed(v, v+1):
    * the append's inserts, then the DELETE's deletes (the
    * copy-on-write rewrite's carried survivors cancelled by the
    * feed's multiset diff), then the small append's inserts — insert AND
    * delete rows, in commit order, IO bounded by the manifest diff
    * (`filesOf`). Censuses: batch count (admission control), exact
    * per-phase insert/delete totals. Reference analog: the 1 kHz loop
    * consumes every sample, corrections included
    * (codegen_cim.py:524-548). */
  private def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (path, nHigh, nTop, nTiny) = ensureChangeFeedFixture(spark, dir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_entry_ck")
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    try {
      val q = spark.readStream.format("glog").option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          // change-type counts plus the metadata census: each
          // per-commit micro-batch must stamp EXACTLY its producing
          // version (one distinct _commit_version / _commit_timestamp
          // pair; -1 records a violation)
          val r = b.agg(
            count(when(col("_change_type") === "insert", 1)),
            count(when(col("_change_type") === "delete", 1)),
            countDistinct(col("_commit_version")),
            min(col("_commit_version")),
            countDistinct(col("_commit_timestamp"))).collect()(0)
          val v = if (r.getLong(2) == 1L && r.getLong(4) == 1L) r.getLong(3)
                  else -1L
          batches.add((r.getLong(0), r.getLong(1), v)): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // one batch per commit, in commit order, each attributed to its
    // producing manifest version via the CDC metadata columns
    val want = Seq((nHigh, 0L, 2L), (0L, nTop, 3L), (nTiny, 0L, 4L))
    Seq((got.length.toLong, got.map(_._1).sum, got.map(_._2).sum,
        got == want, got.map(_._3) == want.map(_._3)))
      .toDF("n_batches", "n_insert", "n_delete", "per_version_ok",
        "commit_version_ok")
  }

  /** MEASURED steady-state CDC stream cost — the scale claim
    * isolated, the streaming twin of eng_changefeed_small_delta: a
    * stream anchored at version 3 drains exactly the fixture's FIXED
    * 1000-row v4 commit (one micro-batch, inserts only) while the
    * table underneath grows with SF — per-trigger cost tracks the
    * DELTA the trigger admits, not the table (eng_stream_cdc drains
    * the full history once and scales with it by definition; THIS
    * entry is what a caught-up consumer pays per commit). */
  private def streamCdcSmallDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (path, _, _, nTiny) = ensureChangeFeedFixture(spark, dir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcsd_ck")
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    try {
      val q = spark.readStream.format("glog").option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "3")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val r = b.agg(
            count(when(col("_change_type") === "insert", 1)),
            count(when(col("_change_type") === "delete", 1)),
            countDistinct(col("_commit_version")),
            min(col("_commit_version"))).collect()(0)
          val v = if (r.getLong(2) == 1L) r.getLong(3) else -1L
          batches.add((r.getLong(0), r.getLong(1), v)): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // the single drained commit attributes to version 4 (metadata
    // census folded into ok — values unchanged when correct)
    Seq((got.length.toLong, got.map(_._1).sum,
        got == Seq((nTiny, 0L, 4L))))
      .toDF("n_batches", "n_insert", "ok")
  }

  /** MEASURED table-history surface (GraftLogSource.history — the
    * DESCRIBE HISTORY analog, how a user finds the version or
    * timestamp to hand to versionAsOf/timestampAsOf/changeFeedFrom/
    * startingVersion): over the shared change-feed fixture
    * (v1 overwrite, v2 append, v3 copy-on-write DELETE, v4 small
    * append), the history must list the four retained versions in
    * commit order with non-decreasing manifest-mtime timestamps and
    * EXACT add/remove censuses — the overwrite's single file, the
    * append's +1, the rewrite's +1/-1 swap (live count unchanged),
    * the small append's +1; the oldest row's deltas are unknown
    * (its predecessor may be vacuumed) and census as -1. `ok` also
    * pins the round-trip a user actually performs: reading
    * `timestampAsOf` the NEWEST row's commit timestamp pins the same
    * snapshot as `versionAsOf` its version (newest only — an older
    * version's mtime could tie with its successor's on a
    * coarse-clock store, which timestamp addressing resolves to the
    * newer commit by contract), and that the SQL spelling —
    * `SELECT * FROM glog_history('path')`, the TVF GraftExtensions
    * registers — returns exactly the Scala API's rows. Driver-side
    * O(versions) like Delta's DESCRIBE HISTORY. */
  private def dsv2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (path, _, _, _) = ensureChangeFeedFixture(spark, dir)
    val h = sources.GraftLogSource.history(spark, path).collect()
    def pinnedCount(key: String, value: String): Long =
      spark.read.format("glog").option("path", path)
        .option(key, value).load().count()
    val tsOrdered = h.map(_.getTimestamp(1).getTime).sliding(2)
      .forall(w => w.length < 2 || w(0) <= w(1))
    val newest = h.last
    val roundTrip = pinnedCount("timestampAsOf",
        newest.getTimestamp(1).getTime.toString) ==
      pinnedCount("versionAsOf", newest.getLong(0).toString)
    // (version, n_live, n_added, n_removed) expectations per fixture
    val want = Seq((1L, 1L, -1L, -1L), (2L, 2L, 1L, 0L),
      (3L, 2L, 1L, 1L), (4L, 3L, 1L, 0L))
    val got = h.map(r => (r.getLong(0), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    // SQL-surface parity census: the glog_history TVF (registered by
    // GraftExtensions into the session's TableFunctionRegistry) must
    // return EXACTLY the Scala API's rows — one code path
    val sqlSame = spark.sql(s"SELECT * FROM glog_history('$path')")
      .collect().toSeq == h.toSeq
    val globalOk = tsOrdered && roundTrip && got == want && sqlSame
    got.map { case (v, live, add, rem) =>
      (v, live, add, rem, globalOk)
    }.toDF("version", "n_live_files", "n_added", "n_removed", "ok")
      .orderBy(col("version"))
  }

  /** MEASURED manifest-carried ts statistics — file-level stats on a
    * SECOND column (the value zone map rides the file NAMES; ts
    * min/max ride the MANIFEST, collected for free by the writers —
    * the Iceberg/Delta stats-in-commit-metadata pattern). Fixture:
    * four "daily" append batches (one file each via coalesce(1),
    * disjoint synthetic ts ranges). Stages:
    *  - `1_full`: the unfiltered scan reads all 4 files.
    *  - `2_ts_pruned`: a ts >= day-3 predicate keeps ONE file at
    *    PLANNING time (files_kept census) and the readers emit only
    *    its rows — time-range queries over an append log never touch
    *    aged files.
    *  - `3_retention`: `DELETE WHERE ts < day-2` ages out two whole
    *    files METADATA-ONLY (manifest ts stats prove full coverage;
    *    the files are never opened, they just leave the live set and
    *    wait for vacuum) — THE retention-window operation every
    *    telemetry deployment runs nightly, as one manifest CAS.
    *  - `4_uid_pruned` (round 13): over a user-range-clustered layout,
    *    a user_id POINT predicate keeps one file at planning time —
    *    the manifest now carries user_id min/max per file, so the
    *    pruning story is uniform across the schema, not ts-only.
    *  - `5_etype_dict` (round 13): over a per-type layout, an
    *    event_type equality keeps one file via the manifest's EXACT
    *    distinct-type dictionary (the tiny-domain dimension column).
    * At 100 TB: predicates on ANY pushable column and retention cost
    * O(changed files) in metadata, zero data IO beyond true
    * stragglers. */
  /** dsv2TsStats fixture: the three purpose-built layouts plus the
    * expectation scalars, built ONCE per (session, dir) like the
    * change-feed/ivf fixtures (index builds are one-time; the
    * MEASURED path is the planning + pruning + retention CAS). The
    * `t` layout is MUTATED by stage 3's DELETE (a new manifest
    * version lands), so its pristine file-set is captured at build
    * and every invocation resets to it first — the ensureIvfIncr
    * reset pattern. Expectation counts collapse the former seven
    * driver actions over events into TWO aggregates (guide §1.2). */
  private case class TsStatsFixture(
      tPath: String, uPath: String, ePath: String, baseline: Set[String],
      nAll: Long, expect3: Long, expectKeep: Long,
      probeUid: Long, expectUid: Long, probeType: String, expectEt: Long)
  private val tsStatsFixtures = new SessionMemo[TsStatsFixture]
  private val tsDay = 86400000000L // micros
  private def ensureTsStatsFixture(spark: SparkSession, dir: String): TsStatsFixture =
    tsStatsFixtures(spark, dir) {
      val sfName = java.nio.file.Paths.get(dir).getFileName.toString
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_glog_ts_$sfName")
      if (root.exists()) deleteRecursively(root.toPath)
      root.mkdirs()
      val ev = t(spark, dir, "events")
      val path = new java.io.File(root, "t").getAbsolutePath
      (0 until 4).foreach { d =>
        ev.filter(col("event_id") % 4 === d)
          .select(col("event_id"),
            timestamp_micros(lit(d * tsDay) + col("event_id")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .coalesce(1) // one file per "day": deterministic file census
          .write.format("glog").option("path", path).mode("append").save()
      }
      // expectation scalars in TWO aggregates: pass 1 carries the
      // modulo censuses + the probe parameters, pass 2 the counts
      // that need those parameters
      val r1 = ev.agg(count(lit(1)), count(when(col("event_id") % 4 === 3, 1)),
        count(when(col("event_id") % 4 >= 2, 1)), max(col("user_id")),
        sort_array(collect_set(col("event_type")))).collect()(0)
      val uidMax = r1.getLong(3)
      val probeUid = uidMax / 2 // lands in exactly one quartile file
      val probeType = r1.getSeq[String](4).head
      val r2 = ev.agg(count(when(col("user_id") === probeUid, 1)),
        count(when(col("event_type") === probeType, 1))).collect()(0)
      val uPath = new java.io.File(root, "u").getAbsolutePath
      val q4 = uidMax / 4 + 1
      (0 until 4).foreach { b =>
        ev.filter(col("user_id") >= b * q4 && col("user_id") < (b + 1) * q4)
          .coalesce(1).write.format("glog").option("path", uPath)
          .mode("append").save()
      }
      val ePath = new java.io.File(root, "e").getAbsolutePath
      r1.getSeq[String](4).foreach { et =>
        ev.filter(col("event_type") === et)
          .coalesce(1).write.format("glog").option("path", ePath)
          .mode("append").save()
      }
      TsStatsFixture(path, uPath, ePath, listFilesUnder(path),
        r1.getLong(0), r1.getLong(1), r1.getLong(2),
        probeUid, r2.getLong(0), probeType, r2.getLong(1))
    }

  private def dsv2TsStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val fx = ensureTsStatsFixture(spark, dir)
    // stage 3's DELETE appended a manifest version last invocation —
    // reset the t layout to its pristine build (file delete only)
    resetToBaseline(fx.tPath, fx.baseline)
    val path = fx.tPath
    def glog = spark.read.format("glog").option("path", path).load()
    def census() = sources.GraftLogSource.planCensus.get(path)
    def rowsEmitted(df: DataFrame): Long =
      flattenExecuted(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec =>
          b.metrics.get("rowsEmitted").map(_.value).getOrElse(0L)
      }.sum
    val q1 = glog.agg(count(lit(1)))
    val n1 = q1.collect()(0).getLong(0)
    val (tot1, kept1, _) = census()
    val s1 = ("1_full", tot1.toLong, kept1.toLong, n1, n1 == fx.nAll)

    val q2 = glog.filter(col("ts") >= timestamp_micros(lit(3 * tsDay)))
      .agg(count(lit(1)))
    val n2 = q2.collect()(0).getLong(0)
    val emitted2 = rowsEmitted(q2)
    val (tot2, kept2, _) = census()
    val s2 = ("2_ts_pruned", tot2.toLong, kept2.toLong, emitted2,
      kept2 == 1 && n2 == fx.expect3 && emitted2 == fx.expect3)

    spark.sql("DROP TABLE IF EXISTS graft_glog_ts_bench")
    val s3 = try {
      spark.sql(s"""CREATE TABLE graft_glog_ts_bench USING glog
        OPTIONS (path '$path')""")
      val before = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".glog"))
        .map(f => f.getName -> f.lastModified()).toMap
      spark.sql(s"""DELETE FROM graft_glog_ts_bench
        WHERE ts < timestamp_micros(${2 * tsDay})""")
      val nAfter = spark.sql("SELECT count(*) FROM graft_glog_ts_bench")
        .collect()(0).getLong(0)
      val liveTotal = sources.GraftLogSource.listCommitted(
        new org.apache.hadoop.fs.Path(path),
        sources.GraftLogSource.driverHadoopConf(), Seq.empty)._2
      // metadata-only: every pre-delete file still on disk,
      // byte-untouched (the aged-out two are orphans awaiting vacuum)
      val untouched = before.forall { case (n, m) =>
        val f = new java.io.File(path, n); f.exists() && f.lastModified() == m
      }
      ("3_retention", before.size.toLong, liveTotal.toLong, nAfter,
        nAfter == fx.expectKeep && liveTotal == 2 && untouched)
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_ts_bench")

    // sibling stats (round 13): user_id range + event_type dictionary
    // prune at planning time exactly like ts — each over a layout
    // clustered on that column (4 user-quartile files; one file per
    // event type), the shape an ingest that partitions by the column
    // produces naturally
    def glogU = spark.read.format("glog").option("path", fx.uPath).load()
    val q4df = glogU.filter(col("user_id") === fx.probeUid).agg(count(lit(1)))
    val n4 = q4df.collect()(0).getLong(0)
    val emitted4 = rowsEmitted(q4df)
    val (tot4, kept4, _) = sources.GraftLogSource.planCensus.get(fx.uPath)
    val s4 = ("4_uid_pruned", tot4.toLong, kept4.toLong, n4,
      kept4 == 1 && n4 == fx.expectUid && emitted4 == fx.expectUid)

    val q5df = spark.read.format("glog").option("path", fx.ePath).load()
      .filter(col("event_type") === fx.probeType).agg(count(lit(1)))
    val n5 = q5df.collect()(0).getLong(0)
    val (tot5, kept5, _) = sources.GraftLogSource.planCensus.get(fx.ePath)
    val s5 = ("5_etype_dict", tot5.toLong, kept5.toLong, n5,
      kept5 == 1 && n5 == fx.expectEt && rowsEmitted(q5df) == fx.expectEt)

    Seq(s1, s2, s3, s4, s5)
      .toDF("stage", "files_total", "files_kept", "n_rows", "ok")
      .orderBy(col("stage"))
  }

  /** MEASURED streaming SINK through the connector — the write-side
    * half of the connector's streaming story (the source side is
    * eng_dsv2_source's MICRO_BATCH_READ + eng_stream_backfill's
    * pacing): a full glog→glog streaming pipe. The fixture directory
    * streams in admission-bounded batches (maxFilesPerTrigger=3,
    * Trigger.AvailableNow) and lands back out through the
    * connector's STREAMING_WRITE — per-epoch task-commit with
    * `_epoch-N.committed` markers making replayed epochs no-ops
    * (exactly-once into the directory; replay idempotence is
    * spec-proven by re-committing a committed epoch). Censuses:
    * paced batch count from the query's own progress ledger,
    * committed files and rows from a batch read-back, content
    * equality with the parquet spelling. At 100 TB this is the
    * land-a-firehose pattern: bounded batches, atomic per-epoch
    * visibility, and a crash-safe replay ledger — no partial epoch
    * is ever scannable. */
  private def dsv2StreamSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val (stage, _, _) = ensureGlogFixture(spark, dir)
    val sink = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_ssink_$sfName")
    if (sink.exists()) deleteRecursively(sink.toPath)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssink_ck")
    try {
      val q = spark.readStream.format("glog")
        .option("path", stage.getAbsolutePath)
        .option("maxFilesPerTrigger", "3")
        .load()
        .writeStream.format("glog")
        .option("path", sink.getAbsolutePath)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      val batches = q.recentProgress.count(_.numInputRows > 0).toLong
      val names = Option(sink.listFiles()).getOrElse(Array.empty).map(_.getName)
      val nFiles = names.count(_.endsWith(".glog")).toLong
      // epoch markers live in _glog_metadata/ and are GC'd to the latest
      // epoch at each commit (the replay ledger stays O(1), not O(epochs))
      val metaNames = Option(new java.io.File(sink,
          sources.GraftLogSource.MetaDirName).listFiles())
        .getOrElse(Array.empty).map(_.getName)
      // two ledger files per retained epoch: the claim marker plus the
      // immutable post-CAS version sidecar (the replay's commit proof)
      val markersOk = metaNames.count(_.startsWith("_epoch-")) == 2 &&
        metaNames.contains(s"_epoch-${batches - 1}.committed") &&
        metaNames.contains(s"_epoch-${batches - 1}.version") &&
        !names.exists(_.endsWith(".inprogress"))
      val back = spark.read.format("glog")
        .option("path", sink.getAbsolutePath).load()
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents")).collect()(0)
      val oracle = t(spark, dir, "events")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents")).collect()(0)
      Seq((batches, nFiles, back.getLong(0), markersOk,
        back.getLong(0) == oracle.getLong(0) &&
          back.getLong(1) == oracle.getLong(1)))
        .toDF("n_batches", "n_files", "n_rows", "epochs_marked", "matches_batch")
    } finally deleteRecursively(ckpt)
  }

  /** MEASURED runtime filtering INTO the DSv2 scan
    * (SupportsRuntimeV2Filtering) — the connector member of the
    * runtime-pruning proof family (eng_runtime_filter: Bloom into a
    * parquet fact; eng_dpp_scan: partition DPP; this: the same
    * runtime signal delivered INSIDE a custom source). Reference
    * analog: cascade early-exit — skip work on a runtime confidence
    * signal another stage produced (dsp_models/cascade_model.c:71-133).
    *
    * Stages (shared 8-file glog fixture):
    *  - `1_join_foil`: glog fact ⋈ broadcast(filtered dim) on
    *    user_id with dynamic pruning disabled — every fixture row is
    *    parsed and shipped into the join.
    *  - `2_join_pruned`: the SAME join with dynamic pruning on:
    *    Spark executes the dim filter first and hands the surviving
    *    user_ids to the scan as a runtime IN predicate
    *    (`rt_delivered` censuses the connector's runtimeFilterCensus
    *    hook); the readers then drop non-matching rows BEFORE the
    *    join — `rows_emitted` is the measured saving, results
    *    identical (`ok`). (Join keys of DOUBLE type cannot take this
    *    path on current Spark: NormalizeNaNAndZero wraps the key and
    *    defeats the runtime-filter translation upstream — so the
    *    zone map's file-level twin of this pruning only engages for
    *    the `_file` group filter below; documented, not assumed.)
    *  - `3_dml_group`: UPDATE with a predicate on a column the
    *    format cannot prune by (event_id) on a scratch copy: Spark's
    *    runtime group filtering (RowLevelOperationRuntimeGroupFiltering)
    *    runs the condition as a subquery over the table, delivers
    *    the matching `_file` names back through the SAME interface,
    *    and the copy-on-write rewrite opens and restates ONLY those
    *    files — `files_kept` censuses the rewrite set (1 of 8),
    *    `rows_emitted` the byte-untouched file count (7). Round 9's
    *    behavior — every zone-kept file rewritten — is the foil this
    *    stage retires.
    *
    * At 100 TB: stage 2 is what keeps a glog fact ⋈ filtered-dim
    * star join from parsing the whole log before the join throws
    * 99 % of it away; stage 3 is what keeps a point UPDATE from
    * rewriting every file the static zone map cannot exonerate. */
  private val rtfDimLayouts = new SessionMemo[String]
  private def ensureRtfDim(spark: SparkSession, dir: String): String =
    rtfDimLayouts(spark, dir) {
      val tmp = ScratchDir.create("graft_rtf_dim")
      // dim: every distinct user id, ~1/23 tagged 'pick' — written
      // as parquet so the tag filter only resolves at runtime
      t(spark, dir, "events").select(col("user_id")).distinct()
        .withColumn("tag",
          when(col("user_id") % 23 === 5, lit("pick")).otherwise(lit("skip")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/dim")
      s"$tmp/dim"
    }

  private def dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

    val (stage, _, _) = ensureGlogFixture(spark, dir)
    val dim = spark.read.parquet(ensureRtfDim(spark, dir))
    val fact = spark.read.format("glog")
      .option("path", stage.getAbsolutePath).load()

    def rowsEmitted(df: DataFrame): Long =
      flattenExecuted(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec =>
          b.metrics.get("rowsEmitted").map(_.value).getOrElse(0L)
      }.sum
    def joined(): DataFrame = fact
      .join(broadcast(dim.filter(col("tag") === "pick")), Seq("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))

    val dppKey = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val saved = spark.conf.get(dppKey)
    val (foil, pruned, rtDelivered) = try {
      spark.conf.set(dppKey, "false")
      val f = joined(); val fRow = f.collect()(0)
      spark.conf.set(dppKey, "true")
      sources.GraftLogSource.runtimeFilterCensus.remove(stage.getAbsolutePath)
      val p = joined(); val pRow = p.collect()(0)
      val delivered = Option(
        sources.GraftLogSource.runtimeFilterCensus.get(stage.getAbsolutePath))
        .exists(_.nonEmpty)
      ((rowsEmitted(f), fRow), (rowsEmitted(p), pRow), delivered)
    } finally spark.conf.set(dppKey, saved)
    val joinOk = foil._2.getLong(0) == pruned._2.getLong(0) &&
      foil._2.getLong(1) == pruned._2.getLong(1) && rtDelivered

    // stage 3: runtime group filtering on a scratch copy
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val dml = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_glog_rtf_$sfName")
    if (dml.exists()) deleteRecursively(dml.toPath)
    dml.mkdirs()
    val fixtureFiles = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".glog"))
    fixtureFiles.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dml, f.getName).toPath): Unit
    }
    // one specific row: the max event id (bounded 1-row collect) —
    // event_id is not a zone-map column, so WITHOUT runtime group
    // filtering every file would rewrite
    val targetId = t(spark, dir, "events")
      .agg(max(col("event_id"))).collect()(0).getLong(0)
    spark.sql("DROP TABLE IF EXISTS graft_glog_rtf_bench")
    val (keptDml, untouched, ok3) = try {
      spark.sql(s"""CREATE TABLE graft_glog_rtf_bench USING glog
        OPTIONS (path '${dml.getAbsolutePath}')""")
      val n0 = spark.sql("SELECT count(*) FROM graft_glog_rtf_bench")
        .collect()(0).getLong(0)
      def liveNames() = sources.GraftLogSource.listCommitted(
        new org.apache.hadoop.fs.Path(dml.getAbsolutePath),
        sources.GraftLogSource.driverHadoopConf(), Seq.empty)
        ._1.map(_.getPath.getName).toSet
      val before = liveNames()
      spark.sql(s"""UPDATE graft_glog_rtf_bench
        SET event_type = 'rtf_updated' WHERE event_id = $targetId""")
      // LIVE names via the manifest: the rewritten group's original
      // stays on disk as a snapshot orphan, so a raw listing would
      // read 8 "untouched" files; the live intersection is the real
      // byte-untouched census (7 of 8)
      val after = liveNames()
      val untouched = (before intersect after).size
      val (_, kept, _) =
        sources.GraftLogSource.planCensus.get(dml.getAbsolutePath)
      val updated = spark.sql("""SELECT count(*) FROM graft_glog_rtf_bench
        WHERE event_type = 'rtf_updated'""").collect()(0).getLong(0)
      val n1 = spark.sql("SELECT count(*) FROM graft_glog_rtf_bench")
        .collect()(0).getLong(0)
      (kept, untouched.toLong,
        updated == 1L && n1 == n0 && untouched == before.size - 1)
    } finally spark.sql("DROP TABLE IF EXISTS graft_glog_rtf_bench")

    Seq(
      ("1_join_foil", fixtureFiles.length, fixtureFiles.length,
        foil._1, foil._2.getLong(0), true),
      ("2_join_pruned", fixtureFiles.length, fixtureFiles.length,
        pruned._1, pruned._2.getLong(0), joinOk),
      ("3_dml_group", fixtureFiles.length, keptDml, untouched,
        1L, ok3))
      .toDF("stage", "files_total", "files_kept", "rows_emitted",
        "n_rows", "ok")
      .orderBy(col("stage"))
  }

  /** MEASURED dataset caching (CACHE TABLE / InMemoryRelation) — the
    * share-a-hot-intermediate surface every BI/dashboard deployment
    * leans on: several consumers reference the same rollup, and
    * without caching each one re-scans and re-aggregates the fact
    * table. The cacheable thing at 100 TB is never the raw scan — it
    * is the small shared AGGREGATE (here the per-user rollup), cached
    * MEMORY_AND_DISK so an undersized executor pool spills instead of
    * evicting-and-recomputing or OOMing. Reference analog: the
    * weight-stationary discipline — load weights into CIM arrays once
    * and reuse them across every inference instead of re-streaming
    * from flash per call.
    *
    * Both stages run the same two consumers (top-5 spenders; an
    * activity histogram). Stage `1_uncached`: each consumer's
    * executed plan scans parquet again (n_file_scans census). Stage
    * `2_cached`: after CACHE + a materializing pass, each consumer
    * plan reads an InMemoryTableScan and NO file scan — the fact
    * table is touched zero times (censuses from the executed plans,
    * `is_cached` from the catalog). `match_uncached` pins identical
    * results. Uncached/cached plan censuses and equality are
    * spec-asserted in LayoutSpec; UNCACHE restores the catalog in
    * `finally`. */
  private def cacheTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val view = "graft_cached_rollup"
    val rollup = t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    rollup.createOrReplaceTempView(view)
    try {
      def scanCensus(df: DataFrame): (Long, Long) = {
        val nodes = flattenExecuted(df.queryExecution.executedPlan)
        (nodes.count(_.isInstanceOf[FileSourceScanExec]).toLong,
          nodes.count(_.isInstanceOf[InMemoryTableScanExec]).toLong)
      }
      // two downstream consumers of the shared rollup
      def consumers(): ((Long, Long), Long, Long) = {
        val top = spark.table(view).orderBy(col("cents").desc, col("user_id"))
          .limit(5).agg(sum(col("cents")).as("top_cents"))
        val hist = spark.table(view)
          .groupBy((col("n_events") / 10).cast("long").as("decade"))
          .agg(count(lit(1)).as("n_users"))
          .agg(sum(col("decade") * col("n_users")).as("hist_sum"))
        val topCents = top.collect()(0).getLong(0)
        val histSum = hist.collect()(0).getLong(0)
        val (f1, m1) = scanCensus(top)
        val (f2, m2) = scanCensus(hist)
        ((f1 + f2, m1 + m2), topCents, histSum)
      }
      val ((files1, mem1), top1, hist1) = consumers()
      spark.catalog.cacheTable(view,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      spark.table(view).count() // materialize the cache once
      val cached = spark.catalog.isCached(view)
      val ((files2, mem2), top2, hist2) = consumers()
      Seq(
        ("1_uncached", files1, mem1, false, top1, hist1, true),
        ("2_cached", files2, mem2, cached, top2, hist2,
          top2 == top1 && hist2 == hist1))
        .toDF("stage", "n_file_scans", "n_mem_scans", "is_cached",
          "top_cents", "hist_sum", "match_uncached")
        .orderBy(col("stage"))
    } finally {
      spark.catalog.uncacheTable(view)
      spark.catalog.dropTempView(view)
      ()
    }
  }

  /** `f` over every path under `root`, `root` first and each
    * directory before its contents; the walk's directory handles are
    * closed when `f` returns, so `f` must not let the iterator escape. */
  private def walkTree[A](root: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try f(walk.iterator().asScala) finally walk.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    walkTree(p)(_.toSeq).sortBy(-_.getNameCount)
      .foreach(f => java.nio.file.Files.deleteIfExists(f))

  private def copyRecursively(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit =
    walkTree(src)(_.foreach { f =>
      val to = dst.resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to): Unit
      else java.nio.file.Files.copy(f, to): Unit
    })

  /** Hardlink tree copy (byte-copy fallback when the filesystem
    * refuses links). Safe for staging IMMUTABLE-file layouts: parquet
    * files are never modified in place — a consumer that rewrites the
    * linked tree (e.g. compaction) writes new files and unlinks old
    * names, which never touches the source inodes. */
  private def linkRecursively(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit =
    walkTree(src)(_.foreach { f =>
      val to = dst.resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to): Unit
      else
        try java.nio.file.Files.createLink(to, f): Unit
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(f, to): Unit
        }
    })

  /** Count-min + Bloom sketches vs exact counts for probe users
    * (sketch family beside the HLL check; seeded, deterministic).
    * Probes 0..9 exist in every SF; 999999 probes the absent case. */
  private def sketches(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.frequencySketch(t(spark, dir, "events"), "user_id",
      probes = (0L to 9L) :+ 999999L)

  /** HLL approximate distinct (declared engine-side: approximate). */
  private def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        approx_count_distinct(col("event_id")).as("approx_events"))
      .orderBy(col("event_type"))

  /** MEASURED incremental-rollup maintenance
    * (operators/IncrementalAgg): the base partial state (days < 21,
    * ~2/3 of the table) is built ONCE per (session, dir) — it models
    * the state a nightly pipeline already holds — and the measured
    * work is exactly what an ingest pays: partial-aggregate the new
    * slice (days >= 21), merge it into the base state, finalize.
    * O(delta), never O(history); equality with the full direct
    * recompute is spec-asserted (IncrementalAggSpec). */
  private val basePartialCache = new SessionMemo[DataFrame]
  private val incrementalSplit = "2024-01-21"
  private def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val base = basePartialCache(spark, dir) {
      Checkpoints.truncate(operators.IncrementalAgg.partial(
        t(spark, dir, "events")
          .filter(col("ts") < lit(incrementalSplit).cast("timestamp")),
        Seq("event_type"), "value", "user_id"))
    }
    val delta = operators.IncrementalAgg.partial(
      t(spark, dir, "events")
        .filter(col("ts") >= lit(incrementalSplit).cast("timestamp")),
      Seq("event_type"), "value", "user_id")
    operators.IncrementalAgg
      .finalize(operators.IncrementalAgg.merge(Seq("event_type"), base, delta),
        Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** MEASURED spherical k-means trained to CONVERGENCE over the
    * embeddings table (operators/KMeans): k=8 cells from the
    * deterministic sampled init, Lloyd iterations until max centroid
    * movement <= 1e-4 (capped at 5). The timed work is the real
    * training loop — one distributed aggregate per iteration, k × dim
    * doubles to the driver, corpus never collected. Output is the
    * per-iteration convergence report (objective = mean best-cosine,
    * non-decreasing — spec-asserted in KMeansSpec). */
  private def kmeansFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val init = SimilaritySearch.sampledCodebook(emb, "vec_id", "embedding", 8)
    val (_, hist) = KMeans.fit(emb, "embedding", maxIter = 5, tol = 1e-4, init)
    hist.toDF()
      .select(col("iter"), round(col("objective"), 6).as("objective"),
        round(col("maxMove"), 6).as("max_move"), col("usedCells").as("used_cells"))
      .orderBy(col("iter"))
  }

  /** Two-phase salted aggregation over the events table: event_type
    * has only a handful of values over the whole table — the
    * canonical hot-key aggregation. The salt spreads each key over 16
    * sub-keys before the partial aggregate, so no single reducer owns
    * a whole key's rows; phase 2 merges 16 partials per key.
    * Result-equal to the direct groupBy (asserted in LayoutSpec). */
  private def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    operators.Salting.saltedStats(t(spark, dir, "events"),
        keyCol = "event_type", valueCol = "value", distinctCol = "event_id",
        salts = 16)
      .select(col("event_type"), col("cnt"),
        round(col("sum_v"), 4).as("sum_v"), round(col("avg_v"), 4).as("avg_v"),
        round(col("min_v"), 4).as("min_v"), round(col("max_v"), 4).as("max_v"))
      .orderBy(col("event_type"))

  /** Salted equi-join over the same hot key (the join member of the
    * skew pair beside eng_salted_agg): every events row joins the
    * tiny per-type dimension on event_type — a handful of distinct
    * values, so a plain shuffle join lands each type's entire row set
    * on one reducer. Salting.saltedJoin spreads each type over 16
    * salts with a 16×-replicated dimension; result equality with the
    * plain join is asserted in LayoutSpec. The post-join aggregate
    * keeps the entry's output bounded (one row per type). */
  private def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    // dimension weight from PORTABLE string functions (length/ascii —
    // identical in DuckDB), so the entry is oracle-checkable; the
    // weight itself is arbitrary, it only has to be deterministic
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_w",
        pmod(length(col("event_type")) * lit(31) +
          ascii(substring(col("event_type"), 1, 1)), lit(97)) + lit(1))
    operators.Salting.saltedJoin(ev, dim, "event_type", "event_id", salts = 16)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value") * col("type_w")), 4).as("weighted_v"))
      .orderBy(col("event_type"))
  }

  /** Approximate percentiles (Greenwald-Khanna quantile summaries —
    * the quantile member of the sketch family beside HLL, count-min
    * and Bloom): tail latencies per event type at accuracy 1000,
    * against which qa4's exact percentile is the small-scale oracle
    * analog. One distributed aggregate, KB-sized state per group —
    * the only viable percentile at 100 TB (exact needs a full sort). */
  private def approxPercentile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(element_at(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)"), 1), 4).as("p50"),
        round(element_at(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)"), 2), 4).as("p90"),
        round(element_at(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)"), 3), 4).as("p99"))
      .orderBy(col("event_type"))

  /** Symmetric int8 quantize/dequantize via the typed function
    * library (engine spelling of qv6, exercising VectorFunctions). */
  private def quantizeLib(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    emb.select(col("vec_id"),
        VectorFunctions.quantScale(col("embedding")).as("scale"),
        VectorFunctions.quantizeInt8(col("embedding")).as("q"))
      .select(col("vec_id"), round(col("scale"), 8).as("scale"),
        element_at(col("q"), 1).as("q0"),
        size(filter(col("q"), x => abs(x) > 100)).as("n_large"))
      .orderBy(col("vec_id"))
  }

  /** Cascade early-exit over embeddings (ref cascade_model.c): two
    * deterministic linear scorer "layers", exit-layer distribution. */
  /** Deterministic cascade scorer weights — layer l, class c, dim d →
    * fixed small rationals, shared by the query AND its generated
    * DuckDB oracle (weights can never drift between the two). */
  private[graft] def cascadeW(l: Int): Array[Array[Double]] =
    Array.tabulate(4, 64)((c, d) => ((d * 7 + c * 13 + l * 3) % 11 - 5) / 2.0)
  private val cascadeThreshold = 0.6

  private def cascade(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val layers = Seq((cascadeW(0), Array.fill(4)(0.0)),
      (cascadeW(1), Array.fill(4)(0.0)))
    Cascade.exitStats(
      Cascade.earlyExit(emb, "embedding", layers, threshold = cascadeThreshold),
      layers.size)
  }

  /** Full-model MLP inference as ONE distributed query — the
    * reference's end-to-end use case (its codegen emits complete
    * firmware and a Python digital twin running the whole net,
    * /root/reference/mlir_compiler/codegen_cim.py:555-688): embedding
    * → FC(64→16)+bias+ReLU → FC(16→4)+bias → stable softmax → argmax
    * + confidence (ref op #18), reported per predicted class. Weights
    * are deterministic literals shipped in the plan (the ≤512 KB
    * artifact discipline); every layer is a projection over the SAME
    * row — zero shuffles until the 4-row report aggregate, so at
    * 100 TB inference throughput scales with scan bandwidth.
    * Differential-tested against a plain-Scala forward pass
    * (MlpForwardSpec). */
  private def mlpForward(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val x = emb.select(col("vec_id"),
      VectorFunctions.vecToDouble(col("embedding")).as("x"))
    val h = operators.MatMul.fcLayer(x, "x", MlpWeights.w1, MlpWeights.b1, relu = true)
      .select(col("vec_id"), col("fc_out").as("h"))
    val z = operators.MatMul.fcLayer(h, "h", MlpWeights.w2, MlpWeights.b2, relu = false)
      .select(col("vec_id"), col("fc_out").as("z"))
    val p = z.select(col("vec_id"), VectorFunctions.vecSoftmax(col("z")).as("p"))
    p.select(col("vec_id"),
        expr("array_position(p, array_max(p))").cast("int").as("cls"),
        expr("array_max(p)").as("conf"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("conf")), 4).as("avg_conf"),
        round(min(col("conf")), 4).as("min_conf"))
      .orderBy(col("cls"))
  }

  /** INT8-quantized MLP inference vs the float path, in ONE query —
    * the reference's actual deployment mode (its codegen exports int8
    * weights and the CIM array accumulates integers,
    * /root/reference/mlir_compiler/codegen_cim.py:453-468,
    * /root/reference/tools/quantizer.py:24-38): per-output-channel
    * symmetric int8 weights (driver-side literals), per-row symmetric
    * int8 activations, integer accumulation (exact in doubles —
    * |acc| ≤ 127·127·64 ≪ 2^53), dequant by s_x·s_w, same
    * bias/ReLU/softmax tail. The report is the quantization
    * consistency check a deployment run reads: class-agreement ratio
    * against the float path and the worst/mean logit perturbation.
    * Same shuffle shape as eng_mlp_forward: projections only, then a
    * 1-row report. */
  private def mlpForwardInt8(spark: SparkSession, dir: String): DataFrame = {
    import VectorFunctions.{vecDot, vecToDouble}
    def chanQuant(w: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
      val scales = w.map(row => math.max(row.map(math.abs).max, 1e-12) / 127.0)
      (w.zip(scales).map { case (row, s) => row.map(x => math.rint(x / s)) }, scales)
    }
    val (w1q, s1) = chanQuant(MlpWeights.w1)
    val (w2q, s2) = chanQuant(MlpWeights.w2)

    val emb = t(spark, dir, "embeddings")
    val x = emb.select(col("vec_id"), vecToDouble(col("embedding")).as("x"))
    // float reference path
    val hF = operators.MatMul.fcLayer(x, "x", MlpWeights.w1, MlpWeights.b1, relu = true)
      .select(col("vec_id"), col("x"), col("fc_out").as("hf"))
    val zF = operators.MatMul.fcLayer(hF, "hf", MlpWeights.w2, MlpWeights.b2, relu = false)
      .select(col("vec_id"), col("x"), col("fc_out").as("zf"))
    // int8 path: quantize activations per row, integer-accumulate per
    // channel, dequant + bias (+ReLU), twice
    def qLayer(df: DataFrame, inCol: String, outName: String,
               wq: Array[Array[Double]], sw: Array[Double], bias: Array[Double],
               relu: Boolean): DataFrame = {
      // bind scale + quantized activations as REAL columns so the
      // nCHANNEL dot products share one evaluation instead of each
      // re-quantizing the input array
      val sxCol = outName + "_sx"
      val xqCol = outName + "_xq"
      val sx = greatest(VectorFunctions.vecAbsMax(col(inCol)), lit(1e-12)) / lit(127.0)
      val bound = df.withColumn(sxCol, sx)
        .withColumn(xqCol, transform(col(inCol), v =>
          greatest(lit(-127.0), least(lit(127.0), round(v / col(sxCol))))))
      val outs = wq.indices.map { o =>
        val acc = vecDot(col(xqCol), array(wq(o).map(lit): _*))
        val pre = acc * col(sxCol) * lit(sw(o)) + lit(bias(o))
        if (relu) greatest(pre, lit(0.0)) else pre
      }
      bound.withColumn(outName, array(outs: _*)).drop(sxCol, xqCol)
    }
    val hQ = qLayer(zF, "x", "hq", w1q, s1, MlpWeights.b1, relu = true)
    val zQ = qLayer(hQ, "hq", "zq", w2q, s2, MlpWeights.b2, relu = false)

    val per = zQ.select(
      expr("array_position(zf, array_max(zf))").as("cls_f"),
      expr("array_position(zq, array_max(zq))").as("cls_q"),
      expr("array_max(zip_with(zf, zq, (a, b) -> abs(a - b)))").as("dlogit"))
    per.agg(
        count(lit(1)).as("n"),
        round(avg(when(col("cls_f") === col("cls_q"), 1.0).otherwise(0.0)), 4).as("class_agree"),
        round(max(col("dlogit")), 4).as("max_dlogit"),
        round(avg(col("dlogit")), 4).as("mean_dlogit"))
  }

  /** Unbounded distributed skyline over lineitem (3 minimized dims) —
    * the scale spelling of qx14's bounded NOT-EXISTS oracle: phase-1
    * local skylines kill ~all rows in parallel, phase-2 resolves the
    * small candidate union in one task (operators.Skyline). */
  private def skylineFull(spark: SparkSession, dir: String): DataFrame =
    operators.Skyline.skyline(
        t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_tax"), col("l_quantity")),
        Seq("l_extendedprice", "l_tax", "l_quantity"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 4).as("price"),
        round(col("l_tax"), 4).as("tax"),
        round(col("l_quantity"), 4).as("qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("price"),
        col("tax"), col("qty"))

  /** Interactive top-k session (EDBT'20 analog): ONE corpus
    * materialization at margin 100, then three refinements (k=10,
    * k=50, k=25 above the 10th score) answered purely from the cached
    * prefix — the measured number is build + refinements; the
    * no-rescan property is plan-asserted in IncrementalTopKSpec. */
  private def incrementalTopK(spark: SparkSession, dir: String): DataFrame = {
    val s = operators.IncrementalTopK.session(
      t(spark, dir, "part"), "p_partkey", col("p_retailprice"), margin = 100)
    try {
      val cut = s.topK(10).agg(min(col("score"))).head().getDouble(0)
      Checkpoints.truncate(s.topK(10).withColumn("refinement", lit("k10"))
        .unionByName(s.topK(50).withColumn("refinement", lit("k50")))
        .unionByName(s.topK(25, cut).withColumn("refinement", lit("k25cut")))
        .select(col("refinement"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("refinement"), col("score").desc_nulls_last, col("id")))
    } finally s.unpersist()
  }

  /** Trajectory top-k: the 10 users whose event-value trajectories
    * are DTW-nearest to user 1's (operators.Trajectory; probe cached
    * per (session, dir) like the ANN probe vector). */
  private val trajCache = new SessionMemo[Seq[Double]]
  private def trajectoryTopK(spark: SparkSession, dir: String): DataFrame = {
    val traj = operators.Trajectory.build(
      t(spark, dir, "events"), "user_id", "ts", "value")
    val probe = trajCache(spark, dir) {
      traj.filter(col("key") === 1L).select(col("traj")).head().getSeq[Double](0)
    }
    operators.Trajectory.topKSimilar(traj, probeKey = 1L, k = 10, Some(probe))
      .withColumnRenamed("key", "user_id")
  }

  /** BM25 lexical top-k over the documents corpus for a fixed literal
    * query — the sparse retrieval path beside the dense ANN entries.
    * Corpus stats (per-term document frequency + avg doc length) are
    * ONE aggregate pass cached per (session, dir) like the IVF
    * codebook; the measured run is the scoring path: a shuffle-free
    * compiled projection (term_counts kernel) into
    * TakeOrderedAndProject. */
  private val bm25Terms = Seq("spark", "join", "filter", "window")
  private val bm25Cache = new SessionMemo[operators.Bm25.Stats]
  private def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val stats = bm25Cache(spark, dir)(operators.Bm25.stats(docs, "text", bm25Terms))
    operators.Bm25.topK(docs, "doc_id", "text", bm25Terms, stats, k = 15)
  }

  /** Hybrid lexical+dense retrieval (operators/HybridSearch): BM25
    * candidates (cached corpus stats, compiled TF kernel) and dense
    * cosine candidates (vec_id==doc_id) fused by reciprocal rank —
    * the composed retrieval stack over the two index families the
    * engine already ships. Fusion touches only the two ≤50-row
    * candidate lists; differential-tested against a plain-Scala RRF
    * in HybridSearchSpec. */
  private def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val stats = bm25Cache(spark, dir)(operators.Bm25.stats(docs, "text", bm25Terms))
    operators.HybridSearch.hybridTopK(
      docs, "doc_id", "text", bm25Terms, stats,
      t(spark, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", probeVec(spark, dir), k = 15)
  }

  /** Trigram-LM quality gate over the documents corpus (CCNet-style
    * perplexity filter). Threshold −7.2 sits inside the observed
    * in-language score band so the report exercises both sides of the
    * gate. The trained model is an index-build artifact cached per
    * (session, dir) like the IVF codebook — at scale the LM is
    * trained once and reused across every scoring run, so the bench
    * measures the SCORING path (one compiled shuffle-free projection
    * + the per-lang report aggregate). */
  private val lmModelCache = new SessionMemo[Map[String, graft.expressions.TrigramModel]]
  private def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val models = lmModelCache(spark, dir)(LmScore.collectModel(LmScore.trigramModel(docs)))
    LmScore.scoredReport(LmScore.scoreDocsCompiled(docs, models), lit(-7.2))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eng_mlp_forward" -> mlpForward,
    "eng_mlp_forward_int8" -> mlpForwardInt8,
    "eng_bm25_topk" -> bm25TopK,
    "eng_skyline" -> skylineFull,
    "eng_trajectory_topk" -> trajectoryTopK,
    "eng_incremental_topk" -> incrementalTopK,
    "eng_lm_score" -> lmScore,
    "eng_attention_causal" -> attention,
    "eng_transformer_block" -> transformerBlock,
    "eng_llama_block" -> llamaBlock,
    "eng_bucketed_star" -> bucketedStar,
    "eng_cascade_early_exit" -> cascade,
    "eng_conv2d" -> conv2d,
    "eng_telemetry_stats" -> telemetry,
    "eng_codec_roundtrip" -> codecRoundtrip,
    "eng_compaction" -> compaction,
    "eng_zorder_scan" -> zorderScan,
    "eng_source_roundtrip" -> sourceRoundtrip,
    "eng_minhash_lsh_dedup" -> minhashDedup,
    "eng_simhash_dedup" -> simhashDedup,
    "eng_exact_dedup" -> exactDedup,
    "eng_dup_clusters" -> dupClusters,
    "eng_dedup_pipeline" -> dedupPipeline,
    "eng_embed_dedup" -> embedDedup,
    "eng_semantic_dedup" -> semanticDedup,
    "eng_sliding_window" -> slidingWindow,
    "eng_ann_brute_topk" -> annBrute,
    "eng_ann_lsh_topk" -> annLsh,
    "eng_ann_ivf_topk" -> annIvf,
    "eng_ivf_incremental" -> ivfIncremental,
    "eng_ivf_compaction" -> ivfCompaction,
    "eng_ann_lsh_pairs" -> annPairJoin,
    "eng_ann_pq_topk" -> annPq,
    "eng_ann_sq8_topk" -> annSq8,
    "eng_sq8_layout" -> sq8Layout,
    "eng_ann_ivfpq_topk" -> annIvfPq,
    "eng_ivf_pruned_scan" -> ivfPrunedScan,
    "eng_incremental_dedup" -> incrementalDedup,
    "eng_hybrid_search" -> hybridSearch,
    "eng_dpp_scan" -> dppScan,
    "eng_ema_stateful" -> emaBatch,
    "eng_forecast_holt" -> forecastHolt,
    "eng_anomaly_forecast" -> anomalyForecast,
    "eng_pagerank" -> pagerank,
    "eng_triangles_deg" -> trianglesDeg,
    "eng_hive_partitioned_ddl" -> hivePartitionedDdl,
    "eng_cbo_stats" -> cboStats,
    "eng_cbo_histogram" -> cboHistogram,
    "eng_runtime_filter" -> runtimeFilter,
    "eng_sql_udf" -> sqlUdf,
    "eng_dsv2_source" -> dsv2Source,
    "eng_dsv2_manifest" -> dsv2Manifest,
    "eng_dsv2_ts_stats" -> dsv2TsStats,
    "eng_dsv2_changefeed" -> dsv2ChangeFeed,
    "eng_dsv2_history" -> dsv2History,
    "eng_changefeed_small_delta" -> changeFeedSmallDelta,
    "eng_stream_cdc" -> streamCdc,
    "eng_stream_cdc_small_delta" -> streamCdcSmallDelta,
    "eng_dsv2_runtime_filter" -> dsv2RuntimeFilter,
    "eng_dsv2_clustered_write" -> dsv2ClusteredWrite,
    "eng_dsv2_stream_sink" -> dsv2StreamSink,
    "eng_dsv2_colstats" -> dsv2ColStats,
    "eng_dsv2_catalog" -> dsv2Catalog,
    "eng_cache_table" -> cacheTable,
    "eng_aqe_skew" -> aqeSkew,
    "eng_exchange_reuse" -> exchangeReuse,
    "eng_complementary_filter" -> complementaryFilter,
    "eng_streaming_replay" -> streamingReplay,
    "eng_streaming_sessions" -> streamingSessions,
    "eng_stream_join" -> streamJoin,
    "eng_stream_enrich" -> streamEnrich,
    "eng_streaming_dedup" -> streamingDedupReplay,
    "eng_stream_recovery" -> streamRecovery,
    "eng_stream_backfill" -> streamBackfill,
    "eng_schema_merge" -> schemaMerge,
    "eng_partition_overwrite" -> partitionOverwrite,
    "eng_observed_metrics" -> observedMetrics,
    "eng_lstm_state" -> lstmState,
    "eng_lang_id" -> langId,
    "eng_quality_score" -> qualityScore,
    "eng_doc_fingerprint" -> fingerprints,
    "eng_wordpiece" -> wordpiece,
    "eng_bpe_train" -> bpeTrain,
    "eng_multimodal_features" -> multimodal,
    "eng_binary_ingest" -> binaryIngest,
    "eng_approx_distinct" -> approxDistinct,
    "eng_incremental_agg" -> incrementalAgg,
    "eng_kmeans_fit" -> kmeansFit,
    "eng_approx_percentile" -> approxPercentile,
    "eng_salted_agg" -> saltedAgg,
    "eng_salted_join" -> saltedJoinAgg,
    "eng_cms_bloom_sketch" -> sketches,
    "eng_heavy_hitters" -> heavyHitters,
    "eng_quantize_int8" -> quantizeLib)

  /** DuckDB oracle spellings for the deterministic eng_* entries that
    * ARE plain-SQL-expressible — promoted into the driver's
    * hash-checked oracle population (their checksum goldens stay as a
    * second net). Each was verified value-exact against the Spark
    * output: integer results are exact by construction; double
    * results round to 4 (8 for the quantization scale) decimals on
    * BOTH sides, and the per-row kernels (dot products, round-half-up,
    * stable softmax) are spelled so the engines agree bit-for-bit
    * before the rounding even applies (sequential list folds, exact
    * float→double widening, same away-from-zero rounding). */
  def oracleSql: Map[String, String] = Map(
    // relational conv2d: the 2x2 edge kernel [[1,0],[0,-1]] reduces to
    // v[y,x] - v[y+1,x+1]; the 0-weight terms the Spark join carries
    // add exact 0.0 and cannot move the sum
    "eng_conv2d" ->
      """WITH px AS (
        |  SELECT vec_id AS img_id,
        |         CAST((generate_subscripts(embedding, 1) - 1) // 8 AS INT) AS y,
        |         CAST((generate_subscripts(embedding, 1) - 1) % 8 AS INT) AS x,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 256)
        |SELECT a.img_id, count(*) AS n_out,
        |       round(sum(abs(a.v - b.v)), 4) AS edge_energy
        |FROM px a JOIN px b ON a.img_id = b.img_id
        |  AND b.y = a.y + 1 AND b.x = a.x + 1
        |GROUP BY a.img_id ORDER BY a.img_id""".stripMargin,
    // symmetric int8 quantization: absmax/127 scale (1e-12 guard),
    // round-half-away-from-zero, clip to [-127, 127]
    "eng_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         greatest(list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS sc
        |  FROM embeddings)
        |SELECT vec_id,
        |       round(sc, 8) AS scale,
        |       CAST(greatest(-127, least(127,
        |         round(CAST(embedding[1] AS DOUBLE) / sc))) AS INT) AS q0,
        |       CAST(len(list_filter(list_transform(embedding,
        |         x -> greatest(-127.0, least(127.0,
        |           round(CAST(x AS DOUBLE) / sc)))),
        |         q -> abs(q) > 100)) AS INT) AS n_large
        |FROM s ORDER BY vec_id""".stripMargin,
    "eng_mlp_forward" -> mlpOracleSql,
    "eng_lang_id" -> langIdOracleSql,
    "eng_ema_stateful" -> emaOracleSql,
    "eng_pagerank" -> pagerankOracleSql,
    "eng_bm25_topk" -> bm25OracleSql,
    "eng_hybrid_search" -> hybridOracleSql,
    "eng_lm_score" -> lmScoreOracleSql,
    "eng_wordpiece" -> wordpieceOracleSql,
    "eng_kmeans_fit" -> kmeansOracleSql,
    "eng_anomaly_forecast" -> anomalyOracleSql,
    "eng_ann_lsh_topk" -> annLshOracleSql,
    "eng_ann_lsh_pairs" -> annLshPairsOracleSql,
    "eng_embed_dedup" -> embedDedupOracleSql,
    // exact brute-force cosine top-k: both engines compute the same
    // sequential float→double dot/norms; rank-boundary gaps in the
    // fixed fixture are ≥1e-3 (empirically checked), far above any
    // cross-engine ulp drift, and the id tie-break is total
    "eng_ann_brute_topk" ->
      """WITH pr AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS p
        |  FROM embeddings WHERE vec_id = 0),
        |xe AS (SELECT vec_id AS id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings WHERE vec_id <> 0),
        |sc AS (SELECT id,
        |  list_dot_product(x, p) /
        |    (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(p, p))) AS c
        |  FROM xe, pr)
        |SELECT id, round(c, 4) AS cosine FROM sc
        |ORDER BY c DESC NULLS LAST, id ASC LIMIT 10""".stripMargin,
    // SQ8 quantized top-k: the full pipeline replayed — symmetric
    // int8 codes (absmax/127 scale, round-HALF-EVEN like math.rint,
    // clamp), code cosine as a ratio of EXACT integer sums (identical
    // doubles on both engines — no fp-order anywhere), top-50
    // candidates with id tie-break, exact-cosine re-rank
    "eng_ann_sq8_topk" ->
      """WITH xe AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings),
        |q AS (SELECT vec_id, x,
        |  list_max(list_transform(x, v -> abs(v))) / 127.0 AS sc FROM xe),
        |c AS (SELECT vec_id, x,
        |  CASE WHEN sc > 0 THEN list_transform(x, v ->
        |         greatest(-127.0, least(127.0, round_even(v / sc, 0))))
        |       ELSE list_transform(x, v -> 0.0) END AS codes FROM q),
        |pr AS (SELECT codes AS pc, x AS px FROM c WHERE vec_id = 0),
        |ac AS (SELECT vec_id AS id, x,
        |  list_dot_product(codes, pc) AS dot,
        |  list_dot_product(codes, codes) AS ssq,
        |  list_dot_product(pc, pc) AS psq
        |  FROM c, pr WHERE vec_id <> 0),
        |acos AS (SELECT id, x, CASE WHEN ssq = 0 OR psq = 0 THEN NULL
        |  ELSE dot / (sqrt(ssq) * sqrt(psq)) END AS a FROM ac),
        |cand AS (SELECT id, x FROM acos
        |         ORDER BY a DESC NULLS LAST, id ASC LIMIT 50),
        |fin AS (SELECT id, list_dot_product(x, px) /
        |    (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(px, px))) AS c2
        |  FROM cand, pr)
        |SELECT id, round(c2, 4) AS cosine FROM fin
        |ORDER BY c2 DESC NULLS LAST, id ASC LIMIT 10""".stripMargin,
    // exact φ-heavy-hitters: the Misra-Gries sketch is only the
    // CANDIDATE generator (superset guarantee) — the operator's output
    // is the exact counts over the true hitters, which is plain SQL
    "eng_heavy_hitters" ->
      """WITH it AS (SELECT CAST(user_id AS VARCHAR) AS actor FROM events
        |            WHERE user_id IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM it)
        |SELECT actor AS item, CAST(count(*) AS BIGINT) AS cnt,
        |       round(count(*) / (SELECT n FROM tot), 4) AS freq
        |FROM it GROUP BY actor
        |HAVING count(*) > 0.008 * (SELECT n FROM tot)
        |ORDER BY cnt DESC NULLS LAST, item NULLS FIRST""".stripMargin,
    // exact triangle census: supplier co-occurrence edges (s1 < s2,
    // distinct) via self-join; wedge totals under BOTH orientations
    // (key vs Schank degree-order) as integer aggregates; triangles
    // via the canonical 3-way edge join — every scalar an exact count
    "eng_triangles_deg" ->
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        |           FROM lineitem a JOIN lineitem b
        |             ON a.l_orderkey = b.l_orderkey
        |            AND a.l_suppkey < b.l_suppkey),
        |deg AS (SELECT v, count(*) AS d FROM (
        |          SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e)
        |        GROUP BY v),
        |wkey AS (SELECT coalesce(sum(o * (o - 1) // 2), 0) AS w FROM (
        |           SELECT s1, count(*) AS o FROM e GROUP BY s1)),
        |od AS (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.s1 < e.s2)
        |                   THEN e.s1 ELSE e.s2 END AS src
        |       FROM e JOIN deg d1 ON e.s1 = d1.v JOIN deg d2 ON e.s2 = d2.v),
        |wdeg AS (SELECT coalesce(sum(o * (o - 1) // 2), 0) AS w FROM (
        |           SELECT src, count(*) AS o FROM od GROUP BY src)),
        |tri AS (SELECT count(*) AS t
        |        FROM e x JOIN e y ON y.s1 = x.s1 AND y.s2 > x.s2
        |               JOIN e z ON z.s1 = x.s2 AND z.s2 = y.s2)
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |       CAST((SELECT w FROM wkey) AS BIGINT) AS wedges_key,
        |       CAST((SELECT w FROM wdeg) AS BIGINT) AS wedges_deg,
        |       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles""".stripMargin,
    // exact dedup summary: md5 text-hash cardinality (both engines
    // emit lowercase-hex md5; only the distinct count crosses over)
    "eng_exact_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |FROM documents""".stripMargin,
    // unbounded skyline: the naive NOT-EXISTS spelling made tractable
    // by a LOSSLESS bucketed prefilter (a local skyline of ANY
    // partition retains every global skyline point — the same phase-1
    // argument operators.Skyline runs distributed), so DuckDB does
    // 32 small quadratic passes + one tiny global pass instead of one
    // 60k^2 dominance join. Dominance ties (equal points) survive on
    // both sides: strict < in at least one dim is required to kill.
    "eng_skyline" ->
      """WITH s AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |                  l_tax, l_quantity
        |           FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL
        |             AND l_tax IS NOT NULL AND l_quantity IS NOT NULL),
        |b AS (SELECT *, l_orderkey % 32 AS bk FROM s),
        |loc AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |               l_tax, l_quantity
        |        FROM b a
        |        WHERE NOT EXISTS (SELECT 1 FROM b x WHERE x.bk = a.bk
        |          AND x.l_extendedprice <= a.l_extendedprice
        |          AND x.l_tax <= a.l_tax AND x.l_quantity <= a.l_quantity
        |          AND (x.l_extendedprice < a.l_extendedprice
        |               OR x.l_tax < a.l_tax OR x.l_quantity < a.l_quantity)))
        |SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice, 4) AS price,
        |       round(l_tax, 4) AS tax, round(l_quantity, 4) AS qty
        |FROM loc a
        |WHERE NOT EXISTS (SELECT 1 FROM loc x WHERE
        |    x.l_extendedprice <= a.l_extendedprice AND x.l_tax <= a.l_tax
        |    AND x.l_quantity <= a.l_quantity
        |    AND (x.l_extendedprice < a.l_extendedprice OR x.l_tax < a.l_tax
        |         OR x.l_quantity < a.l_quantity))
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
        |         price NULLS FIRST, tax NULLS FIRST, qty NULLS FIRST""".stripMargin,
    "eng_cascade_early_exit" -> cascadeOracleSql,
    "eng_mlp_forward_int8" -> mlpInt8OracleSql,
    // salted two-phase aggregation: the salt is an execution detail —
    // results equal the direct group-by, which IS the oracle (avg
    // spelled sum/count to match the derived avg_v exactly)
    "eng_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       round(sum(value), 4) AS sum_v,
        |       round(sum(value) / count(*), 4) AS avg_v,
        |       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
        |FROM events GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    // salted equi-join: replication on (key, salt) is exactly the
    // plain join — the unsalted spelling is the oracle
    "eng_salted_join" ->
      """WITH dim AS (SELECT DISTINCT event_type,
        |    (length(event_type) * 31 + ascii(substr(event_type, 1, 1)))
        |      % 97 + 1 AS type_w FROM events)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       round(sum(e.value * d.type_w), 4) AS weighted_v
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type NULLS FIRST""".stripMargin,
    // sliding event-time windows (10 min / 5 min hop): every event
    // lands in exactly the two hop-aligned windows covering it —
    // spelled as a 2-way union of floor-bucketed starts (micros)
    "eng_sliding_window" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS tu FROM events),
        |w AS (
        |  SELECT (tu // 300000000) * 300000000 AS ws, event_type, value FROM e
        |  UNION ALL
        |  SELECT (tu // 300000000) * 300000000 - 300000000 AS ws,
        |         event_type, value FROM e)
        |SELECT ws, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       round(sum(value), 4) AS sum_v
        |FROM w GROUP BY ws, event_type
        |ORDER BY ws NULLS FIRST, event_type NULLS FIRST, cnt NULLS FIRST,
        |         sum_v NULLS FIRST""".stripMargin,
    // bucketed star join: bucketing is a physical layout (lineitem_b/
    // orders_b hold the same rows as lineitem/orders) — the plain
    // join+agg over the raw tables is the oracle
    "eng_bucketed_star" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    // incremental top-k session: the cached margin-100 prefix answers
    // three refinements; the oracle replays them as plain ordered
    // selects over the same prefix (ties broken by id — total order,
    // so both engines pick identical rows; cut = the 10th score)
    "eng_incremental_topk" ->
      """WITH cand AS (SELECT p_partkey AS id, p_retailprice AS score
        |              FROM part
        |              ORDER BY score DESC NULLS LAST, id ASC LIMIT 100),
        |k10 AS (SELECT 'k10' AS refinement, id, score FROM cand
        |        ORDER BY score DESC NULLS LAST, id ASC LIMIT 10),
        |k50 AS (SELECT 'k50' AS refinement, id, score FROM cand
        |        ORDER BY score DESC NULLS LAST, id ASC LIMIT 50),
        |cut AS (SELECT min(score) AS c FROM k10),
        |k25 AS (SELECT 'k25cut' AS refinement, id, score FROM cand, cut
        |        WHERE score >= c
        |        ORDER BY score DESC NULLS LAST, id ASC LIMIT 25)
        |SELECT refinement, id, round(score, 4) AS score
        |FROM (SELECT * FROM k10 UNION ALL SELECT * FROM k50
        |      UNION ALL SELECT * FROM k25)
        |ORDER BY refinement NULLS FIRST, score DESC NULLS LAST,
        |         id NULLS FIRST""".stripMargin,
    // heuristic document quality score: plain string/array functions
    // on both engines (whitespace-regex tokenization agrees; the
    // per-doc score is rounded to 4 before the per-source aggregate
    // exactly as TextFunctions.qualityScore does)
    "eng_quality_score" ->
      """WITH base AS (
        |  SELECT source, text,
        |         CAST(length(text) AS DOUBLE) AS n,
        |         CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS ntok,
        |         CAST(len(list_distinct(string_split_regex(text, '\s+')))
        |           AS DOUBLE) AS ndis
        |  FROM documents),
        |per AS (
        |  SELECT source,
        |    round(least(greatest(
        |      0.3 * least(n / 200.0, 1.0) +
        |      0.3 * ((n - length(regexp_replace(text, '[A-Za-z ]', '', 'g')))
        |             / greatest(n, 1.0)) +
        |      0.2 * (1.0 - least(abs(n / greatest(ntok, 1.0) - 5.5) / 10.0, 1.0)) +
        |      0.2 * (ndis / greatest(ntok, 1.0)), 0.0), 1.0), 4) AS q
        |  FROM base)
        |SELECT source, round(avg(q), 4) AS avg_quality,
        |       round(min(q), 4) AS min_quality,
        |       round(max(q), 4) AS max_quality
        |FROM per GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    // Holt linear smoothing replayed as a RECURSIVE CTE: the fold is
    // pure double arithmetic in (key, t, v) order on both engines, so
    // the recursion is bit-stable (constants rendered as the same
    // doubles; the base-branch CASTs pin DuckDB's recursive column
    // types to DOUBLE, never DECIMAL). Forecasts derive from the RAW
    // level/trend like the operator; outputs r9-then-r4 rounded.
    "eng_forecast_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id AS key,
        |         CAST(trunc(epoch_us(ts) / 86400000000.0) AS BIGINT) AS t,
        |         sum(value) / count(*) AS v
        |  FROM events WHERE user_id < 100
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT key, v,
        |         row_number() OVER (PARTITION BY key ORDER BY t, v) AS i,
        |         count(*) OVER (PARTITION BY key) AS n
        |  FROM daily),
        |fit AS (
        |  SELECT key, i, n, CAST(v AS DOUBLE) AS level,
        |         CAST(0.0 AS DOUBLE) AS trend
        |  FROM pts WHERE i = 1
        |  UNION ALL
        |  SELECT p.key, p.i, p.n,
        |         0.3 * p.v + 0.7 * (f.level + f.trend) AS level,
        |         0.1 * ((0.3 * p.v + 0.7 * (f.level + f.trend)) - f.level)
        |           + 0.9 * f.trend AS trend
        |  FROM fit f JOIN pts p ON p.key = f.key AND p.i = f.i + 1),
        |fin AS (SELECT key, n, level, trend FROM fit WHERE i = n)
        |SELECT key, CAST(n AS BIGINT) AS n,
        |       round(round(level, 9), 4) AS level,
        |       round(round(trend, 9), 4) AS trend, CAST(h AS INT) AS h,
        |       round(round(level + h * trend, 9), 4) AS forecast
        |FROM fin, (SELECT unnest([1, 2, 3]) AS h)
        |ORDER BY key NULLS FIRST, h NULLS FIRST, n NULLS FIRST,
        |         level NULLS FIRST, trend NULLS FIRST,
        |         forecast NULLS FIRST""".stripMargin)

  /** The eng_ema_stateful oracle: the per-user EMA recurrence
    * replayed as a DuckDB RECURSIVE CTE (the forecast_holt pattern —
    * pure double arithmetic folded in the same (ts, event_id) order
    * on both engines is bit-stable). The decay coefficient is
    * RENDERED FROM THE RUNTIME DOUBLE (Double.toString(1 - alpha)):
    * `1 - 0.3` is NOT the double literal `0.7`, and emitting the
    * rounded literal would drift the fold by an ulp per step. */
  private def emaOracleSql: String = {
    val alpha = 0.3
    val a = alpha.toString
    val b = (1 - alpha).toString // 0.7000000000000001 — the exact bits
    s"""WITH RECURSIVE pts AS (
       |  SELECT user_id, event_id,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY epoch_us(ts), event_id) AS i,
       |         CAST(value AS DOUBLE) AS v
       |  FROM events),
       |fit AS (
       |  SELECT user_id, event_id, i, v AS ema FROM pts WHERE i = 1
       |  UNION ALL
       |  SELECT p.user_id, p.event_id, p.i, $a * p.v + $b * f.ema
       |  FROM fit f JOIN pts p ON p.user_id = f.user_id AND p.i = f.i + 1)
       |SELECT user_id, event_id AS eventId, round(ema, 4) AS ema
       |FROM fit
       |ORDER BY user_id NULLS FIRST, eventId NULLS FIRST""".stripMargin
  }

  /** The eng_bm25_topk oracle: corpus stats (df per query term, avg
    * token length over the SAME whitespace tokenization — empties
    * included, verified parity with TextTokens.split), the Lucene idf
    * ln((N−df+0.5)/(df+0.5)+1) computed in SQL, and the per-term
    * scores summed in the operator's left-to-right order. Constants
    * render from the runtime doubles (k1+1, 1−b). The only libm
    * crossing is ln — a 1-ulp divergence sits ~6 orders of magnitude
    * under the 6-dp rounding (verified value-exact at both SFs). */
  /** The eng_lm_score oracle: the trigram model TRAINED in SQL (same
    * char trigrams over lowercased text, same Laplace smoothing, the
    * same (count desc, tri) vocab tie-break) and the per-doc mean
    * log-prob with the OOV floor — the compiled kernel's relational
    * parity spelling, which LmScoreSpec already pins the kernel to.
    * ln is the only libm crossing; the per-lang report rounds to
    * 4 dp and the -7.2 gate sits far from every score. */
  private val lmScoreOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents
      |           WHERE length(text) >= 3),
      |tg AS (SELECT doc_id, lang,
      |  unnest(list_transform(range(1, length(t) - 1),
      |    i -> substr(t, CAST(i AS INT), 3))) AS tri FROM d),
      |cnts AS (SELECT lang, tri, count(*) AS c FROM tg GROUP BY lang, tri),
      |tot AS (SELECT lang, sum(c) AS total, count(*) AS vocab
      |        FROM cnts GROUP BY lang),
      |model AS (SELECT c.lang, c.tri,
      |  ln((c.c + 1.0) / (t.total + t.vocab)) AS logp,
      |  ln(1.0 / (t.total + t.vocab)) AS fl,
      |  row_number() OVER (PARTITION BY c.lang
      |                     ORDER BY c.c DESC, c.tri) AS rn
      |  FROM cnts c JOIN tot t USING (lang)),
      |m AS (SELECT lang, tri, logp, fl FROM model WHERE rn <= 4096),
      |floors AS (SELECT lang, min(fl) AS lang_floor FROM m GROUP BY lang),
      |sc AS (SELECT tg.doc_id, tg.lang,
      |         avg(coalesce(m2.logp, floors.lang_floor)) AS s
      |       FROM tg JOIN floors USING (lang)
      |            LEFT JOIN m m2 ON m2.lang = tg.lang AND m2.tri = tg.tri
      |       GROUP BY tg.doc_id, tg.lang)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       round(avg(s), 4) AS mean_score,
      |       CAST(count(CASE WHEN s < -7.2 THEN 1 END) AS BIGINT) AS n_below
      |FROM sc GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  /** The eng_wordpiece oracle: greedy longest-match WordPiece
    * REPLAYED in SQL. The vocabulary rides the query as literals (the
    * same plan-shipped lexicon the LSH/lm_score oracles generate
    * from), and the greedy loop is a recursive CTE advancing one
    * piece per step — at each cursor the longest matching vocab piece
    * wins (start pieces match literally, continuation pieces match
    * their core after the implicit '##'), and a position with NO
    * match collapses the WHOLE word to [UNK] (the public BERT
    * contract, WordPieceExpr.tokenizeWord). Tokenization runs over
    * DISTINCT words only (the corpus repeats a small lexicon) and
    * joins back per (doc, word-index) to rebuild each doc's ordered
    * piece stream for the sample column. Pure string/integer work —
    * the only fp is the final 4-dp pieces-per-token division of two
    * exact integer sums. */
  private def wordpieceOracleSql: String = {
    val vocab = graft.expressions.WordPieceExpr.defaultVocab
    def esc(s: String): String = s.replace("'", "''")
    val rows = vocab.map { p =>
      val cont = p.startsWith("##")
      val core = if (cont) p.substring(2) else p
      s"('${esc(p)}','${esc(core)}',$cont)"
    }.mkString(",")
    s"""WITH RECURSIVE vocab(piece, core, iscont) AS (VALUES $rows),
       |words AS (
       |  SELECT doc_id, idx, ws[idx] AS word FROM (
       |    SELECT doc_id, ws,
       |           CAST(unnest(range(1, len(ws) + 1)) AS INT) AS idx
       |    FROM (SELECT doc_id,
       |            string_split_regex(text, '\\s+') AS ws FROM documents))
       |  WHERE ws[idx] <> ''),
       |uw AS (SELECT DISTINCT word FROM words),
       |tok AS (
       |  SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces,
       |         len(word) > 200 AS unk
       |  FROM uw
       |  UNION ALL
       |  SELECT word,
       |         CASE WHEN ml IS NULL THEN len(word) ELSE pos + ml END,
       |         CASE WHEN ml IS NULL THEN pieces
       |              ELSE list_append(pieces,
       |                CASE WHEN pos = 0 THEN substr(word, 1, ml)
       |                     ELSE '##' || substr(word, pos + 1, ml) END) END,
       |         ml IS NULL
       |  FROM (
       |    SELECT t.word, t.pos, t.pieces,
       |      (SELECT max(CASE WHEN t.pos = 0 THEN len(v.piece)
       |                       ELSE len(v.core) END)
       |       FROM vocab v
       |       WHERE CASE WHEN t.pos = 0
       |             THEN substr(t.word, 1, len(v.piece)) = v.piece
       |             ELSE v.iscont AND
       |               substr(t.word, t.pos + 1, len(v.core)) = v.core END) AS ml
       |    FROM tok t WHERE t.pos < len(t.word) AND NOT t.unk)),
       |wpw AS (
       |  SELECT word, CASE WHEN unk THEN ['[UNK]'] ELSE pieces END AS pieces
       |  FROM tok WHERE unk OR pos >= len(word)),
       |docp AS (
       |  SELECT w.doc_id, flatten(list(p.pieces ORDER BY w.idx)) AS wp
       |  FROM words w JOIN wpw p USING (word) GROUP BY w.doc_id),
       |perdoc AS (
       |  SELECT d.source,
       |         COALESCE(len(p.wp), 0) AS np,
       |         len(string_split_regex(d.text, '\\s+')) AS nt,
       |         COALESCE(array_to_string(p.wp[1:5], '|'), '') AS sample
       |  FROM documents d LEFT JOIN docp p USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       round(CAST(sum(np) AS DOUBLE) / sum(nt), 4) AS pieces_per_token,
       |       min(sample) AS sample_pieces
       |FROM perdoc GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
  }

  /** The eng_kmeans_fit oracle: 5 spherical-Lloyd sweeps UNROLLED as
    * a WITH chain over the same embeddings — init is the first 8
    * vectors by id (sampledCodebook), each sweep assigns by cosine
    * (list_dot_product is the same sequential float→double
    * accumulation VecDotExpr compiles; ties pick the higher cell like
    * greatest(struct)), re-sums the FLOAT-cast unit vectors per cell,
    * and re-normalizes with KMeans.fit's own 9-dp round_even — the
    * rounding that exists to pin fp-summation-order drift pins the
    * cross-engine drift here exactly as in the pagerank oracle. The
    * reported objective/max_move round to 6 dp (rint == round_even);
    * the early-stop rule (previous raw max_move > 1e-4) is replayed
    * as WHERE guards on the unioned per-sweep rows. The only
    * unordered float sums are the per-cell aggregates, absorbed by
    * the 9-dp/6-dp grids (stability probed empirically, the
    * eng_pagerank discipline). */
  private def kmeansOracleSql: String = {
    val iters = (1 to 5).map { k =>
      s"""sc$k AS (SELECT xn.vec_id, c.cell,
         |  list_dot_product(xn.v, c.cl) /
         |    (xn.nv * sqrt(list_dot_product(c.cl, c.cl))) AS cos
         |  FROM xn, c$k c),
         |b$k AS (SELECT vec_id, cell, cos FROM (
         |    SELECT vec_id, cell, cos, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
         |    FROM sc$k) WHERE rn = 1),
         |g$k AS (SELECT CAST(count(*) AS BIGINT) AS total, sum(cos) AS sumcos,
         |  CAST(count(DISTINCT cell) AS INT) AS used FROM b$k),
         |u$k AS (SELECT b.cell, d.i AS d,
         |  sum(CAST(CAST(xn.v[d.i] * (1.0 / xn.nv) AS FLOAT) AS DOUBLE)) AS s
         |  FROM b$k b JOIN xn USING (vec_id), dms d GROUP BY b.cell, d.i),
         |nn$k AS (SELECT cell, sl, sqrt(list_dot_product(sl, sl)) AS nrm
         |  FROM (SELECT cell, list(s ORDER BY d) AS sl FROM u$k GROUP BY cell)),
         |c${k + 1} AS (SELECT c.cell,
         |  CASE WHEN n.cell IS NOT NULL AND n.nrm <> 0.0
         |       THEN list_transform(n.sl,
         |              e -> round_even(e / n.nrm * 1e9, 0) / 1e9)
         |       ELSE c.cl END AS cl
         |  FROM c$k c LEFT JOIN nn$k n USING (cell)),
         |mv$k AS (SELECT max(sqrt(list_dot_product(df, df))) AS m FROM (
         |  SELECT list_transform(range(1, len(a.cl) + 1),
         |    i -> a.cl[CAST(i AS INT)] - b.cl[CAST(i AS INT)]) AS df
         |  FROM c$k a JOIN c${k + 1} b USING (cell))),
         |r$k AS (SELECT $k AS iter,
         |  round_even((SELECT sumcos / total FROM g$k) * 1e6, 0) / 1e6
         |    AS objective,
         |  round_even((SELECT m FROM mv$k) * 1e6, 0) / 1e6 AS max_move,
         |  (SELECT used FROM g$k) AS used_cells)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to 5).map { k =>
      val guards = (1 until k)
        .map(j => s"(SELECT m FROM mv$j) > 0.0001").mkString(" AND ")
      val where = if (guards.isEmpty) "" else s" WHERE $guards"
      s"SELECT iter, objective, max_move, used_cells FROM r$k$where"
    }.mkString("\nUNION ALL ")
    s"""WITH x AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
       |  FROM embeddings),
       |xn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM x),
       |dms AS (SELECT CAST(unnest(range(1, len(v) + 1)) AS INT) AS i
       |  FROM (SELECT v FROM x WHERE vec_id = (SELECT min(vec_id) FROM x))),
       |c1 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1
       |    AS cell, v AS cl
       |  FROM (SELECT vec_id, v FROM x ORDER BY vec_id LIMIT 8)),
       |$iters
       |$rows
       |ORDER BY iter""".stripMargin
  }

  /** The raw-BM25-score CTE block (tc/cnt/st/sc — `sc` holds
    * (id, s)) shared by the bm25 and hybrid oracles. */
  private def bm25ScoreCtes: String = {
    val terms = bm25Terms
    val (k1, b) = (1.2, 0.75)
    val cnts = terms.indices.map(i =>
      s"len(list_filter(tk, t -> t = '${terms(i)}')) AS c$i").mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN c$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = terms.indices.map { i =>
      s"(ln((st.n - st.df$i + 0.5) / (st.df$i + 0.5) + 1.0) * " +
        s"(CAST(c$i AS DOUBLE) * ${(k1 + 1.0).toString}) / " +
        s"(CAST(c$i AS DOUBLE) + ${k1.toString} * (${(1 - b).toString} + " +
        s"${b.toString} * CAST(dl AS DOUBLE) / st.avgdl)))"
    }.mkString(" + ") // left-to-right like terms.reduce(_ + _)
    s"""tc AS (SELECT doc_id AS id,
       |  string_split_regex(lower(text), '\\s+') AS tk FROM documents),
       |cnt AS (SELECT id, len(tk) AS dl, $cnts FROM tc),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  avg(CAST(dl AS DOUBLE)) AS avgdl, $dfs FROM cnt),
       |sc AS (SELECT id, $score AS s FROM cnt, st)""".stripMargin
  }

  private def bm25OracleSql: String =
    s"""WITH $bm25ScoreCtes
       |SELECT id, round(s, 6) AS bm25 FROM sc WHERE s > 0.0
       |ORDER BY round(s, 6) DESC NULLS LAST, id ASC LIMIT 15""".stripMargin

  /** The eng_hybrid_search oracle: both retriever runs replayed (the
    * r6-rounded BM25 top-50 and the raw-cosine dense top-50), 1-based
    * ranks re-derived per run with the same (score desc, id)
    * tie-break, and the RRF sum Σ 1/(60+rank) — two commutative
    * terms, no fp-order — rounded to 6 dp. */
  private def hybridOracleSql: String =
    s"""WITH $bm25ScoreCtes,
       |lex AS (SELECT id, round(s, 6) AS s FROM sc WHERE s > 0.0
       |        ORDER BY round(s, 6) DESC NULLS LAST, id ASC LIMIT 50),
       |lexr AS (SELECT id, row_number() OVER (
       |           ORDER BY s DESC NULLS LAST, id ASC) AS rank FROM lex),
       |pr AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS p
       |       FROM embeddings WHERE vec_id = 0),
       |xe AS (SELECT vec_id AS id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |dsc AS (SELECT id, list_dot_product(x, p) /
       |    (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(p, p))) AS s
       |  FROM xe, pr),
       |den AS (SELECT id, s FROM dsc
       |        ORDER BY s DESC NULLS LAST, id ASC LIMIT 50),
       |denr AS (SELECT id, row_number() OVER (
       |           ORDER BY s DESC NULLS LAST, id ASC) AS rank FROM den),
       |u AS (SELECT id, rank FROM lexr UNION ALL SELECT id, rank FROM denr)
       |SELECT id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
       |       CAST(count(*) AS BIGINT) AS n_runs
       |FROM u GROUP BY id
       |ORDER BY rrf_score DESC NULLS LAST, id ASC LIMIT 15""".stripMargin

  /** The eng_pagerank oracle: 8 power-iteration sweeps unrolled as a
    * WITH chain over the same weighted bidirectional trade graph.
    * Every sweep rounds to 9 dp exactly like PageRank.run — that
    * rounding exists to pin fp-summation-order drift, and it pins the
    * CROSS-ENGINE drift the same way (verified value-exact at both
    * SFs on the fixed fixture). The teleport constant renders from
    * the runtime double ((1 - 0.85).toString — not the literal 0.15,
    * which is a different double). */
  private def pagerankOracleSql: String = {
    val damping = 0.85
    val d = damping.toString
    val t = (1.0 - damping).toString // 0.15000000000000002
    val sweeps = (1 to 8).map { k =>
      s"""r$k AS (SELECT n.node,
         |  round($t + $d * coalesce(cb.contrib, 0.0), 9) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT l.dst AS node, sum(l.w * r.rank / l.outdeg) AS contrib
         |    FROM l JOIN r${k - 1} r ON l.src = r.node GROUP BY l.dst) cb
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (SELECT -l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT s AS src, c AS dst FROM tr
       |      UNION ALL SELECT c, s FROM tr),
       |w AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
       |      FROM e GROUP BY src, dst),
       |od AS (SELECT src, sum(w) AS outdeg FROM w GROUP BY src),
       |l AS (SELECT w.src, w.dst, w.w, od.outdeg FROM w JOIN od USING (src)),
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM n),
       |$sweeps
       |SELECT node, round(rank, 6) AS rank FROM r8
       |ORDER BY round(rank, 6) DESC NULLS LAST, node NULLS FIRST
       |LIMIT 20""".stripMargin
  }

  /** The eng_anomaly_forecast oracle: the one-step-ahead Holt
    * residual fold replayed as a RECURSIVE CTE (per-point r9 rounding
    * replicated via round_even — math.rint is half-even), then the
    * exact median/MAD calibration and the 5.19-MAD count in plain
    * SQL (quantile_cont is the same linear-interpolation percentile
    * Spark's `percentile` computes). Smoothing coefficients render
    * from the runtime doubles. */
  private def anomalyOracleSql: String = {
    val (alpha, beta) = (0.3, 0.1)
    val (a, a1, b, b1) =
      (alpha.toString, (1 - alpha).toString, beta.toString, (1 - beta).toString)
    s"""WITH RECURSIVE daily AS (
       |  SELECT user_id AS key,
       |         CAST(trunc(epoch_us(ts) / 86400000000.0) AS BIGINT) AS t,
       |         sum(value) / count(*) AS v
       |  FROM events WHERE user_id < 100
       |  GROUP BY 1, 2),
       |pts AS (
       |  SELECT key, v,
       |         row_number() OVER (PARTITION BY key ORDER BY t, v) AS i,
       |         count(*) OVER (PARTITION BY key) AS n
       |  FROM daily),
       |fit AS (
       |  SELECT key, i, n, CAST(v AS DOUBLE) AS level,
       |         CAST(0.0 AS DOUBLE) AS trend, CAST(0.0 AS DOUBLE) AS resid
       |  FROM pts WHERE i = 1
       |  UNION ALL
       |  SELECT p.key, p.i, p.n,
       |         $a * p.v + $a1 * (f.level + f.trend),
       |         $b * (($a * p.v + $a1 * (f.level + f.trend)) - f.level)
       |           + $b1 * f.trend,
       |         round_even((p.v - (f.level + f.trend)) * 1000000000.0, 0)
       |           / 1000000000.0
       |  FROM fit f JOIN pts p ON p.key = f.key AND p.i = f.i + 1),
       |med AS (SELECT key, quantile_cont(resid, 0.5) AS med
       |        FROM fit GROUP BY key),
       |mad AS (SELECT f.key,
       |          quantile_cont(abs(f.resid - m.med), 0.5) AS mad,
       |          any_value(m.med) AS med
       |        FROM fit f JOIN med m ON f.key = m.key GROUP BY f.key)
       |SELECT f.key AS key, CAST(count(*) AS BIGINT) AS n_points,
       |       CAST(sum(CASE WHEN abs(f.resid - d.med) > 5.19 * d.mad
       |                      AND d.mad > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_anomalies,
       |       round(max(abs(f.resid)), 4) AS max_abs_resid
       |FROM fit f JOIN mad d ON f.key = d.key GROUP BY f.key
       |ORDER BY key NULLS FIRST, n_points NULLS FIRST,
       |         n_anomalies NULLS FIRST, max_abs_resid NULLS FIRST""".stripMargin
  }

  /** The eng_lang_id oracle, generated from the SAME marker lexicons
    * the Spark plan ships (TextFunctions.markerLexicons — the
    * cascadeOracleSql no-drift pattern). Tokenization is the same
    * whitespace regex over lower(text) on both engines; per-language
    * scores count marker hits WITH multiplicity; the winner replays
    * LangIdExpr's exact tie-break (lexicographically max
    * (score, lang) — the CASE tests languages in REVERSE sorted
    * order so a score tie goes to the later code); zero hits →
    * 'und'. All-integer scoring — no fp anywhere before the final
    * 4-dp accuracy rounding. */
  private def langIdOracleSql: String = {
    val lex = functions.TextFunctions.markerLexicons
    val langs = lex.keys.toSeq.sorted
    def score(lang: String): String =
      s"len(list_filter(tk, t -> t IN (" +
        lex(lang).map(m => s"'$m'").mkString(",") + s"))) AS s_$lang"
    val m = langs.map(l => s"s_$l").mkString("greatest(", ",", ")")
    val picks = langs.reverse.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH toks AS (
       |  SELECT lang, string_split_regex(lower(text), '\\s+') AS tk
       |  FROM documents),
       |sc AS (SELECT lang, ${langs.map(score).mkString(", ")} FROM toks),
       |best AS (SELECT *, $m AS m FROM sc),
       |pred AS (SELECT lang,
       |  CASE WHEN m = 0 THEN 'und' $picks END AS pred FROM best)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |       round(avg(CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END), 4)
       |         AS accuracy
       |FROM pred GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin
  }

  /** The eng_ann_lsh_topk oracle, generated from the SAME ±1
    * hyperplane literals the Spark plan ships
    * (SimilaritySearch.planes(10, 64, 42)): bucket = Σ 2^i over
    * planes whose dot with the vector is > 0 (both engines compute
    * the identical sequential float→double dot, so the SIGN — the
    * only thing the bucket consumes — agrees exactly; the fixture's
    * dots sit far from 0), candidates = buckets within hamming 3 of
    * the probe's, ranking = exact cosine with id tie-break. */
  /** LSH bucket id as generated SQL: Σ 2^i over the ±1 hyperplanes
    * whose dot with `in` is positive — shared by the eng_ann_lsh_topk
    * and eng_ann_lsh_pairs oracle generators. */
  private def lshBucketSql(ps: Array[Array[Double]], in: String): String = {
    def lst(v: Array[Double]): String = v.mkString("[", ",", "]")
    ps.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product($in, ${lst(p)}) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }

  /** The eng_ann_lsh_pairs oracle, generated from the same
    * planes(8, 64, 42) literals: bucket → size-guarded self-join →
    * exact cosine ≥ 0.2 → rounded total order, exactly the operator's
    * pipeline (one hash per vector, so the max-per-pair aggregate is
    * the identity here and both engines agree on every row). */
  private def annLshPairsOracleSql: String = {
    val b = lshBucketSql(operators.SimilaritySearch.planes(8, 64, 42L), "x")
    s"""WITH xe AS (SELECT vec_id AS id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings),
       |bx AS (SELECT id, x, $b AS b FROM xe),
       |ok AS (SELECT b FROM bx GROUP BY b
       |       HAVING count(*) >= 2 AND count(*) <= 1024),
       |g AS (SELECT bx.* FROM bx JOIN ok USING (b)),
       |pairs AS (SELECT a.id AS id_a, b2.id AS id_b,
       |  list_dot_product(a.x, b2.x) /
       |    (sqrt(list_dot_product(a.x, a.x)) *
       |     sqrt(list_dot_product(b2.x, b2.x))) AS c
       |  FROM g a JOIN g b2 ON a.b = b2.b AND a.id < b2.id),
       |agg AS (SELECT id_a, id_b, max(c) AS c FROM pairs GROUP BY id_a, id_b)
       |SELECT id_a, id_b, round(c, 4) AS cosine FROM agg WHERE c >= 0.2
       |ORDER BY round(c, 4) DESC NULLS LAST, id_a NULLS FIRST,
       |         id_b NULLS FIRST LIMIT 50""".stripMargin
  }

  /** The eng_embed_dedup oracle: the planted-copy corpus rebuilt in
    * SQL (DuckDB FLOAT×FLOAT is the same IEEE float32 multiply Spark
    * applies — verified bit-exact against numpy), the 4-bit LSH pair
    * join replayed from the planes(4, 64, 42) literals (derived bits:
    * 520 vectors / targetBucket 64), and connected components as a
    * transitive min-label closure (a recursive UNION over the tiny
    * ≥0.95-cosine pair set — the labels are min member ids, exactly
    * localUnionFind's representative). All output columns integers. */
  private def embedDedupOracleSql: String = {
    val b = lshBucketSql(operators.SimilaritySearch.planes(4, 64, 42L), "x")
    s"""WITH RECURSIVE dup AS (SELECT vec_id + 100000 AS vec_id,
       |  list_transform(embedding, e -> e * CAST(1.001 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id < 20),
       |corpus AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL SELECT vec_id, embedding FROM dup),
       |xe AS (SELECT vec_id AS id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM corpus),
       |bx AS (SELECT id, x, $b AS bk FROM xe),
       |ok AS (SELECT bk FROM bx GROUP BY bk
       |       HAVING count(*) >= 2 AND count(*) <= 1024),
       |g AS (SELECT bx.* FROM bx JOIN ok USING (bk)),
       |pairs AS (SELECT a.id AS id_a, b2.id AS id_b,
       |  list_dot_product(a.x, b2.x) /
       |    (sqrt(list_dot_product(a.x, a.x)) *
       |     sqrt(list_dot_product(b2.x, b2.x))) AS c
       |  FROM g a JOIN g b2 ON a.bk = b2.bk AND a.id < b2.id),
       |agg AS (SELECT id_a, id_b FROM (
       |          SELECT id_a, id_b, max(c) AS c FROM pairs GROUP BY id_a, id_b)
       |        WHERE c >= 0.95),
       |und AS (SELECT id_a AS a, id_b AS b FROM agg
       |        UNION SELECT id_b, id_a FROM agg),
       |nodes AS (SELECT DISTINCT a AS node FROM und),
       |reach AS (SELECT node, node AS lab FROM nodes
       |          UNION SELECT u.b, r.lab FROM reach r JOIN und u ON u.a = r.node),
       |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(node) AS BIGINT) AS id_sum
       |FROM comp GROUP BY cluster
       |ORDER BY cluster NULLS FIRST, n_members NULLS FIRST,
       |         id_sum NULLS FIRST""".stripMargin
  }

  private def annLshOracleSql: String = {
    val ps = operators.SimilaritySearch.planes(10, 64, 42L)
    def bucket(in: String): String = lshBucketSql(ps, in)
    s"""WITH pr AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS p
       |  FROM embeddings WHERE vec_id = 0),
       |pb AS (SELECT ${bucket("p")} AS pbucket, p FROM pr),
       |xe AS (SELECT vec_id AS id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |bx AS (SELECT id, x, ${bucket("x")} AS bucket FROM xe),
       |cand AS (SELECT id, x FROM bx, pb
       |  WHERE bit_count(CAST(xor(bucket, pbucket) AS BIGINT)) <= 3),
       |sc AS (SELECT id,
       |  list_dot_product(x, p) /
       |    (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(p, p))) AS c
       |  FROM cand, pb)
       |SELECT id, round(c, 4) AS cosine FROM sc
       |ORDER BY c DESC NULLS LAST, id ASC LIMIT 10""".stripMargin
  }

  /** The eng_cascade_early_exit oracle, generated from the SAME
    * [[cascadeW]] literals the Spark query ships (bias is zero): per
    * layer, max-softmax confidence = 1 / Σ exp(logit − max logit);
    * exit at the first layer clearing the threshold. Both engines
    * compute the dot products and the exp-sum in the same sequential
    * order over identical doubles, so the ≥-threshold compare sees
    * the same bits (exp itself is the only libm call; a flip would
    * need a confidence within 1 ulp of the threshold). */
  private def cascadeOracleSql: String = {
    def lst(v: Array[Double]): String = v.mkString("[", ",", "]")
    def logits(l: Int): String = cascadeW(l).map(w =>
      s"list_dot_product(x, ${lst(w)})").mkString("[", ",", "]")
    s"""WITH xe AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings),
       |lg AS (SELECT vec_id, ${logits(0)} AS lg0, ${logits(1)} AS lg1 FROM xe),
       |cf AS (SELECT vec_id,
       |  1.0 / list_sum(list_transform(lg0, v -> exp(v - list_max(lg0)))) AS c0,
       |  1.0 / list_sum(list_transform(lg1, v -> exp(v - list_max(lg1)))) AS c1
       |  FROM lg),
       |g AS (SELECT
       |  CASE WHEN c0 >= $cascadeThreshold THEN 1
       |       WHEN c1 >= $cascadeThreshold THEN 2 ELSE 0 END AS exit_layer,
       |  CASE WHEN c0 >= $cascadeThreshold THEN c0
       |       WHEN c1 >= $cascadeThreshold THEN c1 ELSE 0.0 END AS conf0
       |  FROM cf)
       |SELECT CAST(exit_layer AS INT) AS exit_layer,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       round(avg(conf0), 4) AS avg_conf,
       |       CAST(CASE WHEN exit_layer = 0 THEN 0
       |            ELSE 2 - exit_layer END AS INT) AS layers_saved
       |FROM g GROUP BY exit_layer ORDER BY exit_layer""".stripMargin
  }

  /** The eng_mlp_forward_int8 oracle: float path AND int8 path both
    * generated from the same MlpWeights literals, the per-channel
    * weight quantization replayed in Scala so the emitted wq/sw
    * literals are bit-identical to the ones the Spark plan ships.
    * The activation quantization (absmax/127 scale, round-half-away,
    * clip) mirrors the query's kernel op-for-op: both engines round
    * the SAME quotient bits, so the int8 codes — and hence the exact
    * integer accumulations — agree exactly. */
  private def mlpInt8OracleSql: String = {
    def chanQuant(w: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
      val scales = w.map(row => math.max(row.map(math.abs).max, 1e-12) / 127.0)
      (w.zip(scales).map { case (row, s) => row.map(x => math.rint(x / s)) }, scales)
    }
    val (w1q, s1) = chanQuant(MlpWeights.w1)
    val (w2q, s2) = chanQuant(MlpWeights.w2)
    def lst(v: Array[Double]): String = v.mkString("[", ",", "]")
    // float reference path (same kernels as the eng_mlp_forward oracle)
    val hTerms = MlpWeights.w1.indices.map(o =>
      s"greatest(list_dot_product(x, ${lst(MlpWeights.w1(o))}) + " +
        s"${MlpWeights.b1(o)}, 0.0)").mkString(",")
    val zTerms = MlpWeights.w2.indices.map(o =>
      s"list_dot_product(h, ${lst(MlpWeights.w2(o))}) + ${MlpWeights.b2(o)}")
      .mkString(",")
    // int8 path: quantize activations per row, integer-accumulate,
    // dequant by sx*sw + bias (+ReLU), twice
    def xq(in: String, sx: String): String =
      s"list_transform($in, v -> greatest(-127.0, least(127.0, round(v / $sx))))"
    val hqTerms = w1q.indices.map(o =>
      s"greatest(list_dot_product(xq1, ${lst(w1q(o))}) * sx1 * ${s1(o)} + " +
        s"${MlpWeights.b1(o)}, 0.0)").mkString(",")
    val zqTerms = w2q.indices.map(o =>
      s"list_dot_product(xq2, ${lst(w2q(o))}) * sx2 * ${s2(o)} + " +
        s"${MlpWeights.b2(o)}").mkString(",")
    val dl = (1 to 4).map(i => s"abs(zf[$i] - zq[$i])").mkString("[", ",", "]")
    s"""WITH xe AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings),
       |ff AS (SELECT vec_id, x, [$hTerms] AS h FROM xe),
       |zz AS (SELECT vec_id, x, [$zTerms] AS zf FROM ff),
       |q1 AS (SELECT vec_id, x, zf,
       |  greatest(list_max(list_transform(x, v -> abs(v))), 1e-12) / 127.0 AS sx1
       |  FROM zz),
       |h1 AS (SELECT vec_id, zf, sx1, ${xq("x", "sx1")} AS xq1 FROM q1),
       |h2 AS (SELECT vec_id, zf, [$hqTerms] AS hq FROM h1),
       |q2 AS (SELECT vec_id, zf, hq,
       |  greatest(list_max(list_transform(hq, v -> abs(v))), 1e-12) / 127.0 AS sx2
       |  FROM h2),
       |z2 AS (SELECT vec_id, zf, sx2, ${xq("hq", "sx2")} AS xq2 FROM q2),
       |zq AS (SELECT vec_id, zf, [$zqTerms] AS zq FROM z2),
       |per AS (SELECT
       |  list_position(zf, list_max(zf)) AS cls_f,
       |  list_position(zq, list_max(zq)) AS cls_q,
       |  list_max($dl) AS dlogit FROM zq)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |       round(avg(CASE WHEN cls_f = cls_q THEN 1.0 ELSE 0.0 END), 4)
       |         AS class_agree,
       |       round(max(dlogit), 4) AS max_dlogit,
       |       round(avg(dlogit), 4) AS mean_dlogit
       |FROM per""".stripMargin
  }

  /** The eng_mlp_forward oracle, generated from the SAME MlpWeights
    * literals the Spark query ships in its plan — weights can never
    * drift between the engine and its oracle. Double literals render
    * via Double.toString (shortest round-tripping form, parsed back
    * to the identical bits by DuckDB). */
  private def mlpOracleSql: String = {
    def lst(v: Array[Double]): String = v.mkString("[", ",", "]")
    val hTerms = MlpWeights.w1.indices.map(o =>
      s"greatest(list_dot_product(x, ${lst(MlpWeights.w1(o))}) + " +
        s"${MlpWeights.b1(o)}, 0.0)").mkString(",")
    val zTerms = MlpWeights.w2.indices.map(o =>
      s"list_dot_product(h, ${lst(MlpWeights.w2(o))}) + ${MlpWeights.b2(o)}")
      .mkString(",")
    s"""WITH xe AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings),
       |hh AS (SELECT vec_id, [$hTerms] AS h FROM xe),
       |zz AS (SELECT vec_id, [$zTerms] AS z FROM hh),
       |pp AS (SELECT vec_id,
       |  list_transform(z, v -> exp(v - list_max(z))) AS e FROM zz),
       |cc AS (SELECT vec_id,
       |  CAST(list_position(e, list_max(e)) AS INT) AS cls,
       |  list_max(e) / list_sum(e) AS conf FROM pp)
       |SELECT cls, count(*) AS n, round(avg(conf), 4) AS avg_conf,
       |       round(min(conf), 4) AS min_conf
       |FROM cc GROUP BY cls ORDER BY cls""".stripMargin
  }
}

/** Deterministic literal weights for the eng_mlp_forward demo net
  * (64→16 ReLU → 16→4 softmax) — shared by the query and its
  * plain-Scala differential spec. Small rationals keep every engine
  * bit-exact. */
object MlpWeights {
  val w1: Array[Array[Double]] =
    Array.tabulate(16, 64)((o, i) => ((i * 7 + o * 13) % 11 - 5) / 16.0)
  val b1: Array[Double] = Array.tabulate(16)(o => (o % 5 - 2) / 10.0)
  val w2: Array[Array[Double]] =
    Array.tabulate(4, 16)((o, i) => ((i * 5 + o * 9 + 3) % 13 - 6) / 8.0)
  val b2: Array[Double] = Array.tabulate(4)(o => (o - 1.5) / 20.0)
}
