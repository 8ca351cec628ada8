package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step
  * that turns MinHash/SimHash candidate PAIRS into duplicate GROUPS
  * with one canonical survivor each (the reference has no analog; its
  * nearest concept is attention grouping, SURVEY §2.8 — dedup is a
  * north-star addition).
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with the smallest id among itself and its direct
  * neighbors; each round replaces a node's label with the minimum
  * label in its closed neighborhood. Labels are monotonically
  * non-increasing and bounded below by the component minimum, so the
  * fixpoint (no label changed) is exact connected components with
  * the component's min id as its deterministic canonical
  * representative.
  *
  * Scale shape: each round is one join of the edge list against the
  * current label table (shuffle on node id) + a min-aggregate —
  * O(E) work per round, O(component diameter) rounds. Near-dup
  * graphs are overwhelmingly short-diameter (dup clusters are
  * near-cliques: most converge in 2-3 rounds), which is why plain
  * propagation is the right spelling here; a ln(n)-round
  * large-star/small-star variant only pays off on long-chain graphs
  * that dedup inputs don't produce. Lineage is truncated per round
  * (Checkpoints.truncate, reliable when `spark.checkpoint.dir` is set)
  * so the plan doesn't grow with iterations — the standard
  * iterative-algorithm discipline on Spark. */
object DedupClusters {

  /** Components of the undirected graph given as a pair list.
    * Returns `(node, cluster)` — every node that appears in a pair,
    * labeled with its component's minimum node id.
    *
    * Size-aware strategy. Candidate-pair lists are usually orders of
    * magnitude smaller than the corpus that produced them (banding
    * caps bucket sizes), so when the pair count is under
    * `localThreshold` and ids are integral, the components are solved
    * in ONE task by classic union-find with path compression —
    * zero shuffles, zero iteration overhead (a 5M-edge graph is
    * <1 s of CPU). Distributed label propagation is the fallback for
    * genuinely large graphs, where each round combines one
    * neighbor-propagation step with one pointer-jumping step (follow
    * the freshly-assigned label one more hop — label-of-label), so
    * label depth roughly halves per round and convergence is
    * O(log diameter) rounds, one shuffle each.
    *
    * `maxIter` bounds the distributed rounds (log₂-diameter guard);
    * the loop exits as soon as a round changes nothing. Ids must be
    * orderable (long/int/string); the single-task path applies to
    * integral ids. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 12,
                          localThreshold: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralIds = Seq(aCol, bCol).forall { c =>
      pairs.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    // materialize the pair list ONCE: the input is typically an
    // expensive candidate-generation pipeline (SimHash banding,
    // MinHash joins), and both the size probe and the chosen
    // component strategy consume it — without this checkpoint the
    // probe alone re-executes the whole upstream graph
    val mat = Checkpoints.truncate(pairs)
    val probeLimit = math.min(localThreshold + 1, Int.MaxValue.toLong).toInt
    if (integralIds && mat.limit(probeLimit).count() <= localThreshold) {
      // cast labels back so both strategies return identical schemas
      val t = pairs.schema(aCol).dataType
      localUnionFind(mat, aCol, bCol)
        .select(col("node").cast(t).as("node"), col("cluster").cast(t).as("cluster"))
    } else distributedComponents(mat, aCol, bCol, maxIter)
  }

  /** Single-task union-find with path compression + union by rank;
    * second pass relabels every root to its component's min member so
    * the representative matches the distributed path bit-for-bit. */
  private def localUnionFind(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col(aCol).cast("long"), col(bCol).cast("long")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        val rank = scala.collection.mutable.HashMap.empty[Long, Int]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        def add(x: Long): Unit = if (!parent.contains(x)) { parent(x) = x; rank(x) = 0 }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (rank(ra) < rank(rb)) parent(ra) = rb
            else if (rank(ra) > rank(rb)) parent(rb) = ra
            else { parent(rb) = ra; rank(ra) = rank(ra) + 1 }
          }
        }
        val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
        parent.keysIterator.foreach { n =>
          val r = find(n)
          minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
        }
        parent.keysIterator.map(n => (n, minOfRoot(find(n)))).toSeq.iterator
      }
      .toDF("node", "cluster")
  }

  private def distributedComponents(pairs: DataFrame, aCol: String, bCol: String,
                                    maxIter: Int): DataFrame = {
    // undirected: both directions, deduplicated
    val edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // closed-neighborhood minimum as the initial label:
    // min over rows of least(a, b) = least(a, min(b))
    var labels = Checkpoints.truncate(
      edges.groupBy(col("a").as("node"))
        .agg(min(least(col("a"), col("b"))).as("cluster")))

    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // each node offers its label to every neighbor; a node keeps
      // the min of its own label and all offers
      val offers = edges
        .join(labels.withColumnRenamed("node", "a"), Seq("a"))
        .groupBy(col("b").as("node"))
        .agg(min(col("cluster")).as("offer"))
      val prop = labels.join(offers, Seq("node"), "left")
        .select(col("node"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("offer"), col("cluster"))).as("cluster"))
      // pointer jumping: adopt the label of the node we now point at
      val parents = prop.select(col("node").as("p_node"), col("cluster").as("p_cluster"))
      val next = Checkpoints.truncate(
        prop.join(parents, prop("cluster") === parents("p_node"), "left")
          .select(col("node"), col("old"),
            least(col("cluster"), coalesce(col("p_cluster"), col("cluster"))).as("cluster")))
      converged = next.filter(col("cluster") < col("old")).isEmpty
      labels.unpersist(blocking = false)
      labels = next.select(col("node"), col("cluster"))
      round += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      // over-split labels would silently KEEP documents that belong to
      // an already-canonicalized cluster downstream — make it loud
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; " +
          "raise maxIter (labels would be over-split)")
    labels
  }

  /** Cluster rollup: component id (= canonical keep id), member
    * count, member id checksum — the reviewable dedup report. Only
    * docs that appear in at least one pair show up; everything else
    * is its own singleton cluster by definition. */
  def clusterStats(components: DataFrame): DataFrame =
    components.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("node")).as("id_sum"))
}
