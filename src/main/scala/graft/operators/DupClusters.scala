package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turns a near-duplicate PAIR table (the
  * output of [[Dedup.jaccardPairs]], [[Dedup.minHashLshPairs]],
  * [[Dedup.simHashPairs]] or [[Similarity.nearDupPairs]]) into connected
  * components, so a pipeline can keep exactly one representative per
  * duplicate cluster instead of greedily dropping pair members (which
  * over-deletes on transitive chains A~B~C: dropping both B and C when
  * only one representative of {A,B,C} should survive... or under-deletes,
  * keeping B after A was already dropped for it).
  *
  * Algorithm: alternating Large-Star / Small-Star contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC 2014). Each round is two
  * aggregate-and-join passes over the edge list; the edge set provably
  * converges to star graphs rooted at each component's minimum id in
  * O(log^2 n) rounds — NOT O(diameter) like naive label propagation, so
  * a 10k-document edit chain costs ~14 rounds, not 10k. Every round is a
  * pair of hash-shuffles on the (shrinking) edge list; nothing is ever
  * collected to the driver and no per-node neighbor array is
  * materialized (the per-group minimum comes from a partial-aggregating
  * groupBy, so a viral document with 10M duplicate edges combines
  * map-side instead of building a 10M-element collect_set).
  *
  * Lineage is truncated each round with an eager localCheckpoint —
  * without it the iterated plan doubles per round and round 20 would
  * replay round 1's shuffles.
  *
  * The reference greedily drops `df.duplicated()` rows after pandas
  * merges (dissertation-iceberg/prediction_ML_pipeline.py:119-121);
  * this is the corpus-scale face of the same step for the transitive
  * case.
  */
object DupClusters {

  /** One Large-Star round: symmetrize, then for every node u with
    * neighborhood G(u), m = min(G(u) + {u}), rewire each LARGER
    * neighbor v > u to (v, m). Strictly decreases large-star-violating
    * edges; keeps components intact (Kiveris et al., Lemma 1). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One Small-Star round: direct every edge toward its smaller
    * endpoint (key = larger endpoint), then rewire each smaller
    * neighbor — and u itself — to the group minimum. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val directed = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = directed.groupBy("u").agg(min("v").as("m"))
    directed.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Order-independent fingerprint of an edge set: (row count, XOR of
    * per-edge hashes — overflow-proof under ANSI mode, and XOR
    * cancellation can't bite because the set is distinct). Two
    * consecutive identical fingerprints == fixpoint (modulo an
    * astronomically unlikely 64-bit collision; if the `maxIter` cap
    * fires first, the labeling below post-aggregates to one label per
    * node — possibly FINER than true components on a partially
    * contracted graph, never coarser, and a warning is logged). One
    * action per round. */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)),
      expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Edge-count ceiling for the driver union-find fast path of
    * [[connectedComponents]]. 2^20 edges collect as ~16 MB of longs —
    * far under any sane driver heap — while the star-contraction rounds
    * they replace cost 6-8 shuffle+checkpoint rounds of pure scheduler
    * overhead at that size (measured 3.3 s / 43 jobs on a 394-edge input
    * at sf0.1). `graft.noSmallInputFastPaths=1` (ScaleBench) disables
    * the fast path so committed growth laws keep measuring the
    * distributed path. */
  private val CcDriverMaxEdges: Long = 1L << 20

  /** Driver union-find with min-id roots over a COLLECTED edge list —
    * the small-input fast path of [[connectedComponents]]. Pointing the
    * larger root at the smaller (plus full path compression) keeps every
    * root the MINIMUM id of its component, so the labeling is exactly
    * the star-contraction fixpoint's. Deterministic for any edge order:
    * union(min, max) is order-insensitive on the root graph. */
  private[operators] def unionFindLabels(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { x = p; p = parent.getOrDefault(x, x) }
      // path compression
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    val out = Array.ofDim[(Long, Long)](nodes.size)
    val it = nodes.iterator()
    var i = 0
    while (it.hasNext) { val n = it.next(); out(i) = (n, find(n)); i += 1 }
    out
  }

  /** Connected components of the undirected graph given as a pair table.
    * Returns one row per node that appears in ANY pair:
    * (id, cluster_id) with cluster_id = the minimum id in the node's
    * component (so representatives are deterministic and the labeling is
    * layout/rerun-stable). Nodes with no pairs are absent — join with
    * `coalesce` (see [[assignClusters]]) to label them as singletons.
    *
    * Small inputs take a driver union-find fast path: the initial
    * distinct+checkpoint already materializes the edge set and counts it
    * (the checksum), so when the count is within [[CcDriverMaxEdges]]
    * and the endpoints are integral, the edges collect to the driver and
    * label in microseconds instead of paying O(log n) star-contraction
    * rounds of shuffle+checkpoint machinery — the same bounded
    * size-probed driver pattern as the ANN brute-path guard
    * (Similarity). Labels are bit-identical to the distributed path
    * (DupClustersSpec differential); at corpus scale the count exceeds
    * the cap and the star-contraction path below runs unchanged. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    var edges = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var prev = checksum(edges)
    var converged = prev._1 == 0L
    locally {
      import org.apache.spark.sql.types._
      val uT = edges.schema("u").dataType
      val vT = edges.schema("v").dataType
      // same-typed integral endpoints only: the distributed labeling's
      // output types are then unambiguous (mixed widths would need the
      // union's coercion reproduced here — not worth the edge case)
      val integral = uT == vT && (uT match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (!converged && integral && !graft.core.Par.fastPathsOff &&
          prev._1 <= CcDriverMaxEdges) {
        val collected = edges
          .select(col("u").cast("long"), col("v").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        graft.core.Lineage.unpersistCheckpoint(edges)
        val spark = pairs.sparkSession
        val rows = unionFindLabels(collected)
          .map { case (id, c) => org.apache.spark.sql.Row(id, c) }
        val labels = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq,
            math.max(1, math.min(spark.sparkContext.defaultParallelism,
              1 + rows.length / 4096))),
          StructType(Seq(StructField("id", LongType),
            StructField("cluster_id", LongType))))
        // cast back to the distributed path's output types (id takes the
        // endpoint union's type, cluster_id the v side's)
        return labels.select(col("id").cast(uT).as("id"),
          col("cluster_id").cast(vT).as("cluster_id"))
      }
    }
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val cur = checksum(next)
      // the prior round's frame is fully consumed by next's eager
      // materialization — free it (graft.core.Lineage: O(1) in-flight
      // checkpoint frames, not O(rounds)); the returned labels read
      // only the FINAL round's blocks
      graft.core.Lineage.unpersistCheckpoint(edges)
      converged = cur == prev
      prev = cur
      edges = next
      it += 1
    }
    // fixpoint = stars: every edge is (member, component-min). Roots only
    // appear on the v side; give each one a self-label.
    val labels = edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .distinct()
    if (converged) labels
    else {
      // maxIter fired before the fixpoint: the edge set need not be a
      // star forest, so a node can carry several labels — collapse to
      // min so downstream joins never fan out. The labeling may still
      // be finer than true components (never coarser: every emitted
      // label is some member of the node's component).
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents hit maxIter=$maxIter before convergence; " +
          "labels post-aggregated to one per node, components may be " +
          "split — raise maxIter")
      labels.groupBy("id").agg(min("cluster_id").as("cluster_id"))
    }
  }

  /** Attach `clusterCol` to `df`: the component minimum for paired rows,
    * the row's own id for singletons. One broadcast-or-shuffle join
    * against the (tiny relative to the corpus) label table. */
  def assignClusters(df: DataFrame, idCol: String, labels: DataFrame,
                     clusterCol: String = "cluster_id"): DataFrame = {
    val l = labels.select(col("id").as("__cc_id"),
      col("cluster_id").as("__cc_label"))
    df.join(l, df(idCol) === col("__cc_id"), "left")
      .withColumn(clusterCol, coalesce(col("__cc_label"), df(idCol)))
      .drop("__cc_id", "__cc_label")
  }

  /** Cluster-aware dedup: resolve pairs to components, then keep ONE row
    * per cluster — the first under `orderBy` (ties broken by ascending
    * id, so the winner is deterministic). Unpaired rows always survive.
    * This is the drop step real curation pipelines run after LSH:
    * transitive closure first, then representative selection by quality,
    * never greedy pair deletion. */
  /** Leakage-safe train/test split: resolve near-duplicate pairs to
    * connected components, then tag by a hash of the CLUSTER id — every
    * member of a duplicate cluster lands on the same side of the split.
    * A row-level split (M4 / [[Sampling.hashSplitTag]]) leaks: with A~B
    * near-identical, A in train and B in test, the eval measures
    * memorization. Splitting by the component id is the standard fix
    * (the same shape as scaffold/group splits in ML evaluation).
    *
    * Output = input + `clusterCol` + boolean `tagCol` (true = test,
    * ~`testFraction` of CLUSTERS — mass, not rows, when cluster sizes
    * skew). Deterministic: same pairs + seed = same split on any layout,
    * any rerun. Cost on top of [[connectedComponents]]: one labels join;
    * the tag itself is a row-local hash, no extra shuffle. */
  def leakageSafeSplitTag(df: DataFrame, idCol: String, pairs: DataFrame,
                          aCol: String, bCol: String, testFraction: Double,
                          seed: Long = 0L, clusterCol: String = "cluster_id",
                          tagCol: String = "is_test"): DataFrame = {
    Sampling.requireIntegralKey(df, idCol)
    val labels = connectedComponents(pairs, aCol, bCol)
    val tagged = assignClusters(df, idCol, labels, clusterCol)
    tagged.withColumn(tagCol,
      Sampling.bucketHash(col(clusterCol), seed)
        < lit(Sampling.threshold(testFraction)))
  }

  def dedupByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String, bCol: String,
                     orderBy: Seq[org.apache.spark.sql.Column] = Nil)
      : DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val tagged = assignClusters(df, idCol, labels, "__cc_cluster")
    val w = Window.partitionBy(col("__cc_cluster"))
      .orderBy(orderBy :+ col(idCol).asc: _*)
    tagged.withColumn("__cc_rn", row_number().over(w))
      .where(col("__cc_rn") === 1)
      .drop("__cc_rn", "__cc_cluster")
  }
}
