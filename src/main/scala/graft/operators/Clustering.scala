package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over an embedding column, and the
  * SemDeDup composition built on it (Abbas et al. 2023, "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication":
  * cluster first, then look for semantic duplicates ONLY within a
  * cluster — the step that makes embedding-level dedup feasible when
  * all-pairs cosine is off the table).
  *
  * Engine-portable determinism, same discipline as the rest of the repo:
  *   - init = the vectors of the k smallest ids (no random restarts);
  *   - assignment = argmin of the MICRO-ROUNDED squared L2 distance,
  *     ties to the smaller cluster index — float summation-order noise
  *     (~1e-13 relative) cannot flip an argmin decided on 1e-6 grid;
  *   - centroid update = per-dimension DECIMAL(18,9)-summed means
  *     ([[Embeddings.meanPoolLong]]'s formula), exact and layout-stable;
  *   - an emptied cluster keeps its previous centroid.
  * Same corpus + k + iterations = bit-identical assignment on any
  * partitioning, any rerun, any engine (the DuckDB oracle unrolls the
  * same iterations in SQL).
  *
  * Scale shape: each iteration is ONE distributed pass — assignment is a
  * row-local argmin against k broadcast centroid literals, the update a
  * partial-aggregating groupBy over (cluster, dim) collecting k*dims
  * doubles to the driver. Lineage does NOT stack across iterations
  * (iteration i depends only on the input and the collected centroids),
  * so maxIter=10 is 10 scans, not a 10-deep replay. */
object Clustering {

  private[operators] def microL(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("long")

  /** Squared L2 distance to a centroid literal, folded left-to-right
    * over dims (deterministic order). */
  private[operators] def sqDist(vec: Column, centroid: Array[Double]): Column =
    aggregate(zip_with(vec, typedlit(centroid.toSeq),
      (x, c) => (x - c) * (x - c)), lit(0.0), (acc, v) => acc + v)

  /** Row-local argmin assignment — the native codegen'd kernel
    * ([[graft.plans.ArgMinL2MicroExpr]]: one fused while-loop per row,
    * one expression node per plan). The HOF twin below walked k
    * interpreted zip_with/aggregate folds per row and carried a
    * ~k*dims-node tree through every plan; ClusteringSpec pins bit
    * equality across well-formed AND degenerate inputs (r20). */
  private[operators] def assign(vec: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    require(centroids.nonEmpty, "assign: empty centroid set")
    val dims = centroids.head.length
    GraftColumnBridge.column(graft.plans.ArgMinL2MicroExpr(
      GraftColumnBridge.expression(vec),
      centroids.flatten.toSeq, dims))
  }

  /** Interpreted higher-order twin of [[assign]], kept for differential
    * verification of the native kernel: array_min over (dist_micro,
    * index) structs — lexicographic struct order gives the
    * tie-to-smaller-index rule for free. */
  private[operators] def assignHof(vec: Column, centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(microL(sqDist(vec, c)).as("d"), lit(i).as("c"))
    }: _*)).getField("c")

  /** The trained centroids alone (k x dims doubles on the driver) — for
    * callers that need the model rather than the assignment, e.g. as the
    * coarse quantizer of [[Similarity.ivfTopK]]. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                      maxIter: Int): Array[Array[Double]] = {
    require(k > 0, s"k must be positive, got $k")
    require(maxIter >= 0, s"maxIter must be non-negative, got $maxIter")
    val vec = transform(col(vecCol), _.cast("double"))
    var centroids: Array[Array[Double]] = df
      .select(col(idCol), vec.as("__km_v"))
      .orderBy(col(idCol)).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(centroids.length == k,
      s"k=$k but the input has only ${centroids.length} rows")

    for (_ <- 1 to maxIter) {
      val assigned = df.select(vec.as("__km_v"),
        assign(vec, centroids).as("__km_c"))
      val means = Embeddings.meanPoolLong(assigned, Seq("__km_c"), "__km_v")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (c, dims) =>
          c -> dims.sortBy(_._2).map(_._3)
        }
      // an emptied cluster keeps its previous centroid
      centroids = centroids.zipWithIndex.map { case (prev, i) =>
        means.getOrElse(i, prev)
      }
    }
    centroids
  }

  /** Lloyd's k-means: returns the input plus an integer `clusterCol` in
    * [0, k). `maxIter` full update iterations run before the final
    * assignment. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             maxIter: Int, clusterCol: String = "cluster"): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, k, maxIter)
    val vec = transform(col(vecCol), _.cast("double"))
    df.withColumn(clusterCol, assign(vec, centroids))
  }

  /** Within-cluster semantic near-duplicate pairs: cluster with
    * [[kmeans]], then score cosine ONLY for same-cluster id-ordered
    * pairs — the SemDeDup candidate generation. The join key is the
    * cluster id, so pair work is bounded by the largest cluster, never
    * n². Cosine is compared on the micro grid (engine-stable cut).
    * Returns (id_a, id_b, cluster, cosine). */
  def semDupPairs(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  maxIter: Int, minCosine: Double): DataFrame = {
    val assigned = kmeans(df, idCol, vecCol, k, maxIter, "__sd_c")
      .select(col(idCol).as("__sd_id"),
        transform(col(vecCol), _.cast("double")).as("__sd_v"),
        col("__sd_c"))
    val a = assigned.select(col("__sd_id").as("id_a"),
      col("__sd_v").as("va"), col("__sd_c").as("cluster"))
    val b = assigned.select(col("__sd_id").as("id_b"),
      col("__sd_v").as("vb"), col("__sd_c").as("cluster"))
    a.join(b, Seq("cluster")).where(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .where(microL(col("cosine")) >=
        lit(math.floor(minCosine * 1e6 + 0.5).toLong))
      .select(col("id_a"), col("id_b"), col("cluster"), col("cosine"))
  }

  /** SemDeDup: keep one representative per semantic-duplicate component
    * (transitive closure of [[semDupPairs]], representative chosen by
    * `orderBy` then ascending id — never greedy pair deletion). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
               maxIter: Int, minCosine: Double,
               orderBy: Seq[Column] = Nil): DataFrame = {
    val pairs = semDupPairs(df, idCol, vecCol, k, maxIter, minCosine)
    DupClusters.dedupByCluster(df, idCol, pairs, "id_a", "id_b", orderBy)
  }

  /** [[assign]]'s twin against a centroid-ARRAY column instead of driver
    * literals: same micro-rounded squared-L2 grid, same left-to-right
    * dim fold, same tie-to-smaller-index rule — bit-identical decisions
    * when the centroid values are equal. Native codegen'd kernel
    * ([[graft.plans.ArgMinL2MicroDynExpr]]) since r20 — the interpreted
    * twin below stays for the ClusteringSpec differential. */
  private[operators] def assignDyn(vec: Column, cbs: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.ArgMinL2MicroDynExpr(
      GraftColumnBridge.expression(vec),
      GraftColumnBridge.expression(cbs)))
  }

  /** Interpreted higher-order twin of [[assignDyn]], kept for
    * differential verification of the native kernel. */
  private[operators] def assignDynHof(vec: Column, cbs: Column): Column =
    array_min(transform(cbs, (cb, i) =>
      struct(microL(aggregate(zip_with(vec, cb, (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, v) => acc + v)).as("d"),
        i.cast("int").as("c")))).getField("c")

  /** Within-cell near-duplicate pairs of the SHARDED SemDeDup — the
    * corpus-scale face. Flat Lloyd assignment is O(n·k); holding CELL
    * size constant (what bounds within-cell pair cost) forces k ∝ n,
    * making flat assignment O(n²) by algebra — measured, not
    * hypothesized: slope 1.61 over the 64x→256x decade (SCALE.md r16).
    *
    * The fix is standard blocking: an O(n) signed-random-projection
    * pre-shard into ~n/`shardSizeTarget` buckets of cosine-similar
    * vectors, then the SAME deterministic k-means inside every shard
    * JOINTLY with a constant `cellsPerShard` — so every stage is
    * linear: the shard key is a row-local sign fold, each k-means
    * iteration joins a vector to its OWN shard's ≤ cellsPerShard
    * centroids (a shuffle join on the shard key, k constant), the
    * centroid update is one partial-aggregated meanPool over
    * (shard, cell), and pair generation is bounded by cell size.
    * Shards larger than 4x the target (SRP sign buckets are not
    * balance-guaranteed) are hash-sub-split to bound the worst case.
    *
    * Tradeoff, stated plainly: near-duplicates that land in DIFFERENT
    * shards are never compared — the blocking recall loss every LSH
    * dedup family in this repo shares (exact duplicates always
    * co-shard: identical vectors have identical signatures). Raising
    * `shardSizeTarget` buys recall with cost.
    *
    * With one shard (n ≤ shardSizeTarget) the composition reduces to
    * EXACTLY [[semDupPairs]] with k = cellsPerShard — same init
    * (k smallest ids), same argmin grid, same DECIMAL means, same
    * emptied-cell rule — pinned bit-identical in ClusteringSpec.
    *
    * `nHint`: the corpus row count, if the caller already knows it
    * (table metadata, a prior stage's count). It only SIZES the shard
    * key — ceil(log2(n / target)) sign planes — so an approximate hint
    * merely shifts the average shard size, never correctness (even an
    * undercount to one shard still sub-splits oversized shards); without
    * it the operator pays one exact counting scan of the corpus before
    * any useful work, which at 100 TB is a full extra pass (r16
    * verdict). */
  def semDupPairsSharded(df: DataFrame, idCol: String, vecCol: String,
                         shardSizeTarget: Int, cellsPerShard: Int,
                         maxIter: Int, minCosine: Double,
                         seed: Long = 17L,
                         nHint: Option[Long] = None): DataFrame = {
    require(shardSizeTarget >= 1, s"shardSizeTarget must be >= 1")
    require(cellsPerShard >= 1, s"cellsPerShard must be >= 1")
    require(maxIter >= 0, s"maxIter must be non-negative, got $maxIter")
    nHint.foreach(h => require(h > 0, s"nHint must be positive, got $h"))
    // one probe pass, not two: count (when no hint) and width together —
    // first() is the same "any row decides" contract the old head() probe
    // had (the width is constant by the operator's own requirement)
    val (n, dims) = nHint match {
      case Some(h) =>
        (h, df.select(size(col(vecCol))).head().getInt(0))
      case None =>
        val r = df.agg(count(lit(1)),
          first(size(col(vecCol)), ignoreNulls = true)).head()
        (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    }
    require(n > 0, "semDupPairsSharded: empty input")
    // bits = ceil(log2(ceil(n / target))): enough sign planes that the
    // AVERAGE shard is ~target-sized; 0 bits (one shard) when n fits
    val shardsWanted = (n + shardSizeTarget - 1) / shardSizeTarget
    val bits =
      (if (shardsWanted <= 1L) 0
       else 64 - java.lang.Long.numberOfLeadingZeros(shardsWanted - 1))
        .min(50)
    val vec = transform(col(vecCol), _.cast("double"))
    // fan the SRP-signature / assignment scans wide (row-local work over
    // a possibly single-split local scan; no-op at cluster scale)
    val keyed0 = graft.core.Par
      .fanOut(df.select(col(idCol).as("__sd_id"), vec.as("__sd_v")),
        col("__sd_id"))
    val base =
      if (bits == 0 && nHint.isEmpty) {
        // single-shard face: every row's raw key is the same 0L, no shard
        // can exceed 4x target (bits == 0 with an EXACT count implies
        // n <= target), and pmod(hash, 1) = 0 — so the size probe and the
        // split join are algebraic no-ops; the shard key is exactly
        // lit(0L). A hinted n may undercount, so a hint always takes the
        // split path below.
        keyed0.withColumn("__sd_s", lit(0L))
      } else {
        // srpSignature needs >= 1 plane: zero bits is the one raw key 0L
        val keyed = keyed0.withColumn("__sd_raw",
          if (bits == 0) lit(0L)
          else Similarity.srpSignature(col("__sd_v"), bits, dims, seed))
        // bound the worst case: SRP sign buckets are similarity-preserving
        // but not balanced; a shard > 4x target hash-splits into
        // ceil(size / (2x target)) sub-shards (<= 4096, key packs below).
        // The per-raw-shard split table is O(#shards) rows — checkpoint it
        // ONCE so the repeated derivations of `base` (init window, one per
        // k-means iteration, the final pair pass) stop re-paying the
        // full counting scan of the corpus the groupBy needs (r20: that
        // was one extra corpus pass per derivation, 5 per invocation)
        val splits = keyed.groupBy("__sd_raw")
          .agg(count(lit(1)).as("__sn"))
          .withColumn("__splits",
            when(col("__sn") > 4L * shardSizeTarget,
              least(ceil(col("__sn") / (2.0 * shardSizeTarget)), lit(4096L))
                .cast("long"))
              .otherwise(lit(1L)))
          .select("__sd_raw", "__splits")
          .localCheckpoint()
        keyed.join(splits, "__sd_raw")
          .withColumn("__sd_s", col("__sd_raw") * 4096L +
            pmod(hash(col("__sd_id")), col("__splits").cast("int"))
              .cast("long"))
          .select("__sd_id", "__sd_v", "__sd_s")
      }
    // init: the cellsPerShard smallest ids of each shard, as a centroid
    // FRAME (shard, cell, vec) — k-means for every shard advances in
    // one distributed pass per iteration, no driver loop over shards
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sd_s")).orderBy(col("__sd_id"))
    var cents = base
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") <= cellsPerShard)
      .select(col("__sd_s"), (col("__rn") - 1).cast("int").as("__c"),
        col("__sd_v").as("__cv"))
      .localCheckpoint()
    def gathered = cents.groupBy("__sd_s")
      .agg(transform(
        array_sort(collect_list(struct(col("__c"), col("__cv")))),
        s => s.getField("__cv")).as("__cbs"))
    def assigned = base.join(gathered, "__sd_s")
      .withColumn("__c", assignDyn(col("__sd_v"), col("__cbs")))
      .drop("__cbs")
    for (_ <- 1 to maxIter) {
      val means = Embeddings.meanPool(
        assigned.select(col("__sd_s"), col("__c"), col("__sd_v")),
        Seq("__sd_s", "__c"), "__sd_v", "__nv")
      // an emptied cell keeps its previous centroid (flat kmeans rule)
      val next = cents.join(means, Seq("__sd_s", "__c"), "left")
        .select(col("__sd_s"), col("__c"),
          coalesce(col("__nv"), col("__cv")).as("__cv"))
        .localCheckpoint()
      graft.core.Lineage.unpersistCheckpoint(cents)
      cents = next
    }
    // the final `cents` checkpoint stays pinned (the returned lazy frame
    // reads it) — the caller-owned O(1) remainder, as in Graph/PageRank.
    // Pair generation derives `assigned` ONCE: cells gather to a bounded
    // list (cell size is capped by the shard-split rule, so the list is
    // O(shardSizeTarget) rows — never the corpus) and the id-ordered
    // pairs stream out of two pipelined explodes. The r19 x⋈y self-join
    // executed the whole scan→shard→assign pipeline twice (once per join
    // side) and shuffled both copies; this shuffles the assigned frame
    // once and recomputes nothing. Pair SET and every cosine bit are
    // unchanged: the same (id_a < id_b) orientation, the same row-local
    // cosine expression on the same vectors.
    val cells = assigned.groupBy(col("__sd_s"), col("__c"))
      .agg(collect_list(struct(col("__sd_id"), col("__sd_v"))).as("__cell"))
    cells
      .select(col("__sd_s"), col("__c"), col("__cell"),
        explode(col("__cell")).as("__a"))
      .select(col("__sd_s"), col("__c"), col("__a"),
        explode(col("__cell")).as("__b"))
      .where(col("__a.__sd_id") < col("__b.__sd_id"))
      .select(col("__a.__sd_id").as("id_a"), col("__b.__sd_id").as("id_b"),
        col("__sd_s"), col("__c"),
        Similarity.cosine(col("__a.__sd_v"), col("__b.__sd_v"))
          .as("cosine"))
      .where(microL(col("cosine")) >=
        lit(math.floor(minCosine * 1e6 + 0.5).toLong))
      .select(col("id_a"), col("id_b"), col("__sd_s").as("shard"),
        col("__c").as("cell"), col("cosine"))
  }

  /** Sharded SemDeDup: [[semDupPairsSharded]] + one representative per
    * duplicate component — the linear-time corpus-scale face of
    * [[semDedup]] (see the pair generator's scaladoc for the blocking
    * contract and the single-shard equivalence). */
  def semDedupSharded(df: DataFrame, idCol: String, vecCol: String,
                      shardSizeTarget: Int, cellsPerShard: Int,
                      maxIter: Int, minCosine: Double, seed: Long = 17L,
                      orderBy: Seq[Column] = Nil,
                      nHint: Option[Long] = None): DataFrame = {
    val pairs = semDupPairsSharded(df, idCol, vecCol, shardSizeTarget,
      cellsPerShard, maxIter, minCosine, seed, nHint)
    DupClusters.dedupByCluster(df, idCol, pairs, "id_a", "id_b", orderBy)
  }
}
