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

  /** Within-cell near-duplicate pairs of the SHARDED SemDeDup — the
    * corpus-scale face. Flat Lloyd assignment is O(n·k); holding CELL
    * size constant (what bounds within-cell pair cost) forces k ∝ n,
    * making flat assignment O(n²) by algebra — measured, not
    * hypothesized: slope 1.61 over the 64x→256x decade (SCALE.md r16).
    *
    * The fix is standard blocking: an O(n) signed-random-projection
    * pre-shard into ~n/`shardSizeTarget` buckets of cosine-similar
    * vectors, then the SAME deterministic k-means inside every shard
    * with a constant `cellsPerShard`. Shards never exchange data, so the
    * corpus is grouped by shard ONCE and the whole per-shard k-means and
    * pair scoring run where the shard's rows already are
    * ([[graft.plans.SemDupShardGen]]: one shuffle, no per-iteration job).
    * Shards larger than 4x the target (SRP sign buckets are not
    * balance-guaranteed) are hash-sub-split to bound the per-shard buffer
    * (SCALE.md states the bound).
    *
    * Tradeoff, stated plainly: near-duplicates that land in DIFFERENT
    * shards are never compared — the blocking recall loss every LSH
    * dedup family in this repo shares (exact duplicates always
    * co-shard: identical vectors have identical signatures). Raising
    * `shardSizeTarget` buys recall with cost.
    *
    * Each shard's pairs are EXACTLY [[semDupPairs]] with k =
    * min(cellsPerShard, shard rows) run on that shard's rows alone —
    * same init (k smallest ids), same argmin grid, same DECIMAL means,
    * same emptied-cell rule — pinned bit-identical in ClusteringSpec for
    * one shard and for many.
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
    import org.apache.spark.sql.GraftColumnBridge
    require(cellsPerShard >= 1, s"cellsPerShard must be >= 1")
    require(maxIter >= 0, s"maxIter must be non-negative, got $maxIter")
    val shards = shardKeyed(df, idCol, vecCol, shardSizeTarget, seed, nHint)
      .groupBy(col("__sd_s"))
      .agg(sort_array(collect_list(struct(col("__sd_id"), col("__sd_v"))))
        .as("__rows"))
    shards
      .select(col("__sd_s").as("shard"),
        GraftColumnBridge.column(graft.plans.SemDupShardGen(
          GraftColumnBridge.expression(col("__rows")), cellsPerShard,
          maxIter, math.floor(minCosine * 1e6 + 0.5).toLong,
          !org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "shard", "cell", "cosine")
  }

  /** The sharded SemDeDup's rows keyed by shard: (__sd_id, __sd_v as
    * ARRAY<DOUBLE>, __sd_s). */
  private[operators] def shardKeyed(df: DataFrame, idCol: String,
                                    vecCol: String, shardSizeTarget: Int,
                                    seed: Long,
                                    nHint: Option[Long]): DataFrame = {
    require(shardSizeTarget >= 1, s"shardSizeTarget must be >= 1")
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
    // fan the SRP-signature scan wide (row-local work over a possibly
    // single-split local scan; no-op at cluster scale)
    val keyed0 = graft.core.Par
      .fanOut(df.select(col(idCol).as("__sd_id"), vec.as("__sd_v")),
        col("__sd_id"))
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
      // The per-raw-shard split table is O(#shards) rows, checkpointed
      // once (and left pinned: the returned lazy frame reads it)
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
