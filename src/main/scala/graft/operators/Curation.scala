package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The composed corpus-curation pipeline a pretraining run actually
  * executes — each stage is an operator this library already verifies in
  * isolation, chained in the canonical order so the expensive stages see
  * the fewest rows:
  *
  *   1. exact dedup (cheapest, biggest row reduction first),
  *   2. quality gate (row-local scoring, no shuffle),
  *   3. deterministic sampling (row-local; rerun/layout-stable),
  *   4. near-dup removal (bucketed MinHash-LSH candidates; the one
  *      genuinely pairwise stage runs on the smallest surviving set),
  *   5. group-scoped sequence packing (chunks never mix groups).
  *
  * Everything is deterministic — same inputs and config, bit-identical
  * output on any cluster layout — which is the property that makes a
  * 100 TB curation run reproducible and resumable.
  */
object Curation {

  /** @param minQuality   keep docs with qualityScore >= this
    * @param sampleRate   deterministic Bernoulli keep rate after filters
    * @param nearDupJaccard drop the higher-id doc of any pair whose
    *                     estimated Jaccard (MinHash-LSH) >= this; <= 0
    *                     disables the stage
    * @param nearDupExact run the near-dup stage on EXACT n-gram Jaccard
    *                     ([[Dedup.jaccardPairs]], PPJoin-pruned) instead
    *                     of MinHash-LSH estimates. Costlier than LSH at
    *                     equal recall; the LSH face remains the 100 TB
    *                     default. Both faces are oracle-checked (the
    *                     q_curate_jaccard and q_curate gates).
    * @param packBudget   tokens (cost units) per training chunk
    * @param groupCols    packing scope (e.g. language) — chunks never
    *                     span groups
    */
  final case class Config(minQuality: Double = 0.3,
                          sampleRate: Double = 1.0,
                          nearDupJaccard: Double = 0.8,
                          nearDupExact: Boolean = false,
                          packBudget: Long = 16384L,
                          seed: Long = 0L,
                          groupCols: Seq[String] = Nil)

  /** Run the pipeline over a corpus with (idCol, textCol, costCol)
    * columns. Returns the packed corpus: surviving rows with
    * `quality_score`, `chunk_id`, `chunk_offset`. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             costCol: String, cfg: Config = Config()): DataFrame = {
    // fail fast on a non-integral id: with the default sampleRate=1.0 no
    // sampling stage runs, so the first keyed operator would otherwise be
    // packing — whose null-hash shards silently empty the corpus
    Sampling.requireIntegralKey(docs, idCol)
    val deduped = Dedup.exact(docs, textCol, idCol)
    val scored = deduped.withColumn("quality_score",
      TextFunctions.qualityScore(col(textCol)))
    val filtered = scored.filter(col("quality_score") >= cfg.minQuality)
    val sampled0 =
      if (cfg.sampleRate >= 1.0) filtered
      else Sampling.bernoulliSample(filtered, idCol, cfg.sampleRate,
        cfg.seed)
    // stage barrier when the pairwise stage is on (the curateFull
    // pattern): the near-dup generators reference `sampled` for their
    // signature/shingle prep AND the anti-join reads it again — without
    // the barrier the dedup-window + scoring subplan executes once per
    // reference. Off when the stage is off: the single reference flows
    // straight into packing. Lifetime as curateFull's barriers: the
    // returned frame references the cache; Verify/Bench clear between
    // queries.
    val sampled =
      if (cfg.nearDupJaccard <= 0.0) sampled0
      else sampled0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val unique =
      if (cfg.nearDupJaccard <= 0.0) sampled
      else {
        val pairs =
          (if (cfg.nearDupExact)
             Dedup.jaccardPairs(sampled, idCol, textCol, n = 3,
               threshold = cfg.nearDupJaccard)
           else lshPairs(sampled, idCol, textCol, cfg))
            .select(col("id_b").as(idCol)) // keep the smaller id of a pair
        sampled.join(pairs, Seq(idCol), "left_anti")
      }
    // carry text + quality through packing's own shuffle: re-joining them
    // here would reference `unique` twice, executing the whole
    // dedup -> quality -> sample -> LSH anti-join subplan once per
    // reference (and needing a persist barrier to avoid it)
    Packing.concatChunks(unique.select(
        (col(idCol) +: col(costCol) +: (cfg.groupCols.map(col) :+
          col(textCol) :+ col("quality_score"))): _*),
      idCol, costCol, cfg.packBudget, cfg.seed,
      groupCols = cfg.groupCols,
      carryCols = Seq(textCol, "quality_score"))
  }

  /** Stage-by-stage survivor counts — the audit a curation run reports,
    * covering every row-changing stage of [[curate]] (packing preserves
    * rows, so the near-dup count IS the packed row count; it is still
    * reported under both names so the funnel reads end-to-end).
    *
    * Runs in at most TWO Spark actions: the row-local stages (dedup
    * winner, quality gate, sample) are conditional sums over one pass —
    * the dedup-winner flag rides the same md5-partition window
    * [[Dedup.exact]] uses, so the counts are definitionally the stage
    * counts — and only the genuinely pairwise LSH stage (when enabled)
    * pays a second action. */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config()): Seq[(String, Long)] = {
    val row = stageCounts(docs, idCol, textCol, cfg).head()
    val sampledCount = row.getLong(3)
    val nearDup =
      if (cfg.nearDupJaccard <= 0.0) sampledCount
      // the one pairwise stage is the funnel's second (and last) action
      else lshSurvivors(docs, idCol, textCol, cfg).count()
    Seq("input" -> row.getLong(0), "exact_dedup" -> row.getLong(1),
      "quality_gate" -> row.getLong(2), "sampled" -> sampledCount,
      "near_dup" -> nearDup, "packed" -> nearDup)
  }

  /** [[funnel]] as a declarative (stage, survivors) frame — the
    * oracle-checkable face: with the LSH stage off, every stage count is
    * plain SQL, so a driver gate can hash-match the whole audit against
    * DuckDB. One lazy plan; collecting it is ONE action even when the
    * LSH subplan is included. */
  def funnelDf(docs: DataFrame, idCol: String, textCol: String,
               cfg: Config = Config()): DataFrame = {
    val counts = stageCounts(docs, idCol, textCol, cfg)
    val rowLocal = counts.selectExpr(
      "stack(4, 'input', input, 'exact_dedup', exact_dedup, " +
        "'quality_gate', quality_gate, 'sampled', sampled) " +
        "AS (stage, survivors)")
    val tail =
      if (cfg.nearDupJaccard <= 0.0)
        counts.selectExpr(
          "stack(2, 'near_dup', sampled, 'packed', sampled) " +
            "AS (stage, survivors)")
      else lshSurvivors(docs, idCol, textCol, cfg)
        .agg(count(lit(1)).as("n"))
        .selectExpr("stack(2, 'near_dup', n, 'packed', n) " +
          "AS (stage, survivors)")
    rowLocal.unionByName(tail)
  }

  /** One-pass conditional-sum counts of the row-local stages (one row:
    * input, exact_dedup, quality_gate, sampled). The dedup-winner flag
    * rides the same md5-partition window [[Dedup.exact]] uses, so the
    * counts are definitionally the stage counts. */
  private def stageCounts(docs: DataFrame, idCol: String, textCol: String,
                          cfg: Config): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Sampling.requireIntegralKey(docs, idCol)
    // same winner rule as Dedup.exact: smallest id per text-md5 group
    val winner = row_number().over(
      Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))) === 1
    val qual = TextFunctions.qualityScore(col(textCol)) >= cfg.minQuality
    val sampleKeep =
      if (cfg.sampleRate >= 1.0) lit(true)
      else Sampling.bucketHash(col(idCol), cfg.seed) <
        lit(Sampling.threshold(cfg.sampleRate))
    docs
      .withColumn("__dedup", winner)
      .withColumn("__qual", col("__dedup") && qual)
      .withColumn("__samp", col("__qual") && sampleKeep)
      .agg(count(lit(1)).as("input"),
        sum(when(col("__dedup"), 1L).otherwise(0L)).as("exact_dedup"),
        sum(when(col("__qual"), 1L).otherwise(0L)).as("quality_gate"),
        sum(when(col("__samp"), 1L).otherwise(0L)).as("sampled"))
  }

  /** The frame surviving dedup -> quality -> sample -> LSH anti-join
    * (lazy; the pairwise stage [[funnel]]/[[funnelDf]] price separately). */
  private def lshSurvivors(docs: DataFrame, idCol: String, textCol: String,
                           cfg: Config): DataFrame = {
    val deduped = Dedup.exact(docs, textCol, idCol)
    val filtered = deduped.filter(
      TextFunctions.qualityScore(col(textCol)) >= cfg.minQuality)
    val sampled =
      if (cfg.sampleRate >= 1.0) filtered
      else Sampling.bernoulliSample(filtered, idCol, cfg.sampleRate,
        cfg.seed)
    val pairs = lshPairs(sampled, idCol, textCol, cfg)
      .select(col("id_b").as(idCol))
    sampled.join(pairs, Seq(idCol), "left_anti")
  }

  /** The LSH pair stage, thresholded at the config's Jaccard. */
  private def lshPairs(sampled: DataFrame, idCol: String,
                       textCol: String, cfg: Config): DataFrame =
    Dedup.minHashLshPairs(sampled, idCol, textCol)
      .filter(col("est_jaccard") >= cfg.nearDupJaccard)

  /** Config for [[curateFull]], the round-8 pipeline: segment-level
    * boilerplate removal + Gopher repetition gate + temperature mixing
    * on top of the v1 stages. */
  final case class FullConfig(segTokens: Int = 3, segMinCopies: Int = 2,
                              maxDupTokenFrac: Double = 0.6,
                              minQuality: Double = 0.3,
                              budgetTokens: Long = 1000000L,
                              alpha: Double = 0.5,
                              maxEpochs: Double = 4.0,
                              seed: Long = 0L)

  /** The full modern curation pipeline — every stage an operator this
    * library verifies in isolation, in the canonical order (cheapest,
    * biggest reductions first; text-mutating stages before scoring so
    * gates see what training will see):
    *
    *   1. exact dedup (smallest id wins),
    *   2. corpus-level repeated-segment removal (the C4 rule —
    *      boilerplate counted AFTER exact dedup so a viral doc's
    *      thousand copies don't nuke its own content); docs left empty
    *      are dropped,
    *   3. Gopher repetition gate on the CLEANED text,
    *   4. quality gate on the cleaned text,
    *   5. sqrt-temperature token-budget mixture (plan from the
    *      SURVIVING token mass, applied as deterministic epoch
    *      replication).
    *
    * Returns one row per (doc, epoch_copy): id, source, cleaned text,
    * quality score, cleaned token count. Deterministic end-to-end: same
    * corpus + config = bit-identical output on any layout.
    *
    * Cache lifetime: two internal MEMORY_AND_DISK stage barriers (the
    * dedup frame and the gated frame) OUTLIVE this call — required,
    * since the returned DataFrame is lazy and still references them.
    * Long-lived sessions calling this repeatedly should clear them
    * between runs (`spark.sharedState.cacheManager.clearCache()`, as
    * Verify/Bench do) or unpersist via `spark.catalog`. */
  def curateFull(docs: DataFrame, idCol: String, textCol: String,
                 sourceCol: String, cfg: FullConfig = FullConfig())
      : DataFrame = {
    Sampling.requireIntegralKey(docs, idCol)
    // persisted: dropRepeatedSegments references its input up to three
    // times (segment counts, the count join-back, the final reassembly
    // join); over a raw scan those are cheap re-reads, but here the input
    // is the exact-dedup window, which would re-execute per reference.
    // This is the stage barrier a production pipeline materializes
    // between dedup and corpus segment-counting. Lifetime as below.
    val deduped = Dedup.exact(docs, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cleaned = Dedup.dropRepeatedSegments(deduped, idCol,
        Dedup.tokenSegments(col(textCol), cfg.segTokens),
        cfg.segMinCopies)
      .filter(col("n_kept") > 0)
    // persisted: the mixture PLAN is an eager aggregation over this frame
    // and the APPLY scans it again — without the barrier the whole
    // dedup -> segment-dedup -> gates subplan executes twice (the round-6
    // curate double-execution lesson). Lifetime outlives the call, as
    // with minHashLshPairs; Verify/Bench clear caches between queries.
    val gated = cleaned
      .filter(TextFunctions.dupTokenFrac(col("cleaned"))
        <= cfg.maxDupTokenFrac)
      .withColumn("quality_score",
        TextFunctions.qualityScore(col("cleaned")))
      .filter(col("quality_score") >= cfg.minQuality)
      .withColumn("n_tokens_clean",
        TextFunctions.nTokens(col("cleaned")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plan = Sampling.mixturePlan(gated, sourceCol, "n_tokens_clean",
      cfg.budgetTokens, cfg.alpha, cfg.maxEpochs)
    Sampling.applyMixture(gated, sourceCol, idCol, plan, cfg.seed)
      .select(col(idCol), col(sourceCol), col("epoch_copy"),
        col("cleaned"), col("quality_score"), col("n_tokens_clean"))
  }

  /** Source-balance summary: is the training mixture dominated by one
    * source? One row — source count, total token mass, the largest
    * source's share, and the Gini coefficient of token mass across
    * sources (0 = perfectly even, → 1 = one source holds everything).
    * The first thing a mixture audit reads before tuning
    * [[Sampling.mixturePlan]] weights.
    *
    * ONE corpus shuffle (per-source token sums); the Gini's pairwise
    * |x_i − x_j| runs on the ≤ sources² cross of that tiny aggregate —
    * sources number in the dozens at any scale, so the quadratic is on
    * a constant-sized frame, never the corpus. */
  def sourceBalance(docs: DataFrame, sourceCol: String,
                    tokensCol: String): DataFrame = {
    val per = docs
      .groupBy(col(sourceCol))
      .agg(sum(col(tokensCol).cast("long")).as("__t"))
    val tot = per.agg(count(lit(1)).as("n_sources"),
      sum(col("__t")).as("total_tokens"), max(col("__t")).as("__mx"))
    val sad = per.select(col("__t").as("__a"))
      .crossJoin(per.select(col("__t").as("__b")))
      .agg(sum(abs(col("__a") - col("__b"))).as("__sad"))
    tot.crossJoin(sad)
      .select(col("n_sources"), col("total_tokens"),
        (col("__mx").cast("double") / col("total_tokens"))
          .as("max_share"),
        (col("__sad").cast("double") /
          (lit(2.0) * col("n_sources") * col("total_tokens")))
          .as("gini"))
  }

  /** Token-yield curve: how many training tokens survive at each quality
    * tier — the planning tool behind "where do we set the quality bar for
    * an N-token budget?". Documents are cut into `buckets` equal-count
    * tiers by exact quality percentiles (bucket 1 = highest quality);
    * each output row carries the tier's doc/token mass plus the
    * cumulative token count and fraction from the top tier down, so the
    * curve reads directly as budget-vs-threshold.
    *
    * Scale shape — deliberately NOT a global sort + ntile (a 100 TB
    * corpus cannot single-partition sort): tier edges come from
    * [[Quantiles.exactPercentiles]] (distributed, driver gets
    * buckets-1 doubles), the tier assignment is a row-local comparison
    * chain against those literals, and the aggregation is ONE partial-agg
    * groupBy to ≤ buckets rows. The cumulative walk is a window over that
    * ≤ buckets-row frame (the bounded post-aggregate pattern). Ties
    * exactly on a tier edge go to the better tier (>= threshold), so the
    * tiers are equal-count only up to ties; a tier emptied by ties emits
    * no row. */
  def tokenYieldCurve(docs: DataFrame, qualityCol: String,
                      tokensCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    // persisted: the percentile pass scans the scored frame three times
    // (sketch, below-counts, bracket histogram) and the curve once more —
    // when quality is a computed expression (the usual case) each scan
    // would otherwise re-run the scoring over the full corpus. Projected
    // to the two needed columns first so the cache holds doubles+longs,
    // not documents. Lifetime as in curateFull: Verify/Bench clear
    // caches between queries.
    val scored = docs
      .select(col(qualityCol).cast("double").as(qualityCol),
        col(tokensCol).cast("long").as(tokensCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thresholds = Quantiles.exactPercentiles(scored, qualityCol, qs)
    val q = col(qualityCol).cast("double")
    val nAtOrAbove = thresholds
      .map(t => when(q >= lit(t), 1).otherwise(0))
      .reduce(_ + _)
    val perTier = scored
      .filter(q.isNotNull)
      .withColumn("bucket", (lit(buckets) - nAtOrAbove).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("sum_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perTier
      .withColumn("cum_tokens", sum(col("sum_tokens")).over(w))
      .withColumn("cum_frac",
        col("cum_tokens").cast("double") /
          sum(col("sum_tokens")).over(all).cast("double"))
  }
}
