package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for pretraining corpora: find (and drop)
  * training documents that overlap an evaluation set, the step every
  * serious data pipeline runs so the model is not graded on text it
  * memorized. The standard test is distinct word n-gram overlap
  * (the GPT-3 appendix-C / PaLM style check): a training doc is
  * contaminated when it shares at least `minOverlap` distinct n-grams
  * with any benchmark doc.
  *
  * Scale shape: the benchmark side is tiny relative to the corpus (eval
  * sets are thousands of docs, the corpus is billions), so its distinct
  * n-gram set is broadcast and the whole check is ONE map-side
  * broadcast-semi-join over the exploded corpus n-grams plus one
  * aggregation by doc — no corpus-vs-corpus shuffle, no pairwise work.
  * The n-gram explode itself is row-local (a Generate).
  *
  * Reuses [[Dedup.shingles]] (native ShinglesExpr kernel), so the n-gram
  * definition — distinct n-grams over `\s+` tokens of the lowercased,
  * trimmed text — is identical to the near-dup family's.
  */
object Decontam {

  /** Per-document contamination evidence: the count of distinct n-grams
    * shared with the benchmark set, and that count scaled by the doc's
    * own distinct-n-gram total (`overlap_frac`, 0 when the doc has no
    * n-grams). Docs with zero overlap are omitted — at corpus scale the
    * result is a small frame of suspects, not a full-corpus column.
    *
    * `benchTextCol` names the eval set's text column — an eval frame
    * legitimately has a different schema than the corpus ("question" vs
    * "text"); it defaults to `textCol`. */
  def contaminationScores(docs: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          benchTextCol: String = null,
                          n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val benchText = Option(benchTextCol).getOrElse(textCol)
    val grams = docs.select(col(idCol),
        Dedup.shingles(col(textCol), n).as("__grams"))
      .select(col(idCol), size(col("__grams")).as("__n_grams"),
        explode(col("__grams")).as("__gram"))
    val benchGrams = broadcast(bench
      .select(explode(Dedup.shingles(col(benchText), n)).as("__gram"))
      .distinct())
    // per-doc shingle sets are distinct, so the semi-join hit count IS the
    // distinct-overlap count; left_semi keeps the probe side map-local
    grams.join(benchGrams, Seq("__gram"), "left_semi")
      .groupBy(col(idCol), col("__n_grams")) // __n_grams is constant per doc
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"),
        when(col("__n_grams") > 0,
          col("n_overlap").cast("double") / col("__n_grams"))
          .otherwise(lit(0.0)).as("overlap_frac"))
  }

  /** Drop contaminated docs: those sharing >= `minOverlap` distinct
    * n-grams with the benchmark set. The anti-join's right side is the
    * small suspects frame, so the corpus passes through untouched. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    benchTextCol: String = null,
                    n: Int = 3, minOverlap: Long = 1L): DataFrame = {
    val flagged = contaminationScores(docs, bench, idCol, textCol,
        benchTextCol, n)
      .filter(col("n_overlap") >= minOverlap)
      .select(col(idCol))
    docs.join(broadcast(flagged), Seq(idCol), "left_anti")
  }

  /** The benchmark's distinct n-gram set, collected to the driver — the
    * input [[tagContamination]] embeds. Bounded by the EVAL set's size
    * (thousands of docs -> MBs of grams), never the corpus. */
  def benchGramSet(bench: DataFrame, benchTextCol: String, n: Int = 3)
      : Seq[String] =
    bench.select(explode(Dedup.shingles(col(benchTextCol), n)).as("g"))
      .distinct().collect().map(_.getString(0)).toSeq

  /** Row-local contamination tag: `n_overlap` = |doc grams ∩ bench
    * grams| computed per row against an embedded gram set — ZERO
    * shuffles, no aggregation state, so it runs verbatim on a
    * Structured Streaming frame (the join+groupBy face
    * [[contaminationScores]] cannot: stream aggregation needs
    * watermarks and changes output mode). Every doc appears, including
    * zero-overlap ones. Same n-gram definition as the join face;
    * StreamingDecontamSpec pins stream == batch equality. */
  def tagContamination(docs: DataFrame, benchGrams: Seq[String],
                       textCol: String, n: Int = 3,
                       outCol: String = "n_overlap"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // native static-set kernel: the intersect face below rebuilds the
    // benchmark hash set PER ROW (O(|bench|) per doc — 3.1 s of the
    // 3.5 s q_stream_decontam micro-batch at sf0.1); the expression
    // binds a sorted set once and probes per doc gram. Bit-equal to
    // the intersect face (DecontamSpec differential).
    docs.withColumn(outCol, GraftColumnBridge.column(
      graft.plans.StaticGramOverlapExpr(
        GraftColumnBridge.expression(Dedup.shingles(col(textCol), n)),
        benchGrams)))
  }

  /** Interpreted intersect twin of [[tagContamination]], kept for
    * differential verification of the native kernel (DecontamSpec
    * asserts exact equality — same distinct-intersection count). */
  private[graft] def tagContaminationIntersect(docs: DataFrame,
      benchGrams: Seq[String], textCol: String, n: Int = 3,
      outCol: String = "n_overlap"): DataFrame =
    docs.withColumn(outCol,
      size(array_intersect(Dedup.shingles(col(textCol), n),
        lit(benchGrams.toArray))))

  /** SEMANTIC decontamination — the embedding-space sibling of the
    * n-gram overlap above: flag each corpus embedding whose cosine to
    * ANY eval-set embedding reaches `threshold` (paraphrased benchmark
    * leakage that exact n-grams miss). The eval frame broadcasts (it is
    * bounded by the benchmark, thousands of rows), so the corpus is
    * scanned once with a partition-local max — zero corpus shuffles
    * beyond the final per-id aggregation, which partial-aggregates to
    * one row per corpus id. Degenerate (zero-norm) vectors yield null
    * cosine and never flag. Output: corpusId, `max_eval_cos`,
    * `contaminated`. */
  def semanticContamination(corpus: DataFrame, eval: DataFrame,
                            corpusId: String, corpusVec: String,
                            evalVec: String,
                            threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    corpus.select(col(corpusId), col(corpusVec).as("__cv"))
      .crossJoin(broadcast(eval.select(col(evalVec).as("__ev"))))
      .select(col(corpusId),
        Similarity.cosine(col("__cv"), col("__ev")).as("__cos"))
      .groupBy(col(corpusId))
      .agg(max(col("__cos")).as("max_eval_cos"))
      .withColumn("contaminated",
        coalesce(col("max_eval_cos") >= threshold, lit(false)))
  }
}
