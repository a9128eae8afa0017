package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.AuxSources

import Fixtures._
import Shared._

/** ML gates: model fits whose per-row predictions are persisted as
  * per-run fixtures the oracle replays, plus classification metrics. */
object MlGates {

  /** The quality-classifier gates' held-out-split predicate (seed 12,
    * rate 0.3) — the [[graft.operators.Sampling.hashSplitTag]] twin. */
  private def QClsSplitSql: String =
    s"${HashSql("doc_id", 12L)} < ${Sampling.threshold(0.3)}"

  /** DuckDB twin of the quality-classifier SCORING fold (r16): reads
    * the per-run weight fixture at `wdir` (written by the gate in this
    * same process), rebuilds the portable-hash margin left-fold over
    * the held-out split in TOKEN ORDER — identical adds on identical
    * doubles, so the margin is bit-exact cross-engine. Ends in
    * `qm(doc_id, margin)`. A NULL-text doc has NO qtok rows (unnest of
    * a NULL list), so qm is built by LEFT join from the split itself
    * and folds just the intercept for it — matching the Spark side's
    * coalesce-to-empty-array margin — instead of silently dropping the
    * doc from the compared set (r16 ADVICE). */
  private def QClsMarginCtes(wdir: String): String =
    s"""wt AS (SELECT idx, w FROM read_parquet('$wdir/*.parquet')),
       |warr AS (SELECT list(w ORDER BY idx) AS arr FROM wt WHERE idx >= 0),
       |icept AS (SELECT w AS b0 FROM wt WHERE idx = -1),
       |qtoks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents WHERE $QClsSplitSql),
       |qtok AS (
       |  SELECT doc_id, unnest(t) AS tok,
       |    generate_subscripts(t, 1) AS ord
       |  FROM qtoks),
       |qw AS (
       |  SELECT doc_id, ord, arr[((${
           Mix31Sql(StringKey31Sql("tok"), QClsSeed.toString)
         }) % $QClsFeatures) + 1] AS w
       |  FROM qtok, warr),
       |qws AS (
       |  SELECT doc_id, list(w ORDER BY ord) AS ws FROM qw GROUP BY doc_id),
       |qm AS (
       |  SELECT q.doc_id, list_reduce(
       |      [(SELECT b0 FROM icept)] ||
       |        coalesce(g.ws, []::DOUBLE[]),
       |      (a, b) -> a + b) AS margin
       |  FROM qtoks q LEFT JOIN qws g USING (doc_id))""".stripMargin

  /** XOR of two hash features: linearly inseparable, so a depth-1 stump
    * scores ~chance while any depth >= 2 tree separates it cleanly — the
    * planted performance gap that lets the M3 CV gate PROVE model
    * selection happened (a grid where every point ties demonstrates
    * nothing). f_n1 is a pure-noise decoy. */
  private val MlInteractionCols = Seq("f_a", "f_b", "f_n1")
  private def mlInteraction(s: SparkSession, dir: String): DataFrame = {
    val base = eventsNs(s, dir)
      .filter(col("event_id") < 1024L)
      .withColumn("f_a", Sampling.unitHash(col("event_id"), 11L))
      .withColumn("f_b", Sampling.unitHash(col("event_id"), 13L))
      .withColumn("f_n1", Sampling.unitHash(col("event_id"), 9L))
      .withColumn("direction",
        when((col("f_a") > 0.5) =!= (col("f_b") > 0.5), 1).otherwise(-1))
    Sampling.hashSplitTag(
      graft.ml.DirectionModel.prepareTraining(base, MlInteractionCols),
      "event_id", 0.25, seed = 42L)
  }

  /** DuckDB twin of [[graft.operators.Sampling.unitHash]]'s strict
    * `> 0.5` compare: bucketHash is the unit value times 2^20, so
    * f > 0.5 iff the integer bucket exceeds 524288. */
  private def UnitHashGtHalfSql(key: String, seed: Long): String =
    s"${HashSql(key, seed)} > 524288"

  /** Oracle of q_calibration, shared with its replay twins. */
  private[gates] val CalibrationSql: String =
    s"""WITH e AS ($EventsNs),
       |p AS (
       |  SELECT CASE WHEN ($Side) = -1 THEN 1 ELSE 0 END AS label,
       |    0.5 * ((${HashSql("event_id", 7L)}) / 1048576.0)
       |      + 0.25 * CAST(CASE WHEN ($Side) = -1 THEN 1 ELSE 0 END AS DOUBLE)
       |      + 0.125 AS p
       |  FROM e)
       |SELECT LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
       |  COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pos,
       |  ${R6("SUM(p) / COUNT(*)")} AS mean_p_micro,
       |  ${R6("CAST(SUM(label) AS DOUBLE) / COUNT(*)")} AS frac_pos_micro
       |FROM p GROUP BY 1""".stripMargin

  /** Oracle of q_m9_confusion, shared with its replay twins. */
  private[gates] val M9ConfusionSql: String =
    s"""WITH e AS ($EventsNs)
       |SELECT CAST($Side AS BIGINT) AS actual,
       |  CAST(CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS BIGINT) AS pred,
       |  COUNT(*) AS n
       |FROM e GROUP BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(

    // --- LLM ops: fastText-style quality classifier — FULLY ORACLED
    //     since r16 (was rows-only): train LR on hashed BoW
    //     (mix31∘stringKey31, the classifier's only feature hash,
    //     reproducible in plain SQL) against the planted label
    //     (quality heuristic at 0.6 — ~50/50 at these SFs), persist the
    //     LEARNED weights as a per-run parquet fixture, score the
    //     held-out split with the pure-Column margin fold. The oracle
    //     re-reads THIS run's weights and replays split, label, fold,
    //     and the accuracy gate in SQL — any hash, fold-order, or
    //     weight-persist drift hash-misses. The TRAINING remains an
    //     iterative ML fit (not SQL-expressible); what graduated is
    //     everything downstream of the learned weights ---
    Gate("q_quality_classifier", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("label",
        (TextFunctions.qualityScore(col("text")) >= 0.6).cast("double"))
      val tagged = Sampling.hashSplitTag(docs, "doc_id", 0.3, seed = 12L)
      val nTrain = tagged.filter(!col("is_test")).count()
      val scorer = qClsSharedScorer(s, dir)
      writeScorer(s, scorer, QClsWeightsDir)
      val margin = graft.ml.QualityClassifier.marginExpr(col("text"),
        scorer, QClsSeed)
      tagged.filter(col("is_test"))
        .withColumn("__pred", (margin >= 0.0).cast("double"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("__pred") === col("label"), 1L).otherwise(0L))
            .as("__correct"))
        .select(lit("hashed_bow_lr").as("model"),
          lit(nTrain).as("n_train"), col("n_test"),
          (col("__correct") >= col("n_test") * lit(0.7))
            .as("beats_planted"))
    },
      // q_quality_classifier twin (r16, graduated from rows-only): the
      // gate persisted its LEARNED weights to a per-run fixture; the
      // oracle replays split, portable-hash margin fold, planted label
      // (the q_quality_score quality chain at 0.6), and the accuracy
      // gate. (margin >= 0) IS the prob >= 0.5 decision, and the planted
      // label's 0.6 compare is exact because both engines compute the
      // identical IEEE quality chain.
      s"""WITH ${QClsMarginCtes(QClsWeightsDir)},
         |${TokensCte(s"documents WHERE $QClsSplitSql", "qs_t")},
         |qs_m AS (
         |  SELECT doc_id,
         |    ${QualityFeatureCols()}
         |  FROM qs_t),
         |qs_q AS (
         |  SELECT doc_id,
         |    $QualityScoreExpr AS quality
         |  FROM qs_m)
         |SELECT 'hashed_bow_lr' AS model,
         |  (SELECT COUNT(*) FROM documents WHERE NOT ($QClsSplitSql))
         |    AS n_train,
         |  COUNT(*) AS n_test,
         |  SUM(CASE WHEN (margin >= 0) = (quality >= 0.6)
         |    THEN 1 ELSE 0 END) >= COUNT(*) * 0.7 AS beats_planted
         |FROM qm JOIN qs_q USING (doc_id)""".stripMargin),

    // --- LLM ops: the classifier's per-document SCORING face — the
    //     decision margin per held-out doc, oracled ROW BY ROW (a far
    //     finer hash surface than the aggregate accuracy gate: one
    //     mis-hashed token anywhere moves some margin_micro). The
    //     margin, not the sigmoid, is the gated number: pure +/index
    //     arithmetic over the persisted weights is bit-identical on
    //     any IEEE engine folding the same token order, where exp()
    //     may differ in the last ULP; margin >= 0 IS the prob >= 0.5
    //     keep decision, also emitted. Shares the per-run trained
    //     scorer with q_quality_classifier (identical fit by
    //     construction) but writes its OWN fixture so the gate stays
    //     self-contained under SPARK_GRAFT_ONLY subsets ---
    Gate("q_quality_score_oracle", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("label",
        (TextFunctions.qualityScore(col("text")) >= 0.6).cast("double"))
      val tagged = Sampling.hashSplitTag(docs, "doc_id", 0.3, seed = 12L)
      val scorer = qClsSharedScorer(s, dir)
      writeScorer(s, scorer, QScoreWeightsDir)
      val margin = graft.ml.QualityClassifier.marginExpr(col("text"),
        scorer, QClsSeed)
      tagged.filter(col("is_test"))
        .select(col("doc_id"), r6(margin).as("margin_micro"),
          (margin >= 0.0).as("keep"))
    },
      // q_quality_score_oracle twin: the per-document margin face — same
      // fixture-fold machinery, gated row by row
      s"""WITH ${QClsMarginCtes(QScoreWeightsDir)}
         |SELECT doc_id, ${R6("margin")} AS margin_micro,
         |  margin >= 0 AS keep
         |FROM qm""".stripMargin),

    // --- M9: confusion matrix (EDA_ML.ipynb cells 11-16) over a
    //     deterministic prediction rule ---
    Gate("q_m9_confusion", (s, dir) => {
      val preds = sidePredictions(eventsNs(s, dir))
      graft.ml.DirectionModel.confusionMatrix(preds, "actual", "pred")
    },
      M9ConfusionSql),

    // --- M9 extension: Cohen's kappa — chance-corrected agreement on
    //     the same deterministic (actual, pred) frame as q_m9_confusion;
    //     all inputs integer counts, so po/pe/kappa are identical double
    //     arithmetic cross-engine ---
    Gate("q_kappa", (s, dir) => {
      val preds = sidePredictions(eventsNs(s, dir))
      graft.ml.DirectionModel.cohenKappa(preds, "actual", "pred")
        .select(col("n"), r6(col("po")).as("po_micro"),
          r6(col("pe")).as("pe_micro"),
          r6(col("kappa")).as("kappa_micro"))
    },
      // Cohen's kappa off the same confusion counts as q_m9_confusion
      s"""WITH e AS ($EventsNs),
         |cm AS (
         |  SELECT CAST($Side AS BIGINT) AS l,
         |    CAST(CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END
         |      AS BIGINT) AS p,
         |    COUNT(*) AS n
         |  FROM e GROUP BY 1, 2),
         |tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |    CAST(COALESCE(SUM(CASE WHEN l = p THEN n END), 0)
         |      AS BIGINT) AS agree
         |  FROM cm),
         |rm AS (SELECT l AS c, CAST(SUM(n) AS BIGINT) AS nl
         |  FROM cm GROUP BY 1),
         |pm AS (SELECT p AS c, CAST(SUM(n) AS BIGINT) AS np
         |  FROM cm GROUP BY 1),
         |ee AS (
         |  SELECT CAST(COALESCE(SUM(rm.nl * pm.np), 0) AS BIGINT) AS e2
         |  FROM rm JOIN pm USING (c))
         |SELECT nn AS n,
         |  ${R6("agree::DOUBLE / nn")} AS po_micro,
         |  ${R6("e2::DOUBLE / (nn * nn)")} AS pe_micro,
         |  ${R6("CASE WHEN e2::DOUBLE / (nn * nn) < 1.0 THEN (agree::DOUBLE / nn - e2::DOUBLE / (nn * nn)) / (1.0 - e2::DOUBLE / (nn * nn)) END")} AS kappa_micro
         |FROM tot, ee""".stripMargin),

    // --- M9 extension: calibration/reliability bins. The probe score
    //     is built on a DYADIC grid (hash/2^20 halved, quarter-weight
    //     label, eighth offset), so every bin's double sum is exact and
    //     order-independent — mean_p gates bit-for-bit cross-engine ---
    Gate("q_calibration", (s, dir) => {
      val preds = calibrationFrame(eventsNs(s, dir))
      graft.ml.DirectionModel.calibrationBins(preds, "p", "label")
        .select(col("bin"), col("n"), col("n_pos"),
          r6(col("mean_p")).as("mean_p_micro"),
          r6(col("frac_pos")).as("frac_pos_micro"))
    },
      // calibration bins: the dyadic-grid score makes SUM(p) exact in
      // double, so mean_p matches bit-for-bit without decimal plumbing
      CalibrationSql),

    // --- dependence probe: mutual information between event_type and
    //     a user segment — one joint-count shuffle, pico-nat-quantized
    //     term sum (order-independent, engine-exact) ---
    Gate("q_mutual_info", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("seg", pmod(col("user_id"), lit(8L)))
      DistTests.mutualInformation(ev, "event_type", "seg")
    },
      // mutual information: exact-count ratios, ln on identical doubles,
      // pico-nat LONG quantization before the sum — mirrors the engine
      s"""WITH e AS ($EventsNs),
         |t AS (SELECT event_type AS x, user_id % 8 AS y FROM e),
         |j AS (SELECT x, y, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM j GROUP BY 1),
         |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM j GROUP BY 1),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
         |terms AS (
         |  SELECT (CAST(c AS DOUBLE) / n) *
         |    ln((CAST(c AS DOUBLE) * n) /
         |      (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) AS term
         |  FROM j JOIN mx USING (x) JOIN my USING (y), nn),
         |agg AS (
         |  SELECT CAST(SUM(CAST(floor(term * 1e12 + 0.5) AS BIGINT))
         |      AS BIGINT) AS mi_pico,
         |    COUNT(*) AS n_pairs
         |  FROM terms)
         |SELECT mi_pico, CAST(mi_pico AS DOUBLE) / 1e12 AS mi_nats,
         |  (SELECT n FROM nn) AS n, n_pairs
         |FROM agg""".stripMargin),

    // --- dependence probe: chi-square independence test + Cramér's V
    //     on the same contingency machinery (zero cells densified) ---
    Gate("q_chi_square", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("seg", pmod(col("user_id"), lit(8L)))
      DistTests.chiSquare(ev, "event_type", "seg")
    },
      // chi-square: densified grid from the marginal cross, expected
      // counts from exact integers, micro-quantized term sum
      s"""WITH e AS ($EventsNs),
         |t AS (SELECT event_type AS x, user_id % 8 AS y FROM e),
         |j AS (SELECT x, y, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM j GROUP BY 1),
         |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM j GROUP BY 1),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
         |kk AS (SELECT (SELECT COUNT(*) FROM mx) AS nx,
         |  (SELECT COUNT(*) FROM my) AS ny),
         |cells AS (
         |  SELECT g.cx, g.cy, COALESCE(j.c, 0) AS o
         |  FROM (SELECT mx.x, my.y, mx.cx, my.cy
         |        FROM mx CROSS JOIN my) g
         |  LEFT JOIN j ON j.x = g.x AND j.y = g.y),
         |terms AS (
         |  SELECT o, CAST(cx AS DOUBLE) * cy / n AS ex
         |  FROM cells, nn),
         |agg AS (
         |  SELECT CAST(SUM(CAST(floor(
         |      (o - ex) * (o - ex) / ex * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS chi2_micro
         |  FROM terms)
         |SELECT chi2_micro, (SELECT n FROM nn) AS n,
         |  (nx - 1) * (ny - 1) AS dof,
         |  CASE WHEN LEAST(nx, ny) > 1 THEN
         |    CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6 /
         |      ((SELECT n FROM nn) * (LEAST(nx, ny) - 1))) * 1e6 + 0.5)
         |      AS BIGINT) END AS cramers_v_micro
         |FROM agg, kk""".stripMargin),

    // --- M9 extension: per-segment ROC-AUC via the Mann-Whitney
    //     identity (tie-averaged ranks; ONE ordered-window shuffle) ---
    Gate("q_auc", (s, dir) => {
      val preds = calibrationFrame(eventsNs(s, dir))
        .withColumn("seg", pmod(col("user_id"), lit(4L)))
      graft.ml.DirectionModel.rocAuc(preds, "p", "label", Seq("seg"))
        .select(col("seg"), col("n_pos"), col("n_neg"),
          r6(col("auc")).as("auc_micro"))
    },
      // per-segment AUC: the Mann-Whitney rank identity on the same
      // dyadic score — tie-averaged ranks exactly as q_a14_mannwhitney
      s"""WITH e AS ($EventsNs),
         |p AS (
         |  SELECT user_id % 4 AS seg,
         |    CASE WHEN ($Side) = -1 THEN 1 ELSE 0 END AS label,
         |    0.5 * ((${HashSql("event_id", 7L)}) / 1048576.0)
         |      + 0.25 * CAST(CASE WHEN ($Side) = -1 THEN 1 ELSE 0 END AS DOUBLE)
         |      + 0.125 AS p
         |  FROM e),
         |ranked AS (
         |  SELECT seg, label,
         |    (2 * RANK() OVER (PARTITION BY seg ORDER BY p) +
         |     COUNT(*) OVER (PARTITION BY seg, p) - 1)::DOUBLE / 2.0 AS r
         |  FROM p)
         |SELECT seg,
         |  CAST(SUM(label) AS BIGINT) AS n_pos,
         |  CAST(SUM(1 - label) AS BIGINT) AS n_neg,
         |  ${R6("(SUM(CASE WHEN label = 1 THEN r ELSE 0.0 END) - SUM(label) * (SUM(label) + 1) / 2.0) / CAST(SUM(label) * SUM(1 - label) AS DOUBLE)")} AS auc_micro
         |FROM ranked GROUP BY 1""".stripMargin),

    // --- M9: full per-class classification report (zero-TP classes
    //     included, sklearn zero conventions) ---
    Gate("q_m9_report", (s, dir) => {
      val preds = sidePredictions(eventsNs(s, dir))
      graft.ml.DirectionModel.classificationReport(preds, "actual", "pred")
        .select(col("class"), r6(col("precision")).as("precision_micro"),
          r6(col("recall")).as("recall_micro"), col("tp"), col("support"),
          r6(col("f1")).as("f1_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |pr AS (SELECT CAST($Side AS BIGINT) AS actual,
         |  CAST(CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS BIGINT)
         |    AS pred FROM e),
         |cm AS (SELECT actual, pred, COUNT(*) AS n FROM pr GROUP BY 1, 2),
         |lt AS (SELECT actual AS class, CAST(SUM(n) AS BIGINT) AS support
         |  FROM cm GROUP BY 1),
         |pt AS (SELECT pred AS class, CAST(SUM(n) AS BIGINT) AS ptot
         |  FROM cm GROUP BY 1),
         |dg AS (SELECT actual AS class, n AS tp FROM cm
         |  WHERE actual = pred),
         |j AS (SELECT COALESCE(lt.class, pt.class) AS class,
         |  COALESCE(dg.tp, 0) AS tp, COALESCE(lt.support, 0) AS support,
         |  COALESCE(pt.ptot, 0) AS ptot
         |  FROM lt FULL OUTER JOIN pt ON lt.class = pt.class
         |  LEFT JOIN dg ON COALESCE(lt.class, pt.class) = dg.class),
         |m AS (SELECT class, tp, support,
         |  CASE WHEN ptot > 0 THEN CAST(tp AS DOUBLE) / ptot
         |    ELSE 0.0 END AS precision,
         |  CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support
         |    ELSE 0.0 END AS recall FROM j)
         |SELECT class, ${R6("precision")} AS precision_micro,
         |  ${R6("recall")} AS recall_micro, tp, support,
         |  ${R6("CASE WHEN precision + recall > 0 THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END")}
         |    AS f1_micro
         |FROM m""".stripMargin),

    // --- M1: GBT training gate — fixed-seed fit on a planted-signal
    //     frame (the reference's own sanity bar: the model must learn a
    //     signal that is in the data by construction,
    //     chunk_pipeline.py:82). FULLY ORACLED since r17 (was
    //     rows-only): the fit's per-row test predictions persist as a
    //     per-run fixture; the oracle replays split counts, the
    //     side-tag direction twin, and the accuracy fold from it — the
    //     GBT fit itself stays legitimately un-replayable ---
    Gate("q_m1_gbt", (s, dir) => {
      val d = mlPlanted(s, dir)
      val train = d.filter(!col("is_test"))
      val nTrain = train.count()
      val model = graft.ml.DirectionModel.gbtPipeline(MlGateCols,
        maxDepth = 3, maxIter = 5, subsample = 1.0).fit(train)
      val preds = graft.ml.DirectionModel.attachPredictions(
        model, d.filter(col("is_test")))
      preds.select(col("event_id"), col("pred_dir")).coalesce(1)
        .write.mode("overwrite").parquet(M1PredsDir)
      preds.agg(count(lit(1)).as("n_test"),
          sum(when(col("pred_dir") === col("direction"), 1L)
            .otherwise(0L)).as("__correct"))
        .select(lit("gbt").as("model"), lit(nTrain).as("n_train"),
          col("n_test"),
          (col("__correct") >= col("n_test") * lit(0.8))
            .as("beats_planted"))
    },
      // q_m1_gbt twin (r17, graduated from rows-only): the gate persisted
      // its fit's per-row test predictions; the oracle replays the split
      // counts, the side-tag direction, and the accuracy fold. The inner
      // join makes fixture coverage itself gated: a prediction row
      // missing for any test event (or predicted for a non-test event)
      // moves n_test off the split twin's count.
      s"""WITH pr AS (
         |  SELECT event_id, pred_dir
         |  FROM read_parquet('$M1PredsDir/*.parquet')),
         |ev AS (
         |  SELECT event_id, $Side AS direction,
         |    ${HashSql("event_id", 42L)} < ${Sampling.threshold(0.25)}
         |      AS is_test
         |  FROM events WHERE event_id < 1024)
         |SELECT 'gbt' AS model,
         |  (SELECT COUNT(*) FROM ev WHERE NOT is_test) AS n_train,
         |  COUNT(*) AS n_test,
         |  SUM(CASE WHEN p.pred_dir = e.direction THEN 1 ELSE 0 END)
         |    >= COUNT(*) * 0.8 AS beats_planted
         |FROM pr p JOIN ev e USING (event_id) WHERE e.is_test""".stripMargin),

    // --- S10: model artifact I/O (`chunk_pipeline.py:92-94,106-109`) —
    //     train -> save -> load -> re-predict; the gate pins bit-exact
    //     prediction parity between the in-memory and reloaded model.
    //     FULLY oracled: n_test is the deterministic hash-split count
    //     (computable in SQL) and parity must make every row match, so
    //     the oracle knows the whole output row a priori — any save/load
    //     drift (lost scaler mean, coefficient truncation) hash-misses ---
    Gate("q_s10_model_io", (s, dir) => {
      val d = mlPlanted(s, dir)
      val model = mlPlantedLrFit(s, dir) // shared fit (r18)
      val path = s"/tmp/graft_model_io_$RunTag"
      AuxSources.saveModel(model, path)
      val reloaded = AuxSources.loadModel(path)
      val test = d.filter(col("is_test"))
      val a = graft.ml.DirectionModel.attachPredictions(model, test)
        .select(col("event_id"), col("pred_dir").as("dir_a"),
          col("pred_prob").as("prob_a"))
      val b = graft.ml.DirectionModel.attachPredictions(reloaded, test)
        .select(col("event_id"), col("pred_dir").as("dir_b"),
          col("pred_prob").as("prob_b"))
      a.join(b, Seq("event_id"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("dir_a") === col("dir_b"), 1L).otherwise(0L))
            .as("n_dir_match"),
          max(abs(col("prob_a") - col("prob_b"))).as("__pdiff"))
        .select(lit("logistic").as("model"), col("n_test"),
          col("n_dir_match"), (col("__pdiff") === 0.0).as("prob_exact"))
    },
      // q_s10_model_io twin: save/load parity means every test row must
      // match itself, so the oracle is the hash-split test count (the same
      // mlPlanted split arithmetic in SQL) with full parity asserted
      s"""SELECT 'logistic' AS model, COUNT(*) AS n_test,
         |  COUNT(*) AS n_dir_match, TRUE AS prob_exact
         |FROM events WHERE event_id < 1024
         |  AND ${HashSql("event_id", 42L)} < ${Sampling.threshold(0.25)}""".stripMargin),

    // --- M2: prediction + label-remap contract — FULLY ORACLED since
    //     r17 (was rows-only): the gate persists the fit's raw per-row
    //     P(label=1) as a per-run fixture (the ML training is the only
    //     piece SQL cannot replay) and emits the REMAPPED per-row face;
    //     the oracle re-reads THIS run's scores and replays threshold,
    //     {-1,+1} remap, and per-row correctness against the side-tag
    //     direction — any threshold or label-indexing drift (e.g. an
    //     inverted class index) hash-misses row by row. pred_dir must
    //     equal (pred_prob > 0.5): Spark binary LR's prediction is the
    //     0.5 probability threshold (raw margin > 0), which is exactly
    //     what the CASE twin spells ---
    Gate("q_m2_predict", (s, dir) => {
      val d = mlPlanted(s, dir)
      val model = mlPlantedLrFit(s, dir) // shared fit (r18)
      val preds = graft.ml.DirectionModel.attachPredictions(
        model, d.filter(col("is_test")))
      preds.select(col("event_id"), col("pred_prob")).coalesce(1)
        .write.mode("overwrite").parquet(M2ScoresDir)
      preds.select(col("event_id"),
        r6(col("pred_prob")).as("prob_micro"), col("pred_dir"),
        (col("pred_dir") === col("direction")).as("correct"))
    },
      // q_m2_predict twin (r17, graduated from rows-only): the gate
      // persisted its fit's raw per-row P(label=1); the oracle replays
      // the 0.5 threshold, the {-1,+1} remap, and per-row correctness
      // against the side-tag direction over the same hash-split test set.
      // The raw LR fit itself stays legitimately un-replayable — what
      // graduated is everything downstream of the learned scores.
      s"""WITH sc AS (
         |  SELECT event_id, pred_prob
         |  FROM read_parquet('$M2ScoresDir/*.parquet')),
         |ev AS (
         |  SELECT event_id, $Side AS direction
         |  FROM events WHERE event_id < 1024
         |    AND ${HashSql("event_id", 42L)} < ${Sampling.threshold(0.25)})
         |SELECT e.event_id, ${R6("s.pred_prob")} AS prob_micro,
         |  CASE WHEN s.pred_prob > 0.5 THEN 1 ELSE -1 END AS pred_dir,
         |  (CASE WHEN s.pred_prob > 0.5 THEN 1 ELSE -1 END) = e.direction
         |    AS correct
         |FROM sc s JOIN ev e USING (event_id)""".stripMargin),

    // --- M3: RF grid-CV + LR. The RF grid is a REAL 2-point maxDepth
    //     search {1, 5} over the planted XOR interaction: a depth-1
    //     stump is chance on XOR, so cross-validation demonstrably
    //     SELECTS depth 5 (chosen_depth in the output; MlGatesSpec pins
    //     it rerun-stable). LR stays on the linear fixture — XOR is
    //     outside its hypothesis class by design ---
    Gate("q_m3_rf_lr", (s, dir) => {
      val di = mlInteraction(s, dir)
      val cvModel = graft.ml.DirectionModel.rfCrossValidated(
          MlInteractionCols, folds = 2, numTrees = Array(10),
          maxDepths = Array(1, 5))
        .fit(di.filter(!col("is_test")))
      val rf = cvModel.bestModel
        .asInstanceOf[org.apache.spark.ml.PipelineModel]
      val rfDepth = rf.stages.last
        .asInstanceOf[org.apache.spark.ml.classification.RandomForestClassificationModel]
        .getMaxDepth.toLong
      val dl = mlPlanted(s, dir)
      val lr = mlPlantedLrFit(s, dir) // shared fit (r18)
      // FULLY ORACLED since r17 (was rows-only): both fits' per-row
      // test predictions persist as ONE tagged fixture; the oracle
      // replays split membership, the planted-direction twins (side
      // tag for lr, the unitHash XOR for rf), the accuracy folds, and
      // pins chosen_depth = 5 as the EXPECTED CV selection (the
      // planted XOR makes depth 1 chance, so selection is provable —
      // a gate that picks the stump now hash-misses the oracle, not
      // just the spec)
      def predRows(model: org.apache.spark.ml.PipelineModel, name: String,
                   test: DataFrame) =
        graft.ml.DirectionModel.attachPredictions(model, test)
          .select(lit(name).as("model"), col("event_id"), col("pred_dir"))
      predRows(rf, "rf", di.filter(col("is_test")))
        .unionByName(predRows(lr, "lr", dl.filter(col("is_test"))))
        .coalesce(1).write.mode("overwrite").parquet(M3PredsDir)
      def gate(model: org.apache.spark.ml.PipelineModel, name: String,
               test: DataFrame, depth: Column) =
        graft.ml.DirectionModel.attachPredictions(model, test)
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("pred_dir") === col("direction"), 1L)
              .otherwise(0L)).as("__correct"))
          .select(lit(name).as("model"), col("n_test"),
            (col("__correct") >= col("n_test") * lit(0.8))
              .as("beats_planted"),
            depth.as("chosen_depth"))
      gate(rf, "rf", di.filter(col("is_test")), lit(rfDepth))
        .unionByName(gate(lr, "lr", dl.filter(col("is_test")),
          lit(null).cast("long")))
    },
      // q_m3_rf_lr twin (r17, graduated from rows-only): one tagged
      // fixture carries both fits' test predictions; the rf face folds
      // against the unitHash-XOR planted direction, the lr face against
      // the side tag. chosen_depth = 5 is the EXPECTED CV selection
      // (depth-1 is chance on the planted XOR), pinned here so a CV
      // machinery regression hash-misses the oracle.
      s"""WITH pr AS (
         |  SELECT model, event_id, pred_dir
         |  FROM read_parquet('$M3PredsDir/*.parquet')),
         |evi AS (
         |  SELECT event_id,
         |    CASE WHEN (${UnitHashGtHalfSql("event_id", 11L)})
         |        != (${UnitHashGtHalfSql("event_id", 13L)})
         |      THEN 1 ELSE -1 END AS direction
         |  FROM events WHERE event_id < 1024
         |    AND ${HashSql("event_id", 42L)} < ${Sampling.threshold(0.25)}),
         |evl AS (
         |  SELECT event_id, $Side AS direction
         |  FROM events WHERE event_id < 1024
         |    AND ${HashSql("event_id", 42L)} < ${Sampling.threshold(0.25)})
         |SELECT 'rf' AS model, COUNT(*) AS n_test,
         |  SUM(CASE WHEN p.pred_dir = e.direction THEN 1 ELSE 0 END)
         |    >= COUNT(*) * 0.8 AS beats_planted,
         |  CAST(5 AS BIGINT) AS chosen_depth
         |FROM pr p JOIN evi e USING (event_id) WHERE p.model = 'rf'
         |UNION ALL
         |SELECT 'lr' AS model, COUNT(*) AS n_test,
         |  SUM(CASE WHEN p.pred_dir = e.direction THEN 1 ELSE 0 END)
         |    >= COUNT(*) * 0.8 AS beats_planted,
         |  CAST(NULL AS BIGINT) AS chosen_depth
         |FROM pr p JOIN evl e USING (event_id) WHERE p.model = 'lr'""".stripMargin),
  )
}
