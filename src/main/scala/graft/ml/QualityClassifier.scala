package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression,
  LogisticRegressionModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** fastText-style linear quality classifier: hashed bag-of-words
  * features + logistic regression — the architecture of the
  * GPT-3/CCNet-lineage "does this page look like the reference corpus"
  * filter. The split that matters at 100 TB:
  *
  *   - TRAIN distributed on a labeled sample with Spark ML
  *     (LogisticRegression — iterative, executor-parallel),
  *   - DEPLOY as a pure Column expression ([[scoreExpr]]): the learned
  *     weight vector rides into the plan as an array literal (2^k
  *     doubles — KBs, free to broadcast inside the task binary) and each
  *     document costs one whitespace tokenization + one hash-lookup-sum
  *     fold. No model object, no UDF, no ML runtime on the scoring
  *     cluster; the scan stays in whole-stage codegen.
  *
  * Parity contract: training and scoring share ONE feature hash —
  * `mix31(stringKey31(lower_token), seed) % numFeatures`, the portable
  * chain from [[graft.operators.Sampling]] — because the trainer
  * featurizes with that very expression, and the whole scoring fold is
  * reproducible in plain SQL on another engine (the DuckDB oracle
  * gates). `HashingTF` is deliberately NOT used: its index is a murmur3
  * of the token bytes, not reproducible in a pure-Column scorer that
  * must also replay under the oracle. The one UDF (index list -> ml
  * Vector) runs at TRAINING time over the labeled sample only; the
  * 100 TB scoring pass is UDF-free. Scoring sums weights in token order
  * vs ml's index-order dot product — identical reals, FP-associativity
  * differences only (spec bounds them at 1e-9 on the probability). */
object QualityClassifier {

  /** Learned scorer: weights[i] for hashed-token index i + intercept. */
  final case class LinearScorer(weights: Array[Double],
                                intercept: Double) {
    def numFeatures: Int = weights.length
  }

  /** Hashed-token feature indices, the SHARED train/deploy hash. */
  private def featureIdx(text: Column, numFeatures: Int,
                         seed: Long): Column =
    transform(
      coalesce(TextFunctions.tokens(lower(text)),
        array().cast("array<string>")),
      t => tokenIdx(t, numFeatures, seed))

  /** One token's hashed feature index in [0, numFeatures). */
  private def tokenIdx(tok: Column, numFeatures: Int, seed: Long): Column =
    graft.operators.Sampling.mix31(
      graft.operators.Sampling.stringKey31(tok), lit(seed)) %
      lit(numFeatures.toLong)

  private[ml] def featurize(df: DataFrame, textCol: String,
                            numFeatures: Int, seed: Long): DataFrame = {
    val toVec = udf((idxs: Seq[Long]) => {
      val a = new Array[Double](numFeatures)
      if (idxs != null) idxs.foreach(i => a(i.toInt) += 1.0)
      org.apache.spark.ml.linalg.Vectors.dense(a)
    })
    df.withColumn("features",
      toVec(featureIdx(col(textCol), numFeatures, seed)
        .cast("array<long>")))
  }

  /** Train on (textCol, labelCol in {0.0, 1.0}); returns the dense
    * scorer. numFeatures is the hash width — collisions are part of the
    * model (train and deploy share them by construction).
    * `seed` keys the feature hash and must match the one handed to
    * [[scoreExpr]]. */
  def train(df: DataFrame, textCol: String, labelCol: String,
            numFeatures: Int = 1024, maxIter: Int = 50,
            regParam: Double = 1e-4, seed: Long): LinearScorer = {
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setRegParam(regParam).setFeaturesCol("features")
      .setLabelCol(labelCol)
    val model: LogisticRegressionModel =
      lr.fit(featurize(df, textCol, numFeatures, seed))
    LinearScorer(model.coefficients.toArray, model.intercept)
  }

  /** The deployment face: P(label=1 | text) as a pure Column expression.
    * sigmoid(intercept + sum over token OCCURRENCES of
    * weights[featureIdx(lower token)]) — occurrence-summing equals
    * the dot product with HashingTF's term-frequency vector. Empty/null
    * docs score sigmoid(intercept) (the model's prior), matching ml's
    * all-zero feature vector. */
  def scoreExpr(text: Column, scorer: LinearScorer, seed: Long): Column = {
    val margin = marginExpr(text, scorer, seed)
    (lit(1.0) / (lit(1.0) + exp(-margin))).as("quality_prob")
  }

  /** The raw decision margin (pre-sigmoid): intercept + the left-fold
    * weight sum in TOKEN ORDER. Unlike the sigmoid (whose `exp` may
    * differ in the last ULP across engines), the margin is pure +/index
    * arithmetic over the stored weights — bit-identical on any IEEE
    * engine folding the same token order, which is what the DuckDB
    * oracle face gates. margin >= 0 IS the prob >= 0.5 decision. */
  def marginExpr(text: Column, scorer: LinearScorer, seed: Long): Column = {
    val wArr = array(scorer.weights.map(lit): _*)
    // bind tokens once (1-element transform idiom) so the tokenizer
    // regex runs once per row, not once per token lookup
    val perDoc = transform(array(TextFunctions.tokens(lower(text))), t =>
      aggregate(coalesce(t, array().cast("array<string>")),
        lit(scorer.intercept),
        (acc, tok) => acc + element_at(wArr,
          tokenIdx(tok, scorer.numFeatures, seed).cast("int") + 1)))
    element_at(perDoc, 1)
  }

  /** Keep documents scoring at or above `minProb` — the corpus-side
    * filter pass. Row-local, zero shuffles. */
  def filterByScore(df: DataFrame, textCol: String, scorer: LinearScorer,
                    minProb: Double, seed: Long): DataFrame =
    df.filter(scoreExpr(col(textCol), scorer, seed) >= minProb)
}
