package graft.ml

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityClassifierSpec extends SparkSpec {

  // planted task: "prose" docs contain stopwords, "spam" docs don't —
  // linearly separable in hashed BoW space
  private def corpus(n: Int) = {
    val prose = Vector("the", "quick", "fox", "and", "a", "dog", "in",
      "barn", "of", "hay", "is", "warm")
    val spam = Vector("buy", "click", "win", "free", "now", "offer",
      "cash", "prize", "deal", "sale")
    val rng = new scala.util.Random(11)
    val rows = (1 to n).map { i =>
      val isProse = i % 2 == 0
      val vocab = if (isProse) prose else spam
      val text = Seq.fill(15)(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")
      Row(i.toLong, text, if (isProse) 1.0 else 0.0)
    }
    df("doc_id BIGINT, text STRING, label DOUBLE", rows: _*)
  }

  test("scoreExpr probability matches ml transform to 1e-9") {
    val d = corpus(300)
    val feats = QualityClassifier.featurize(d, "text", 256, seed = 7L)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(30).setRegParam(1e-4).setLabelCol("label")
    val model = lr.fit(feats)
    val scorer = QualityClassifier.LinearScorer(
      model.coefficients.toArray, model.intercept)
    val mlProbs = model.transform(feats)
      .select(col("doc_id"), col("probability")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.DenseVector](1)(1)).toMap
    val exprProbs = d.select(col("doc_id"),
        QualityClassifier.scoreExpr(col("text"), scorer, 7L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    mlProbs.foreach { case (id, p) =>
      assert(math.abs(p - exprProbs(id)) < 1e-9,
        s"doc $id: ml $p vs expr ${exprProbs(id)}")
    }
  }

  test("classifier separates the planted classes; filterByScore keeps " +
    "prose and drops spam") {
    val d = corpus(400)
    val scorer = QualityClassifier.train(d, "text", "label",
      numFeatures = 256, seed = 7L)
    val kept = QualityClassifier.filterByScore(d, "text", scorer, 0.5,
        seed = 7L)
      .select("label").collect().map(_.getDouble(0))
    assert(kept.count(_ == 1.0).toDouble / kept.length > 0.95)
    assert(kept.length > 150) // most prose survives
  }

  test("portable face: expr matches ml transform, classes still separate, " +
    "margin sign == prob >= 0.5") {
    val d = corpus(300)
    val seed = 7L
    val feats = QualityClassifier.featurize(d, "text", 256, seed)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(30).setRegParam(1e-4).setLabelCol("label")
    val model = lr.fit(feats)
    val scorer = QualityClassifier.LinearScorer(
      model.coefficients.toArray, model.intercept)
    val mlProbs = model.transform(feats)
      .select(col("doc_id"), col("probability")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.DenseVector](1)(1)).toMap
    val rows = d.select(col("doc_id"),
        QualityClassifier.scoreExpr(col("text"), scorer, seed),
        QualityClassifier.marginExpr(col("text"), scorer, seed)).collect()
    rows.foreach { r =>
      val (id, p, m) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs(p - mlProbs(id)) < 1e-9,
        s"doc $id: ml ${mlProbs(id)} vs expr $p")
      assert((m >= 0.0) == (p >= 0.5), s"doc $id: margin/prob disagree")
    }
    val trained = QualityClassifier.train(d, "text", "label",
      numFeatures = 256, seed = seed)
    val kept = QualityClassifier
      .filterByScore(d, "text", trained, 0.5, seed)
      .select("label").collect().map(_.getDouble(0))
    assert(kept.count(_ == 1.0).toDouble / kept.length > 0.95)
  }

  test("empty and null docs score the intercept prior") {
    val scorer = QualityClassifier.LinearScorer(
      Array.fill(16)(5.0), intercept = 0.0)
    val d = df("doc_id BIGINT, text STRING", Row(1L, null))
    val p = d.select(QualityClassifier.scoreExpr(col("text"), scorer, 7L))
      .collect()(0).getDouble(0)
    assert(approx(p, 0.5)) // sigmoid(0)
  }
}
