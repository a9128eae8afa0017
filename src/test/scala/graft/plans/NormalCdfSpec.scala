package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class NormalCdfSpec extends SparkSpec {

  test("all graft_* SQL functions register and evaluate (extension " +
    "function surface)") {
    GraftExtensions.register(spark)
    val d = df("doc STRING, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
      Row("the quick brown fox the quick", Seq(1.0, 2.0), Seq(2.0, 4.0)))
    d.createOrReplaceTempView("fn_t")
    val r = spark.sql(
      """SELECT
        |  graft_simhash64(split(lower(doc), '\\s+')) AS sh,
        |  graft_shingles(split(lower(doc), '\\s+'), 3) AS grams,
        |  graft_minhash_sig(graft_shingles(split(lower(doc), '\\s+'), 3), 8)
        |    AS mh,
        |  graft_cosine(a, b) AS cos
        |FROM fn_t""".stripMargin).collect()(0)
    assert(r.getLong(0) != 0L)
    assert(r.getSeq[String](1).contains("the quick brown"))
    assert(r.getSeq[java.lang.Long](2).length == 8)
    assertApprox(r.getAs[Double]("cos"), 1.0, 1e-14)
    // the signature functions bind the same kernels as the Column API
    val api = d.select(graft.operators.Dedup.simHash64(col("doc")),
        graft.operators.Dedup.minHashSignature(col("doc"), n = 3, k = 8))
      .collect()(0)
    assert(r.getLong(0) == api.getLong(0))
    assert(r.getSeq[java.lang.Long](2) == api.getSeq[java.lang.Long](1))
    // the sampling hash from SQL matches the Scala Column API
    val h = spark.sql(
      "SELECT graft_bucket_hash(42, 7) AS h1, graft_bucket_hash(42) AS h0")
      .collect()(0)
    val expect = df("k BIGINT", Row(42L))
      .select(graft.operators.Sampling.bucketHash(col("k"), 7L),
        graft.operators.Sampling.bucketHash(col("k"))).collect()(0)
    assert(h.getLong(0) == expect.getLong(0))
    assert(h.getLong(1) == expect.getLong(1))
  }

  test("native expression matches known Phi values and stays in codegen") {
    GraftExtensions.register(spark)
    val d = df("z DOUBLE", Seq(-3.0, -1.96, 0.0, 1.0, 1.96, 3.0).map(Row(_)): _*)
    d.createOrReplaceTempView("zs")
    val out = spark.sql("SELECT z, graft_norm_cdf(z) AS p FROM zs")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assertApprox(out(0.0), 0.5, 1e-14)
    assertApprox(out(1.96), 0.9750021048517795, 1e-12)
    assertApprox(out(-1.96), 0.024997895148220435, 1e-12)
    assertApprox(out(1.0), 0.8413447460685429, 1e-12)
    // symmetric
    assertApprox(out(3.0) + out(-3.0), 1.0, 1e-14)
    // the expression appears inside a WholeStageCodegen span (no
    // fallback); use range() so ConvertToLocalRelation can't fold it away
    val plan = spark.range(100)
      .select(expr("graft_norm_cdf(cast(id AS double))"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is executedPlan's compact WholeStageCodegen marker
    assert(plan.contains("*(1) Project"), plan)
  }

  test("matches the erf form 0.5 * (1 + erf(x / sqrt 2))") {
    GraftExtensions.register(spark)
    val rng = new scala.util.Random(9)
    val zs = Seq.fill(100)(rng.nextGaussian() * 3)
    val d = df("z DOUBLE", zs.map(Row(_)): _*)
    val got = d.select(expr("graft_norm_cdf(z)")).collect().map(_.getDouble(0))
    val diff = zs.zip(got).map { case (z, p) =>
      math.abs(p - 0.5 * (1.0 + org.apache.commons.math3.special.Erf.erf(
        z / math.sqrt(2.0))))
    }.max
    assert(diff < 1e-12)
  }

  test("null propagates, non-double input rejected at analysis") {
    GraftExtensions.register(spark)
    val d = df("z DOUBLE", Row(null.asInstanceOf[Any]))
    assert(d.select(expr("graft_norm_cdf(z)")).collect()(0).isNullAt(0))
    val bad = df("s STRING", Row("x"))
    bad.createOrReplaceTempView("bad_t")
    intercept[Exception] {
      spark.sql("SELECT graft_norm_cdf(s) FROM bad_t").collect()
    }
  }
}
