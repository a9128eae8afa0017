package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StatsSpec extends SparkSpec {

  test("population skewness: symmetric data -> 0") {
    val d = df("x DOUBLE", Seq(-2.0, -1.0, 0.0, 1.0, 2.0).map(Row(_)): _*)
    val s = d.agg(Stats.skewnessPop(col("x"))).collect()(0).getDouble(0)
    assertApprox(s, 0.0, 1e-12)
  }

  test("population skewness matches scipy bias=True on known data") {
    // x = [1,2,3,4,10]: mean=4, m2=50/5=10, m3=180/5=36 -> skew = 36/10^1.5
    val d = df("x DOUBLE", Seq(1.0, 2.0, 3.0, 4.0, 10.0).map(Row(_)): _*)
    val s = d.agg(Stats.skewnessPop(col("x"))).collect()(0).getDouble(0)
    assertApprox(s, 36.0 / math.pow(10.0, 1.5), 1e-10)
  }

  test("raw kurtosis: constant-free known data (fisher=False)") {
    // x = [-1, -1, 1, 1]: mean 0, m2=1, m4=1 -> kurt_raw = 1
    val d = df("x DOUBLE", Seq(-1.0, -1.0, 1.0, 1.0).map(Row(_)): _*)
    val k = d.agg(Stats.kurtosisRaw(col("x"))).collect()(0).getDouble(0)
    assertApprox(k, 1.0, 1e-12)
  }

  test("raw kurtosis = excess kurtosis + 3 (vs Spark built-in)") {
    val rng = new scala.util.Random(3)
    val d = df("x DOUBLE", Seq.fill(500)(Row(rng.nextGaussian())): _*)
    val r = d.agg(Stats.kurtosisRaw(col("x")), kurtosis(col("x"))).collect()(0)
    assertApprox(r.getDouble(0), r.getDouble(1) + 3.0, 1e-6)
  }

  test("sharpeColumns: hand-checked on a tiny return series") {
    // ret = [.01, .02, .03]: mean=.02, sd=.01, SR=2
    val d = df("ret DOUBLE", Seq(0.01, 0.02, 0.03).map(Row(_)): _*)
    val aggs = Stats.sharpeColumns(col("ret"))
    val r = d.agg(aggs.head, aggs.tail: _*).collect()(0)
    val m = r.schema.fieldNames.zipWithIndex.toMap
    assertApprox(r.getDouble(m("mean_ret")), 0.02, 1e-12)
    assertApprox(r.getDouble(m("sd_ret")), 0.01, 1e-10)
    assertApprox(r.getDouble(m("sharpe")), 2.0, 1e-9)
    assertApprox(r.getDouble(m("sharpe_annual")), 2.0 * math.sqrt(252.0), 1e-8)
    // skew 0 (symmetric); kurt_raw = m4/m2^2 = (2*(1e-2)^4... compute:
    // m2 = 2/3e-4? m2 pop = ((.01)^2+0+(.01)^2)/3 = 6.6667e-5
    // m4 = ((.01)^4*2)/3 = 6.667e-9 -> kurt = 6.667e-9/(6.667e-5)^2 = 1.5
    assertApprox(r.getDouble(m("kurt_raw")), 1.5, 1e-9)
    assertApprox(r.getDouble(m("skew")), 0.0, 1e-9)
    // t = SR / sqrt((1 - g3*SR + (g4-1)*SR^2/4)/(T-1))
    val expectT = 2.0 / math.sqrt((1.0 - 0.0 + (1.5 - 1.0) * 4.0 / 4.0) / 2.0)
    assertApprox(r.getDouble(m("sharpe_tstat")), expectT, 1e-9)
  }

  test("normalCdf: known values") {
    val d = df("z DOUBLE", Seq(0.0, 1.96, -1.96).map(Row(_)): _*)
    graft.plans.GraftExtensions.register(spark)
    val out = d.select(col("z"), expr("graft_norm_cdf(z)"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assertApprox(out(0.0), 0.5, 1e-12)
    assertApprox(out(1.96), 0.9750021, 1e-6)
    assertApprox(out(-1.96), 0.0249979, 1e-4)
  }

  test("pValueTwoSided symmetric in z") {
    val d = df("z DOUBLE", Seq(2.5, -2.5).map(Row(_)): _*)
    val ps = d.select(Stats.pValueTwoSided(col("z"))).collect()
      .map(_.getDouble(0))
    assertApprox(ps(0), ps(1), 1e-12)
    assert(ps(0) > 0 && ps(0) < 0.02)
  }

  test("pptColumns: sum(pnl)/sum(trades)*1e4") {
    val d = df("pnl DOUBLE, trades DOUBLE", Row(1.0, 100.0), Row(2.0, 200.0))
    val aggs = Stats.pptColumns(col("pnl"), col("trades"))
    val v = d.agg(aggs.head, aggs.tail: _*).collect()(0).getDouble(0)
    assertApprox(v, 3.0 / 300.0 * 1e4)
  }
}
