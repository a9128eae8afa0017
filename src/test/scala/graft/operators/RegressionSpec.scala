package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class RegressionSpec extends SparkSpec {

  test("simpleOlsByGroup recovers a perfect line per group") {
    val rows = (1 to 10).map(i => Row("g1", i.toDouble, 2.0 * i + 5.0)) ++
      (1 to 10).map(i => Row("g2", i.toDouble, -1.0 * i + 3.0))
    val d = df("g STRING, x DOUBLE, y DOUBLE", rows: _*)
    val out = Regression.simpleOlsByGroup(d, "y", "x", Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assertApprox(out("g1")._1, 2.0); assertApprox(out("g1")._2, 5.0)
    assertApprox(out("g1")._3, 1.0)
    assertApprox(out("g2")._1, -1.0); assertApprox(out("g2")._2, 3.0)
  }

  test("olsByGroup: exact 2-regressor fit, known coefficients") {
    // y = 3 + 2*x1 - 0.5*x2 exactly
    val rng = new scala.util.Random(7)
    val rows = (1 to 50).map { _ =>
      val x1 = rng.nextDouble() * 10; val x2 = rng.nextDouble() * 4
      Row(x1, x2, 3.0 + 2.0 * x1 - 0.5 * x2)
    }
    val d = df("x1 DOUBLE, x2 DOUBLE, y DOUBLE", rows: _*)
    val fit = Regression.olsByGroup(d, "y", Seq("x1", "x2"), Nil).head
    assertApprox(fit.intercept, 3.0, 1e-8)
    assertApprox(fit.coefs(0), 2.0, 1e-8)
    assertApprox(fit.coefs(1), -0.5, 1e-8)
    assertApprox(fit.r2, 1.0, 1e-10)
    assert(fit.n == 50)
  }

  test("olsByGroup vs closed-form simple regression (noisy data)") {
    val rng = new scala.util.Random(11)
    val pts = (1 to 200).map { _ =>
      val x = rng.nextDouble() * 10
      (x, 1.5 * x + 2.0 + rng.nextGaussian())
    }
    val d = df("x DOUBLE, y DOUBLE", pts.map(p => Row(p._1, p._2)): _*)
    val fit = Regression.olsByGroup(d, "y", Seq("x"), Nil).head
    // closed form slope/intercept
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
    val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    assertApprox(fit.coefs(0), sxy / sxx, 1e-8)
    assertApprox(fit.intercept, my - sxy / sxx * mx, 1e-8)
    // and vs the native regr_* path
    val simple = Regression.simpleOlsByGroup(d, "y", "x", Nil).collect()(0)
    assertApprox(fit.coefs(0), simple.getDouble(0), 1e-8)
    assertApprox(fit.intercept, simple.getDouble(1), 1e-8)
    assertApprox(fit.r2, simple.getDouble(2), 1e-8)
  }

  test("olsByGroup t-values match textbook formula on tiny fixture") {
    // 4 points, y = x plus symmetric noise: x=1..4, y = 1,3,2,4
    val d = df("x DOUBLE, y DOUBLE",
      Row(1.0, 1.0), Row(2.0, 3.0), Row(3.0, 2.0), Row(4.0, 4.0))
    val fit = Regression.olsByGroup(d, "y", Seq("x"), Nil).head
    // slope = Sxy/Sxx = 4/5 = .8 ; intercept = 2.5 - .8*2.5 = .5
    assertApprox(fit.coefs(0), 0.8, 1e-10)
    assertApprox(fit.intercept, 0.5, 1e-10)
    // RSS = sum((y - .5 - .8x)^2) = .09+.81+... compute: residuals
    // x=1: 1-1.3=-0.3; x=2: 3-2.1=0.9; x=3: 2-2.9=-0.9; x=4: 4-3.7=0.3
    // RSS=0.09+0.81+0.81+0.09=1.8 ; sigma2=1.8/2=0.9 ; Sxx=5
    // se_slope=sqrt(.9/5)=sqrt(.18); t=.8/sqrt(.18)
    assertApprox(fit.tValues(0), 0.8 / math.sqrt(0.18), 1e-10)
    // adjR2: r2 = 1 - 1.8/5 = .64 ; adj = 1 - .36*3/2 = .46
    assertApprox(fit.r2, 0.64, 1e-10)
    assertApprox(fit.adjR2, 0.46, 1e-10)
  }

  test("olsByGroup groups independently") {
    val rows = (1 to 20).map(i => Row("a", i.toDouble, 2.0 * i)) ++
      (1 to 20).map(i => Row("b", i.toDouble, -3.0 * i + 1.0))
    val d = df("g STRING, x DOUBLE, y DOUBLE", rows: _*)
    val fits = Regression.olsByGroup(d, "y", Seq("x"), Seq("g"))
      .map(f => f.group.head.toString -> f).toMap
    assertApprox(fits("a").coefs(0), 2.0, 1e-9)
    assertApprox(fits("b").coefs(0), -3.0, 1e-9)
  }

  test("olsByGroup: a singular group fits NaN with its n; others unchanged") {
    // group "c" has x = 2 on all 5 rows: X'X = [[5,10],[10,20]] is exactly
    // singular (commons-math QR with a zero threshold throws on it)
    val live = (1 to 8).map(i => Row("a", i.toDouble, 1.5 * i + (i % 3) * 0.25))
    val constant = (1 to 5).map(i => Row("c", 2.0, i.toDouble))
    val schema = "g STRING, x DOUBLE, y DOUBLE"
    val fits = Regression.olsByGroup(df(schema, live ++ constant: _*), "y",
      Seq("x"), Seq("g")).map(f => f.group.head.toString -> f).toMap
    val c = fits("c")
    assert(c.n == 5L)
    assert(c.intercept.isNaN && c.coefs.forall(_.isNaN) &&
      c.tValues.forall(_.isNaN) && c.interceptT.isNaN)
    val alone = Regression.olsByGroup(df(schema, live: _*), "y", Seq("x"),
      Seq("g")).head
    val a = fits("a")
    assert(a.n == alone.n)
    // bit-identical, not approximate: the singular group must not leak
    assert(a.intercept == alone.intercept)
    assert(a.coefs.sameElements(alone.coefs))
    assert(a.tValues.sameElements(alone.tValues))
    assert(a.interceptT == alone.interceptT && a.r2 == alone.r2 &&
      a.adjR2 == alone.adjR2 && a.sigma2 == alone.sigma2)
    assert(a.xtxInv.sameElements(alone.xtxInv))
  }
}
