package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Linear-regression operators (SURVEY §2.9 M5-M7).
  *
  * The reference approximates OLS with chunked SGD
  * (`/root/reference/chunk_pipeline.py:246-351`) purely as a memory
  * workaround; we standardize on EXACT OLS (SURVEY §7.4.4):
  *
  *  - [[simpleOlsByGroup]]: single-regressor OLS per group from native
  *    `regr_*` aggregates — one shuffle, SQL-oracle-checkable.
  *  - [[olsByGroup]]: k-regressor OLS per group from the [[moments]]
  *    aggregates (X'X, X'y, y'y, n) in ONE map-side-combinable agg pass,
  *    then a per-group [[solve]] on the tiny collected result. This is
  *    the scale shape: the 100 TB scan reduces to one row of
  *    (k+1)(k+2)/2 + k + 3 sums per group before anything leaves the
  *    executors; only (groups x k^2) numbers hit the driver.
  *
  * [[moments]] and [[solve]] are the only OLS normal-equation code in the
  * engine: `Strategy.rollingRefitSignals` sums the same moments over a
  * rolling day window and solves each day with the same rule.
  *
  * t-values and adjusted R^2 follow `chunk_pipeline.py:201-243`:
  * se = sqrt(sigma^2 diag((X'X)^-1)), t = beta/se,
  * adjR2 = 1-(1-R2)(n-1)/(n-p-1).
  */
object Regression {

  /** Per-group simple OLS y ~ x: slope, intercept, r2, n. */
  def simpleOlsByGroup(df: DataFrame, y: String, x: String,
                       groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      regr_slope(col(y), col(x)).as("slope"),
      regr_intercept(col(y), col(x)).as("intercept"),
      regr_r2(col(y), col(x)).as("r2"),
      regr_count(col(y), col(x)).as("n"))

  /** Result row of a multi-regressor fit. `xtxInv` (row-major, (k+1)²,
    * intercept first) and `sigma2` feed the M13 diagnostics. A group
    * whose X'X is singular keeps its `n` and carries NaN everywhere else
    * (empty `xtxInv`). */
  final case class OlsFit(group: Seq[Any], intercept: Double,
                          coefs: Array[Double], tValues: Array[Double],
                          interceptT: Double, r2: Double, adjR2: Double,
                          n: Long, xtxInv: Array[Double] = Array.empty,
                          sigma2: Double = Double.NaN)

  /** Names of the [[moments]] over k regressors, in moment-vector order:
    * the upper triangle of X'X row by row (x0 = 1 is the intercept),
    * X'y, y'y, n. */
  private[graft] def momentNames(k: Int): Seq[String] =
    (for (i <- 0 to k; j <- i to k) yield s"xx_${i}_$j") ++
      (0 to k).map(i => s"xy_$i") ++ Seq("yy", "n")

  /** OLS moment aggregates of `y` on `xs` (with intercept), named by
    * [[momentNames]]. All are sums, so they combine map-side, and a
    * rolling window over per-day moments equals a one-pass group. */
  private[graft] def moments(y: String, xs: Seq[String]): Seq[Column] = {
    val k = xs.size
    val cols: Seq[Column] = lit(1.0) +: xs.map(c => col(c).cast("double"))
    val yc = col(y).cast("double")
    val aggs = (for (i <- 0 to k; j <- i to k) yield sum(cols(i) * cols(j))) ++
      (0 to k).map(i => sum(cols(i) * yc)) ++ Seq(sum(yc * yc), count(lit(1)))
    aggs.zip(momentNames(k)).map { case (a, name) => a.as(name) }
  }

  /** X'X as a full p x p matrix from a moment vector's upper triangle. */
  private def xtxOf(m: Seq[Double], p: Int): Array[Array[Double]] = {
    val a = Array.ofDim[Double](p, p)
    var idx = 0
    for (i <- 0 until p; j <- i until p) {
      a(i)(j) = m(idx); a(j)(i) = m(idx)
      idx += 1
    }
    a
  }

  /** Betas (intercept first) and row-major (X'X)⁻¹ of one solve. */
  private[graft] final case class Solution(beta: Array[Double],
                                          xtxInv: Array[Double])

  /** Solves the normal equations X'X b = X'y of a moment vector in
    * [[momentNames]] order (only the X'X and X'y entries are read), or
    * None when X'X is singular. The singularity rule is RELATIVE:
    *  - one regressor: a normalized-determinant test and the closed form,
    *    in the IEEE operation order the q_ep2_full DuckDB twin replays, so
    *    the drop/keep decision and the betas of a borderline window are
    *    bit-identical across engines (a QR rDiag threshold and a
    *    determinant test can disagree at the boundary);
    *  - more regressors: QR with an rDiag threshold of 1e-9 x max|X'X|.
    *    The default exact-zero threshold only rejects bitwise-collinear
    *    input, so a constant regressor whose determinant is pure fp
    *    summation noise would "solve" to garbage-huge betas. 1e-9 x the
    *    matrix scale drops anything conditioned worse than ~1e9, far
    *    above fp noise (~1e-16). */
  private[graft] def solve(m: Seq[Double], k: Int): Option[Solution] = {
    val p = k + 1
    val nxx = p * (p + 1) / 2
    if (p == 2) {
      val n = m(0); val sx = m(1); val sxx = m(2)
      val det = n * sxx - sx * sx
      if (!(det > 1e-9 * (n * sxx + sx * sx))) None
      else Some(Solution(
        Array((m(3) * sxx - sx * m(4)) / det, (n * m(4) - sx * m(3)) / det),
        Array(sxx / det, -sx / det, -sx / det, n / det)))
    } else {
      import org.apache.commons.math3.linear._
      val xtx = new Array2DRowRealMatrix(xtxOf(m, p), false)
      val maxAbs = m.take(nxx).foldLeft(0.0)((a, v) => math.max(a, math.abs(v)))
      val solver = new QRDecomposition(xtx, 1e-9 * maxAbs).getSolver
      if (!solver.isNonSingular) None
      else {
        val beta = solver.solve(new ArrayRealVector(m.slice(nxx, nxx + p).toArray))
        Some(Solution(beta.toArray, solver.getInverse.getData.flatten))
      }
    }
  }

  /** Exact k-regressor OLS (with intercept) per group. Design matrix
    * moments are accumulated distributedly; normal equations are solved on
    * the driver per group (k is small: the reference uses <= 8 regressors).
    * A group whose X'X is singular under [[solve]]'s rule (e.g. a constant
    * regressor) yields a NaN fit with its `n`; the other groups' fits do
    * not depend on it. A null moment sum (all-null regressor) solves as
    * 0.0. */
  def olsByGroup(df: DataFrame, y: String, xs: Seq[String],
                 groupCols: Seq[String]): Seq[OlsFit] = {
    val aggs = moments(y, xs)
    val grouped =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    grouped.collect().toSeq.map(row => fitRow(row, xs.size, groupCols))
  }

  private def fitRow(row: Row, k: Int, groupCols: Seq[String]): OlsFit = {
    val p = k + 1
    val m = momentNames(k).map(c => row.getAs[Any](c) match {
      case v: Number => v.doubleValue
      case _ => 0.0
    })
    val n = row.getAs[Long]("n")
    val groupVals = groupCols.map(c => row.getAs[Any](c))
    solve(m, k) match {
      case None =>
        val nan = Array.fill(k)(Double.NaN)
        OlsFit(groupVals, Double.NaN, nan, nan.clone, Double.NaN, Double.NaN,
          Double.NaN, n)
      case Some(Solution(beta, inv)) =>
        val nxx = p * (p + 1) / 2
        val xty = m.slice(nxx, nxx + p).toArray
        val yy = m(nxx + p)
        def dot(a: Array[Double], b: Array[Double]): Double =
          a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
        // RSS = y'y - 2 b'X'y + b'X'X b ; TSS = y'y - n*mean^2
        val xtxBeta = xtxOf(m, p).map(row => dot(row, beta))
        val rss = yy - 2.0 * dot(beta, xty) + dot(beta, xtxBeta)
        val meanY = xty(0) / n
        val tss = yy - n * meanY * meanY
        val dof = n - p
        val sigma2 = rss / dof
        val t = (0 until p).map(i =>
          beta(i) / math.sqrt(sigma2 * inv(i * p + i)))
        val r2 = if (tss > 0) 1.0 - rss / tss else Double.NaN
        val adjR2 = 1.0 - (1.0 - r2) * (n - 1).toDouble / dof
        OlsFit(groupVals, beta(0), beta.tail, t.tail.toArray, t(0), r2,
          adjR2, n, inv, sigma2)
    }
  }

  /** M13 regression-diagnostic columns for a fitted model
    * (`/root/reference/order_imbalance.py:603-670`): fitted value,
    * residual, leverage h_ii = x'(X'X)⁻¹x, standardized residual, and
    * Cook's distance D = e² h / (p σ² (1-h)²). Pure row-local arithmetic
    * over the broadcast (k+1)² inverse — scales as a map. */
  def diagnostics(df: DataFrame, y: String, xs: Seq[String], fit: OlsFit)
      : DataFrame = {
    val p = xs.size + 1
    require(fit.xtxInv.length == p * p,
      s"fit carries no inverse for ${xs.size} regressors")
    val cols: Seq[Column] = lit(1.0) +: xs.map(c => col(c).cast("double"))
    val yhat = xs.zip(fit.coefs).foldLeft(lit(fit.intercept)) {
      case (acc, (x, b)) => acc + col(x).cast("double") * lit(b)
    }
    def inv(i: Int, j: Int) = fit.xtxInv(i * p + j)
    val leverage = (for (i <- 0 until p; j <- 0 until p)
      yield cols(i) * cols(j) * lit(inv(i, j))).reduce(_ + _)
    val resid = col(y).cast("double") - yhat
    df.withColumn("fitted", yhat)
      .withColumn("residual", resid)
      .withColumn("leverage", leverage)
      .withColumn("std_residual",
        col("residual") / sqrt(lit(fit.sigma2) * (lit(1.0) - col("leverage"))))
      .withColumn("cooks_d",
        col("residual") * col("residual") * col("leverage") /
          (lit(p * fit.sigma2) *
            (lit(1.0) - col("leverage")) * (lit(1.0) - col("leverage"))))
  }
}
