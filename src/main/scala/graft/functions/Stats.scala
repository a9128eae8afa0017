package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical aggregates: population moments matching scipy's bias=True
  * defaults, the skew/kurtosis-adjusted Sharpe test (SURVEY §2.9 M10;
  * the reference notebook `iceberg_quantile.ipynb`, cell 4), and its
  * p-value.
  *
  * All moments are expressed from power sums so one `groupBy.agg` pass
  * (map-side combinable) yields everything — and so a DuckDB oracle can
  * reproduce them bit-for-bit from the same power sums, which the built-in
  * `skewness`/`kurtosis` of the two engines (population vs sample
  * corrections) would not.
  */
object Stats {

  /** Population skewness g1 = m3 / m2^1.5 (scipy skew bias=True). */
  def skewnessPop(x: Column): Column = {
    val n = count(x).cast("double")
    val m = sum(x) / n
    val m2 = sum(x * x) / n - m * m
    val m3 = sum(x * x * x) / n - lit(3.0) * m * (sum(x * x) / n) +
      lit(2.0) * m * m * m
    when(m2 > 0, m3 / pow(m2, 1.5)).as("skew")
  }

  /** Population kurtosis m4/m2^2, NON-excess (scipy kurtosis fisher=False,
    * as the reference's sharpe_test uses). Spark's `kurtosis` is excess. */
  def kurtosisRaw(x: Column): Column = {
    val n = count(x).cast("double")
    val m = sum(x) / n
    val s1 = sum(x)
    val s2 = sum(x * x)
    val s3 = sum(x * x * x)
    val s4 = sum(x * x * x * x)
    val m2 = s2 / n - m * m
    val m4 = (s4 - lit(4.0) * m * s3 + lit(6.0) * m * m * s2 -
      lit(4.0) * m * m * m * s1 + n * m * m * m * m) / n
    when(m2 > 0, m4 / (m2 * m2)).as("kurt_raw")
  }

  /** The full Sharpe-test aggregate row per group (M10):
    * SR = mean/std(ddof=1); modified t-stat
    * SR / sqrt((1 - g3*SR + (g4-1)*SR^2/4) / (T-1)); annualized SR*sqrt(252).
    * p-value needs the normal CDF — apply [[pValueTwoSided]] on the tiny
    * result.
    */
  def sharpeColumns(ret: Column): Seq[Column] = {
    val t = count(ret).cast("double")
    val mean = avg(ret)
    val sd = stddev_samp(ret)
    val sr = mean / sd
    val g3 = skewnessPop(ret)
    val g4 = kurtosisRaw(ret)
    val mod = sr / sqrt((lit(1.0) - g3 * sr +
      (g4 - lit(1.0)) * sr * sr / lit(4.0)) / (t - lit(1.0)))
    Seq(t.as("n"), mean.as("mean_ret"), sd.as("sd_ret"), sr.as("sharpe"),
      g3.as("skew"), g4.as("kurt_raw"), mod.as("sharpe_tstat"),
      (sr * sqrt(lit(252.0))).as("sharpe_annual"))
  }

  /** Two-sided p-value from a z-statistic: 2*min(Phi(z), 1-Phi(z)), with
    * Phi the codegen'd [[graft.plans.NormalCdf]]. */
  def pValueTwoSided(z: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val phi = GraftColumnBridge.column(graft.plans.NormalCdf(
      GraftColumnBridge.expression(z.cast("double"))))
    (lit(2.0) * least(phi, lit(1.0) - phi)).as("p_value")
  }

  /** PPT: PnL-per-trade in basis points, sum(ret)/sum(count)*1e4
    * (`single_strategy_statistics.ipynb` cells 15-16). */
  def pptColumns(pnl: Column, trades: Column): Seq[Column] =
    Seq((sum(pnl) / sum(trades) * lit(1e4)).as("ppt"))

  /** W9: PACF from an ACF sequence via Durbin-Levinson recursion —
    * driver-side on the (tiny) per-series ACF vector, as SURVEY §2.5 W9
    * plans. `acf(0)=1` is implied; pass acf for lags 1..m. Returns PACF
    * for lags 1..m. */
  def pacfFromAcf(acf: Seq[Double]): Seq[Double] = {
    val m = acf.size
    if (m == 0) return Nil
    val phi = Array.ofDim[Double](m + 1, m + 1)
    val pacf = new Array[Double](m)
    phi(1)(1) = acf(0)
    pacf(0) = acf(0)
    for (k <- 2 to m) {
      val num = acf(k - 1) -
        (1 until k).map(j => phi(k - 1)(j) * acf(k - 1 - j)).sum
      val den = 1.0 -
        (1 until k).map(j => phi(k - 1)(j) * acf(j - 1)).sum
      phi(k)(k) = if (den == 0) 0.0 else num / den
      for (j <- 1 until k)
        phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
      pacf(k - 1) = phi(k)(k)
    }
    pacf.toSeq
  }
}
