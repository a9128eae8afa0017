package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Stats
import graft.operators.Regression

/** Trading-strategy operators (SURVEY §2.9 M8/M10-M12, §2.8 F8/F9;
  * `/root/reference/trading_strategy.py`).
  *
  * The reference recomputes the OI panel from raw archives for every
  * strategy day (`trading_strategy.py:192-207`) — its dominant cost. Here
  * the panel is computed once and strategies run off it (SURVEY §7.4.7):
  * rolling refits become per-day OLS fits over panel slices, and the
  * cross-sectional ranking is ONE window shuffle on the bin key.
  */
object Strategy {

  /** F8: signal = intercept + sum(beta_i * x_i) from a per-(ticker,
    * timeframe) coefficients row (broadcast join; `trading_strategy.py:
    * 44-57`). `betas` maps regressor column -> coefficient column. */
  def linearSignal(panel: DataFrame, params: DataFrame,
                   betas: Map[String, String],
                   interceptCol: String = "intercept"): DataFrame = {
    val joined = panel.join(broadcast(params), Seq("ticker"), "left")
    val combo = betas.foldLeft(col(interceptCol)) {
      case (acc, (x, b)) => acc + coalesce(col(x), lit(0.0)) * col(b)
    }
    joined.withColumn("signal", combo)
  }

  /** W4 + M11: per-bin cross-sectional rank (method='first' semantics =
    * row_number), top/bottom p%, sign agreement, long-short PnL on the
    * future return (`trading_strategy.py:63-104`, `347-464`).
    * Returns (per-bin PnL table, per-(bin,ticker) picks table). */
  def portfolio(signals: DataFrame, pct: Double,
                retCol: String = "fut_log_ret")
      : (DataFrame, DataFrame) = {
    val byBin = Window.partitionBy(col("bin_ns"))
    val rk = Window.partitionBy(col("bin_ns"))
      .orderBy(col("signal").desc, col("ticker"))
    val ranked = signals
      .withColumn("rk", row_number().over(rk).cast("long"))
      .withColumn("n", count(lit(1)).over(byBin).cast("long"))
      .withColumn("k", greatest(floor(col("n") * pct), lit(1L)))
      // sign agreement: top picks need signal > 0, bottom < 0
      .withColumn("is_top", col("rk") <= col("k") && col("signal") > 0)
      .withColumn("is_bottom",
        col("rk") > col("n") - col("k") && col("signal") < 0)
    val picks = ranked.filter(col("is_top") || col("is_bottom"))
      .withColumn("side", when(col("is_top"), 1).otherwise(-1))
      .select(col("bin_ns"), col("ticker"), col("signal"), col("rk"),
        col("side"), col(retCol).as("fut_ret"))
    val pnl = ranked.groupBy(col("bin_ns")).agg(
      sum(when(col("is_top"), col(retCol)).otherwise(0.0)).as("top_pnl"),
      sum(when(col("is_bottom"), col(retCol)).otherwise(0.0)).as("bottom_pnl"),
      sum(when(col("is_top"), 1L).otherwise(0L)).as("n_top"),
      sum(when(col("is_bottom"), 1L).otherwise(0L)).as("n_bottom"))
      .withColumn("pnl", col("top_pnl") - col("bottom_pnl"))
    (pnl, picks)
  }

  /** F9 PnL variants over a signal/return frame: unweighted threshold,
    * |signal|-weighted, sign-based (`trading_strategy.py:313-324`;
    * `ClOp_analysis.ipynb` cell 5). */
  def pnlColumns(signal: Column, ret: Column,
                 thresholdPos: Double = 0.0, thresholdNeg: Double = 0.0)
      : Seq[Column] = Seq(
    (sum(when(signal > thresholdPos, ret).otherwise(0.0)) -
      sum(when(signal < thresholdNeg, ret).otherwise(0.0))).as("pnl_thresh"),
    sum(signum(signal) * ret).as("pnl_sign"),
    sum(signal * ret).as("pnl_weighted"))

  /** M8: rolling per-day refit — for each session d, fit OLS of `y` on
    * `xs` over the previous `lookback` sessions of the panel and predict
    * day d's rows => signal (`trading_strategy.py:138-245`).
    *
    * Fully distributed, ONE plan, zero driver loops: the OLS normal
    * equations are additive in the moment sums, so
    *   1. one map-side-combinable groupBy(date) reduces the panel to one
    *      row of [[graft.operators.Regression.moments]] per day;
    *   2. a rolling window over the tiny day-level frame sums the previous
    *      `lookback` days' moments (the unpartitioned window is fine: its
    *      input is |days| rows — ~250/year — no matter the panel size);
    *   3. [[graft.operators.Regression.solve]] (the rule `olsByGroup`
    *      fits with) runs per day as a UDF on that day frame;
    *   4. the day->beta table broadcast-joins back onto the panel.
    * At 100x the panel only step 1 touches the data; steps 2-4 stay
    * O(days). Days whose trailing X'X is singular yield a null signal. */
  def rollingRefitSignals(panel: DataFrame, y: String, xs: Seq[String],
                          lookback: Int): DataFrame = {
    val k = xs.size
    val names = Regression.momentNames(k)
    val dayAggs = Regression.moments(y, xs)
    val daySums = panel.groupBy(col("date"))
      .agg(dayAggs.head, dayAggs.tail: _*)

    // constant partition key: this window runs over the O(days) day-moment
    // frame (~250 rows/year regardless of panel size), so one partition is
    // intended. Catalyst constant-folds lit(0) out of the spec — the plan
    // still shows Exchange SinglePartition, benign on this aggregate frame
    val w = Window.partitionBy(lit(0))
      .orderBy(col("date")).rowsBetween(-lookback, -1)
    // null day-moments (all-null regressor day) roll up like the single-pass
    // sum would: skipped by sum, 0.0 into the solve (as in olsByGroup)
    val rolled = daySums.select(
      (col("date") +:
        names.map(m => coalesce(sum(col(m)).over(w), lit(0.0)).as(m)) :+
        count(lit(1)).over(w).as("__train_days")): _*)
      .filter(col("__train_days") === lookback)

    val solve = udf((m: Seq[Double]) =>
      Regression.solve(m, k).map(_.beta.toSeq: Seq[Double]).orNull)
    val betas = rolled.select(col("date"),
      solve(array(names.map(col): _*)).as("__beta"))

    val signal = xs.zipWithIndex.foldLeft(element_at(col("__beta"), 1)) {
      case (acc, (x, i)) =>
        acc + coalesce(col(x), lit(0.0)) * element_at(col("__beta"), i + 2)
    }
    panel.join(broadcast(betas), Seq("date"))
      .withColumn("signal", signal)
      .select((panel.columns.map(col) :+ col("signal")): _*)
  }

  /** Trailing top-performer selection (`ClOp_analysis.ipynb` cells 8-10:
    * top-N tickers by trailing 20-day PnL): per (ticker, date), sum the
    * PnL of the previous `lookback` sessions (exclusive — no lookahead),
    * rank cross-sectionally per date (W4 row_number semantics, ties by
    * ticker), keep ranks <= n. Output feeds [[portfolio]] or a restricted
    * signal universe. Two window shuffles: one per-ticker rolling sum, one
    * per-date rank — both O(tickers x days), panel-size independent. */
  def trailingTopPerformers(dailyPnl: DataFrame, lookback: Int, n: Int,
                            pnlCol: String = "pnl"): DataFrame = {
    val trail = Window.partitionBy(col("ticker")).orderBy(col("date"))
      .rowsBetween(-lookback, -1)
    // count(lit(1)) counts window ROWS, not non-null PnL: a null-PnL day
    // inside a full lookback window is treated as an explicitly skipped
    // observation (contributes 0 to the trailing sum) rather than silently
    // ejecting the ticker from that date's ranking universe
    val trailing = dailyPnl
      .withColumn("trailing_pnl", sum(col(pnlCol)).over(trail))
      .withColumn("__n_trail", count(lit(1)).over(trail))
      .filter(col("__n_trail") === lookback) // full windows only
      .drop("__n_trail")
    val rk = Window.partitionBy(col("date"))
      .orderBy(col("trailing_pnl").desc, col("ticker"))
    trailing.withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= n)
  }

  /** M10: Sharpe test over a daily PnL series per group + M12 PPT. */
  def strategyStats(dailyPnl: DataFrame, groupCols: Seq[String],
                    pnlCol: String = "pnl"): DataFrame = {
    val aggs = Stats.sharpeColumns(col(pnlCol)) :+
      sum(col(pnlCol)).as("total_pnl")
    val base =
      if (groupCols.isEmpty) dailyPnl.agg(aggs.head, aggs.tail: _*)
      else dailyPnl.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    base.withColumn("p_value",
      Stats.pValueTwoSided(col("sharpe_tstat")))
  }

  /** M12: bet-size-normalized PnL — PnL / (0.1% of median daily dollar
    * volume) per ticker (`portfolio_strategy_statistics.ipynb` 21-25). */
  def betSizedPnl(pnlByTicker: DataFrame, dailyBars: DataFrame)
      : DataFrame = {
    val vol = dailyBars
      .withColumn("dollar_vol", col("close") * col("volume"))
      .groupBy(col("ticker"))
      .agg(expr("percentile(dollar_vol, 0.5)").as("med_dollar_vol"))
    pnlByTicker.join(broadcast(vol), Seq("ticker"), "left")
      .withColumn("ppd",
        col("pnl") / (col("med_dollar_vol") * lit(0.001)))
  }
}
