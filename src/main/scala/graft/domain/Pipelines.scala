package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Regression

/** End-to-end pipeline compositions mirroring the reference's entry points
  * (SURVEY §3 EP1/EP3). Each stage is a DataFrame -> DataFrame function;
  * the whole chain is ONE lazy plan per delta, so Catalyst sees scan ->
  * filter -> window -> agg -> join -> regression input without
  * materialization boundaries (the reference re-reads archives per stage).
  */
object Pipelines {

  /** EP1 regression pipeline for one delta over a prepped event frame:
    * features -> (optional) prediction probabilities -> OI panel ->
    * densify -> returns -> contemporaneous OLS of log_ret on OI.
    *
    * `predProb`: column expression standing in for the ML model output
    * (tests use a deterministic function; production uses
    * DirectionModel.attachPredictions upstream).
    *
    * `kind` must name a single-OI-column kind of [[Oi.kinds]] (vis, hid,
    * all); a multi-column kind is rejected before any plan is built.
    *
    * Returns (panel with returns, fitted OlsFit rows).
    */
  def ep1(prepped: DataFrame, deltaNs: Long, kind: String = "vis",
          predictive: Boolean = false)
      : (DataFrame, Seq[Regression.OlsFit]) = {
    val singles = Oi.kinds.collect {
      case (k, kd) if kd.oiNames.size == 1 => k }.toSeq.sorted
    require(singles.contains(kind), s"ep1 regresses on one OI column; " +
      s"kind '$kind' is not one of ${singles.mkString(", ")}")
    val featured = Features.addMicrostructure(prepped)
    val withProb =
      if (featured.columns.contains("pred_prob")) featured
      else featured.withColumn("pred_prob",
        when(col("direction") === -1, 0.0).otherwise(1.0))
    val panel = Oi.densifyPanel(Oi.panel(withProb, deltaNs, kind), deltaNs)
    val withRet = Returns.addLogReturns(panel, deltaNs = deltaNs)
    val oiCol = Oi.kinds(kind).oiNames.head
    val y = if (predictive) "fut_log_ret" else "log_ret"
    val fitInput = withRet.filter(col(y).isNotNull && col(oiCol).isNotNull)
    val fits = Regression.olsByGroup(fitInput, y, Seq(oiCol), Seq("ticker"))
    (withRet, fits)
  }

  /** Handle to a multi-delta fan-out: the per-delta panels plus the
    * RELEASE for the shared persisted feature frame backing them. The
    * operator persists on the caller's behalf, so the caller owns the
    * frame's lifetime: call `release()` once the panels are
    * materialized (or abandoned) — at 100 TB an un-released feature
    * frame is a full featured corpus pinned until the session ends.
    * Release is always safe: panels evaluated AFTER it simply
    * recompute the feature frame instead of reading the cache. */
  final case class MultiDeltaPanels(panels: Map[Long, DataFrame],
                                    release: () => Unit)

  /** EP1 stage-4 fan-out: one cached feature frame, panels for MANY deltas
    * computed off it (the reference loops deltas re-reading raw CSVs;
    * here the scan+features run once — SURVEY §4.1 caching note).
    * Returns a [[MultiDeltaPanels]] — the caller MUST invoke its
    * `release()` when done with the panels. */
  def ep1MultiDelta(prepped: DataFrame, deltaNs: Seq[Long],
                    kind: String = "vis")
      : MultiDeltaPanels = {
    val featured = Features.addMicrostructure(prepped)
      .withColumn("pred_prob",
        when(col("direction") === -1, 0.0).otherwise(1.0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val panels = deltaNs.map { d =>
      d -> Returns.addLogReturns(
        Oi.densifyPanel(Oi.panel(featured, d, kind), d), deltaNs = d)
    }.toMap
    MultiDeltaPanels(panels,
      () => { featured.unpersist(blocking = false); () })
  }

  /** EP2 portfolio strategy over a precomputed multi-ticker OI panel
    * (`trading_strategy.py` main loop, SURVEY §3 EP2): rolling per-day
    * OLS refit -> signals -> cross-sectional rank portfolio -> per-bin
    * PnL -> Sharpe statistics. The reference recomputes the panel from
    * raw archives per strategy day; here it is computed once upstream.
    *
    * Returns (per-bin PnL, picks, strategy stats row).
    */
  def ep2Portfolio(panel: DataFrame, y: String, xs: Seq[String],
                   lookback: Int, pct: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val signals = Strategy.rollingRefitSignals(panel, y, xs, lookback)
    val (pnl, picks) = Strategy.portfolio(signals, pct, retCol = y)
    val stats = Strategy.strategyStats(pnl, Nil)
    (pnl, picks, stats)
  }

  /** EP3 daily ClOp signal: daily OI panel + ClOp returns + a saved
    * coefficients row -> per-day signal (`trading_strategy.py:469-524`). */
  def ep3ClOpSignal(prepped: DataFrame, dailyBars: DataFrame,
                    params: DataFrame, oiKind: String = "vis")
      : DataFrame = {
    val featured = Features.addMicrostructure(prepped)
      .withColumn("pred_prob",
        when(col("direction") === -1, 0.0).otherwise(1.0))
    val daily = Oi.panel(featured, 0L, oiKind)
    val withClOp = Returns.addClOp(daily, dailyBars)
    Strategy.linearSignal(withClOp, params,
      Map(s"order_imbalance_$oiKind" -> "b_oi", "ClOp" -> "b_clop"))
  }
}
