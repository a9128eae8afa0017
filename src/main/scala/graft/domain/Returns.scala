package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Return attachment for OI panels (SURVEY §2.4 stage 5 / §2.5 W1;
  * `/root/reference/order_imbalance.py:85-230`).
  *
  * All windows partition by (ticker, date) and order by bin — at most one
  * shuffle, reused across every lag/lead below. Factor and SPY joins are
  * broadcast (small dimension tables).
  *
  * Future-return leads are PER DAY: the reference computes each day's
  * frame independently (`order_imbalance.py:91` — `shift(-1)` inside a
  * single session's DataFrame), so the last bin of day d has a null
  * future return, never the overnight jump into day d+1. Intraday
  * predictive regressions must not see overnight moves in the target.
  * Only [[addLogReturns]] on a genuinely daily panel (`deltaNs <= 0`)
  * leads per ticker, where the next-day lead IS the intended semantics.
  */
object Returns {

  private def byTicker = Window.partitionBy(col("ticker"))
    .orderBy(col("bin_ns"))
  private def byTickerDay = Window.partitionBy(col("ticker"), col("date"))
    .orderBy(col("bin_ns"))

  /** Log return over the bin (last/first midprice) plus contemporaneous
    * and next-bin (future) returns (`order_imbalance.py:90-93`).
    *
    * `deltaNs` is the panel's bin width: intraday panels (deltaNs > 0)
    * lead PER DAY (see object doc); a DAILY panel (deltaNs <= 0, one row
    * per (ticker, date)) has exactly one row in each (ticker, date)
    * window, so a per-day lead would silently yield an all-null
    * fut_log_ret — the next-day lead IS the intended semantics there, and
    * the operator picks the per-ticker window automatically. */
  def addLogReturns(panel: DataFrame,
                    firstCol: String = "first_midprice",
                    lastCol: String = "last_midprice",
                    deltaNs: Long = 1L): DataFrame = {
    val w = if (deltaNs > 0) byTickerDay else byTicker
    panel
      .withColumn("log_ret",
        when(col(firstCol) > 0 && col(lastCol) > 0,
          log(col(lastCol) / col(firstCol))))
      .withColumn("fut_log_ret", lead(col("log_ret"), 1).over(w))
  }

  /** Market-excess return vs the SPY bins table (S6:
    * `spy_bins(bin_ns, first_midprice, last_midprice)` at the same delta):
    * ret - spy_ret per bin (`order_imbalance.py:96-111`). Bins with no
    * SPY row get a NULL excess return (the reference's pandas alignment
    * yields NaN there, dropping the row from downstream regressions —
    * market return is unknown, not zero). */
  def addExcessVsSpy(panel: DataFrame, spyBins: DataFrame): DataFrame = {
    val spy = spyBins.select(col("bin_ns"),
      when(col("first_midprice") > 0 && col("last_midprice") > 0,
        log(col("last_midprice") / col("first_midprice"))).as("spy_ret"))
    panel.join(broadcast(spy), Seq("bin_ns"), "left")
      .withColumn("excess_ret", col("log_ret") - col("spy_ret"))
      .withColumn("fut_excess_ret",
        lead(col("excess_ret"), 1).over(byTickerDay))
  }

  /** J6: broadcast-join Fama-French factors on date
    * (`order_imbalance.py:129`, `221`). */
  def addFactors(panel: DataFrame, ff: DataFrame): DataFrame =
    panel.join(broadcast(ff), Seq("date"), "left")

  /** Daily Close-to-Open return from the daily bars table
    * (`order_imbalance.py:206-225`): ClOp_t = ln(open_t / close_{t-1}),
    * attached per (ticker, date); also ClCl momentum ln(close/prev close).
    */
  def addClOp(panel: DataFrame, dailyBars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("date"))
    val bars = dailyBars
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("ClOp", when(col("prev_close") > 0,
        log(col("open") / col("prev_close"))))
      .withColumn("ClCl", when(col("prev_close") > 0,
        log(col("close") / col("prev_close"))))
      .withColumn("fut_ClOp", lead(col("ClOp"), 1).over(w))
      .select(col("ticker"), col("date"), col("ClOp"), col("ClCl"),
        col("fut_ClOp"))
    panel.join(broadcast(bars), Seq("ticker", "date"), "left")
  }
}
