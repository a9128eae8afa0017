package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.Schema.EventType
import graft.functions.Microstructure

/** Feature engineering for the hidden-execution direction model
  * (SURVEY §2 W2/W3/P8/F2; `/root/reference/prediction_ML_pipeline.py:
  * 131-262`). All windows are ordered by the explicit (event_time, seq)
  * event order — the #1 pandas-parity trap (SURVEY §7.4.1). One shuffle on
  * (ticker, date); every window below reuses that partitioning. Every
  * frame is bounded or grows from the partition start, so each window is
  * linear in the events of a ticker-day.
  */
object Features {

  private def evOrder = Window.partitionBy(col("ticker"), col("date"))
    .orderBy(col("event_time"), col("seq"))

  /** F2 row-level microstructure columns (midprice, ofi, weighted mid,
    * agg_ratio, spread, flags; `prediction_ML_pipeline.py:197-214`). */
  def addMicrostructure(df: DataFrame): DataFrame =
    df.withColumn("midprice",
        Microstructure.midprice(col("ask_price_1"), col("bid_price_1")))
      .withColumn("ofi",
        Microstructure.ofi(col("bid_size_1"), col("ask_size_1")))
      .withColumn("weighted_mp",
        Microstructure.weightedMidprice(col("ask_price_1"),
          col("bid_price_1"), col("ask_size_1"), col("bid_size_1")))
      .withColumn("agg_ratio",
        Microstructure.aggRatio(col("price"), col("ask_price_1"),
          col("bid_price_1")))
      .withColumn("spread",
        Microstructure.spread(col("ask_price_1"), col("bid_price_1")))
      .withColumn("bid_pref",
        (col("price") - col("bid_price_1") <=
          col("ask_price_1") - col("price")).cast("int"))
      .withColumn("hid_at_bid",
        (col("price") === col("bid_price_1")).cast("int"))
      .withColumn("hid_at_ask",
        (col("price") === col("ask_price_1")).cast("int"))

  /** W2: direction of the most recent / next event of type `t`
    * (`prediction_ML_pipeline.py:135-146`): masked direction, then
    * ffill/bfill excluding the current row, fill 0.
    *
    * Both lookups are growing frames, `(-inf, current-1]`, which Spark
    * evaluates in one pass: `next_dir` runs over the exact reverse of the
    * event order (both keys descending, nulls last), because a shrinking
    * `[current+1, +inf)` frame is re-aggregated for every row. The
    * reversed order costs one extra per-partition sort on the same
    * (ticker, date) exchange. */
  def addAdjacentDirections(df: DataFrame,
                            types: Seq[Int] = Seq(EventType.Submit,
                              EventType.Delete, EventType.VisibleExec))
      : DataFrame = {
    val w = evOrder.rowsBetween(Window.unboundedPreceding, -1)
    val wRev = Window.partitionBy(col("ticker"), col("date"))
      .orderBy(col("event_time").desc, col("seq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def lastDir(t: Int, over: WindowSpec): Column =
      coalesce(last(when(col("event_type") === t, col("direction")),
        ignoreNulls = true).over(over), lit(0))
    val names = types.flatMap(t => Seq(s"prev_dir_$t", s"next_dir_$t"))
    // next_dir first: the descending windows then sit below the ascending
    // ones, whose order the (event_time, seq) windows after them reuse.
    // One column per window keeps a single masked input (the first
    // window's) computed before the exchange.
    val withNext = types.foldLeft(df)((d, t) =>
      d.withColumn(s"next_dir_$t", lastDir(t, wRev)))
    types.foldLeft(withNext)((d, t) =>
        d.withColumn(s"prev_dir_$t", lastDir(t, w)))
      .select((df.columns.toSeq.filterNot(names.contains) ++ names)
        .map(col): _*)
  }

  /** W3: trade sentiment — signed size summed over the previous 5 and next
    * 5 events including the current one
    * (`prediction_ML_pipeline.py:149-174`). */
  def addSentiment(df: DataFrame, window: Int = 5): DataFrame = {
    val signed = Microstructure.signedSize(col("event_type"),
      col("direction"), col("size"))
    val w = evOrder
    df.withColumn("__signed", signed)
      .withColumn("sent_prev",
        sum(col("__signed")).over(w.rowsBetween(-(window - 1), 0)))
      .withColumn("sent_next",
        sum(col("__signed")).over(w.rowsBetween(0, window - 1)))
      .drop("__signed")
  }

  /** P8: outside-spread overrides for hidden executions
    * (`prediction_ML_pipeline.py:247-262`): agg_ratio <= 0 => definite buy
    * (pred_dir -1 by the LOBSTER sign convention, prob 0), >= 1 => definite
    * sell (pred_dir 1, prob 1); inside-spread rows keep model outputs. */
  def applyOutsideSpreadTag(df: DataFrame,
                            predDir: String = "pred_dir",
                            predProb: String = "pred_prob"): DataFrame =
    df.withColumn(predDir,
        when(col("agg_ratio") <= 0.0, lit(-1))
          .when(col("agg_ratio") >= 1.0, lit(1))
          .otherwise(col(predDir)))
      .withColumn(predProb,
        when(col("agg_ratio") <= 0.0, lit(0.0))
          .when(col("agg_ratio") >= 1.0, lit(1.0))
          .otherwise(col(predProb)))

  /** Full feature frame for type-5 rows (the model's design matrix):
    * microstructure + adjacent directions + sentiment, filtered to hidden
    * executions (`prediction_ML_pipeline.py:180-240`). */
  def hiddenExecFeatures(df: DataFrame): DataFrame =
    addSentiment(addAdjacentDirections(addMicrostructure(df)))
      .filter(col("event_type") === EventType.HiddenExec)
}
