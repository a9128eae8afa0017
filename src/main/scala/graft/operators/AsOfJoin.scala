package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (nearest match in time, by keys, with inclusive tolerance).
  *
  * Reproduces `pandas.merge_asof(..., by=keys, direction=forward/backward,
  * tolerance=t)` as used for iceberg-execution tagging in the reference
  * (`/root/reference/order_imbalance.py:25-48`): for each left row, find the
  * first right row at-or-after (forward) / at-or-before (backward) the left
  * timestamp within the same key group, accepting it only if
  * `|t_right - t_left| <= tolerance` (tolerance is INCLUSIVE, matching
  * pandas).
  *
  * Implementation: union the two inputs, tag the source, and run ONE ordered
  * window per key group — `last(payload, ignoreNulls)` over
  * `(-inf, current]`. Backward orders by `(time, source, tie)` ascending;
  * forward orders by the same keys descending, which makes "the first
  * right row at or after" the last one seen so far. Both are growing
  * frames, which Spark evaluates in one pass; the forward lookup is never
  * a shrinking `[current, +inf)` frame, which Spark re-aggregates per row.
  * This costs a single shuffle on the `by` keys (same partitioning the
  * surrounding pipeline already uses) and never builds the row-pair
  * blowup a range join would; it is linear in events per key and
  * AQE-skew-splittable. A dedicated SparkStrategy (SURVEY §4.3) is only
  * warranted if this shuffle ever dominates.
  */
object AsOfJoin {

  /** @param left      left rows (all columns preserved)
    * @param right     right rows
    * @param timeCol   epoch-nanos LongType column name present in both
    * @param by        equality keys present in both
    * @param attach    right columns to attach (renamed with `prefix`)
    * @param forward   direction: true = first right at-or-after
    * @param toleranceNs inclusive tolerance in nanos (None = unbounded)
    * @param rightTieBreak deterministic order among equal-time right rows:
    *                  forward takes the smallest value at the earliest
    *                  matching time, backward the largest at the latest.
    *                  Without it, which of several equal-time right rows
    *                  is attached is unspecified.
    */
  def asOf(left: DataFrame, right: DataFrame, timeCol: String,
           by: Seq[String], attach: Seq[String], forward: Boolean,
           toleranceNs: Option[Long], rightTieBreak: Option[String] = None,
           prefix: String = "asof_"): DataFrame = {
    val t = col(timeCol)
    // Right rows carry their payload in one struct so first/last(ignoreNulls)
    // picks all fields from the SAME matched row atomically.
    val payload = struct(
      (t.as("__t") +: attach.map(c => col(c).as(c))): _*)
    val tie = rightTieBreak.map(col).getOrElse(lit(0))
    val rU = right.select(
      (by.map(col) :+ t.as("__time") :+ payload.as("__p") :+
        tie.as("__tie")): _*)
      // at equal time, right rows come before left rows in the window
      // order of either direction (forward's order is descending), so an
      // equal-time right row is inside the left row's (-inf, current]
      // frame — pandas' inclusive equality on both directions.
      .withColumn("__ord", lit(if (forward) 1 else 0))
    val pType = rU.schema("__p").dataType
    val lU = left
      .withColumn("__time", t)
      .withColumn("__p", lit(null).cast(pType))
      .withColumn("__tie", lit(0))
      .withColumn("__ord", lit(if (forward) 0 else 1))
    val extra = left.columns.filterNot(rU.columns.contains)
    val rAligned = extra.foldLeft(rU) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unioned = lU.unionByName(rAligned.select(lU.columns.map(col): _*))

    // forward = the exact reverse of the ascending order (desc is nulls
    // last), so the nearest right row at or after is the last one before
    val keys = Seq(col("__time"), col("__ord"), col("__tie"))
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy((if (forward) keys.map(_.desc) else keys.map(_.asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = last(col("__p"), ignoreNulls = true).over(w)

    val withMatch = unioned.withColumn("__m", matched)
      .filter(col("__ord") === lit(if (forward) 0 else 1) &&
              col("__p").isNull)
    val inTol: Column = toleranceNs match {
      case Some(tol) =>
        col("__m").isNotNull &&
          abs(col("__m.__t") - col("__time")) <= lit(tol)
      case None => col("__m").isNotNull
    }
    val out = attach.foldLeft(
      withMatch.withColumn(s"${prefix}time",
        when(inTol, col("__m.__t")))) { (df, c) =>
      df.withColumn(s"$prefix$c", when(inTol, col(s"__m.$c")))
    }
    out.select((left.columns.map(col) :+ col(s"${prefix}time")) ++
      attach.map(c => col(s"$prefix$c")): _*)
  }

  def forward(left: DataFrame, right: DataFrame, timeCol: String,
              by: Seq[String], attach: Seq[String],
              toleranceNs: Option[Long] = None): DataFrame =
    asOf(left, right, timeCol, by, attach, forward = true, toleranceNs)

  def backward(left: DataFrame, right: DataFrame, timeCol: String,
               by: Seq[String], attach: Seq[String],
               toleranceNs: Option[Long] = None): DataFrame =
    asOf(left, right, timeCol, by, attach, forward = false, toleranceNs)
}
