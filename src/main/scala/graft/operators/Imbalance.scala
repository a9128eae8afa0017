package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The conditional order-imbalance (OI) aggregation family (SURVEY §2.4
  * A1-A4), re-expressed as native conditional-sum aggregates — one
  * map-side-combinable `groupBy` per panel, no UDAFs
  * (`/root/reference/order_imbalance.py:242-249`, `381-386`, `419-475`).
  * This is the one place the OI rule is written: `Oi.panel`,
  * `StreamingOi.windowedOi` and the LOBSTER A-gates all build through it.
  *
  * Sign convention (`order_imbalance.py:247-248`): `side == -1` is a
  * buyer-initiated event (the resting order sat on the ask), `side == +1`
  * seller-initiated; OI = (buyVol - sellVol) / (buyVol + sellVol) in [-1,1],
  * NULL when the bin has no volume (densification fills 0 downstream).
  *
  * A3 and A4 are the same two builders under a row condition `cond`
  * (a flag value, a size tercile, an aggressiveness bucket); rows failing
  * it add 0 to both sums. The default `lit(true)` folds away in the
  * optimizer, so an unconditional OI plans exactly as a plain sum.
  *
  * All variants are single-shuffle on the grouping keys; partial aggregation
  * happens map-side, so the shuffle carries one row per (group, key) — this
  * is the shape that survives a 100 TB scale-up.
  */
object Imbalance {

  /** A1 plain OI (A3 under a flag `cond`) as one aggregate Column named
    * `order_imbalance<suffix>`, so callers fuse several variants into ONE
    * groupBy pass. */
  def oiColumn(side: Column, size: Column, suffix: String = "",
               cond: Column = lit(true)): Column = {
    val buy  = sum(when(cond && side === -1, size).otherwise(lit(0L)))
    val sell = sum(when(cond && side === 1, size).otherwise(lit(0L)))
    ((buy - sell) / nullif0(buy + sell)).as(s"order_imbalance$suffix")
  }

  /** A2 probability-weighted OI, sum(size*(1-2*p)) / sum(size), over the
    * rows where `cond` holds (A4 per bucket). */
  def weightedOiColumn(prob: Column, size: Column, suffix: String = "",
                       cond: Column = lit(true)): Column = {
    val num = sum(when(cond, size * (lit(1.0) - lit(2.0) * prob))
      .otherwise(0.0))
    val den = sum(when(cond, size).otherwise(0.0))
    (num / nullif0(den)).as(s"order_imbalance$suffix")
  }

  private def nullif0(c: Column): Column = when(c =!= 0, c)

  /** A1 as a standalone panel: one row per group. */
  def orderImbalance(df: DataFrame, groupCols: Seq[Column], side: Column,
                     size: Column): DataFrame =
    df.groupBy(groupCols: _*).agg(oiColumn(side, size))

  /** A4 size-tercile tagger: attach the exact per-key terciles of `size`
    * (`__q1`, `__q2`) by a broadcast join. Exact `percentile` (not approx)
    * mirrors pandas `quantile`; tercile groups are per key (small), so the
    * sort-based exact percentile is cheap and skew-safe. */
  def tagSizeTerciles(df: DataFrame, keys: Seq[String], size: Column)
      : DataFrame = {
    val terciles = df.groupBy(keys.map(col): _*).agg(
      percentile(size, lit(1.0 / 3)).as("__q1"),
      percentile(size, lit(2.0 / 3)).as("__q2"))
    df.join(broadcast(terciles), keys)
  }

  /** The A4 size buckets over a [[tagSizeTerciles]] frame, with the
    * reference's boundaries (`order_imbalance.py:435-448`): small `< q1`,
    * medium `[q1, q2]` inclusive both ends, large `> q2`. */
  def sizeBuckets(size: Column): Seq[(String, Column)] = Seq(
    "small" -> (size < col("__q1")),
    "medium" -> (size >= col("__q1") && size <= col("__q2")),
    "large" -> (size > col("__q2")))

  /** The A4 aggressiveness buckets (`order_imbalance.py:419-432`):
    * relative to the PREDICTED direction, a hidden exec is low-aggressive
    * when priced on the passive side of the half-spread, high-aggressive
    * on the aggressive side; `aggRatio == 0.5` exactly is mid. */
  def aggBuckets(predDir: Column, aggRatio: Column): Seq[(String, Column)] =
    Seq(
      "agg_low" -> ((predDir === 1 && aggRatio < 0.5) ||
        (predDir === -1 && aggRatio > 0.5)),
      "agg_mid" -> (aggRatio === 0.5),
      "agg_high" -> ((predDir === 1 && aggRatio > 0.5) ||
        (predDir === -1 && aggRatio < 0.5)))
}
