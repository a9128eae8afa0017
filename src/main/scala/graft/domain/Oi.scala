package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schema.EventType
import graft.operators.{AsOfJoin, Imbalance, TimeBins}

/** The binned order-imbalance panel family (SURVEY §2.4 A1-A5 + §2.5 W7 +
  * §2.3 J3/J5), the reference's core analytic
  * (`/root/reference/order_imbalance.py:242-475`).
  *
  * `kind` (one row of [[kinds]]; every OI column is built by
  * [[graft.operators.Imbalance]]):
  *  - `vis`      A1 over visible executions (type 4)
  *  - `hid`      A2 probability-weighted over hidden executions (type 5)
  *  - `all`      A2 over types 4+5 with visible rows forced to prob 0/1
  *               (`order_imbalance.py:290-291`)
  *  - `iceberg`  A3 vis-OI split by the iceberg tag (J3 as-of self-join)
  *  - `size`     A4 tercile-conditional weighted OI over hidden execs
  *               (strict < q1 / [q1,q2] / > q2, `order_imbalance.py:436-448`)
  *  - `agg`      A4 aggressiveness-conditional weighted OI: buckets from
  *               pred_dir x agg_ratio vs 0.5 (`order_imbalance.py:419-432`)
  *
  * Execution shape at scale: one as-of window shuffle on (ticker, price)
  * [iceberg only] or a per-(ticker, date) tercile aggregate broadcast back
  * [size only], then ONE groupBy shuffle on (ticker, date, bin). The
  * panel is per (ticker, day) independent — partition-parallel across a
  * cluster; the spine join is a broadcast of a generated sequence.
  */
object Oi {

  val NsPerSec: Long = 1000000000L

  /** Epoch-nanos event time from date + seconds-after-midnight; integer
    * arithmetic (SURVEY §7.4.3: Double cannot hold epoch nanos). */
  def tsNs: Column =
    unix_date(col("date")).cast("long") * lit(86400L * NsPerSec) +
      (col("time_s") * lit(1e9)).cast("long")

  /** W7 right-closed ceil bin label in epoch nanos; `daily` = midnight of
    * the trade date (pandas `normalize()`, `order_imbalance.py:356-358`). */
  def binNs(deltaNs: Long): Column =
    if (deltaNs <= 0) unix_date(col("date")).cast("long") * lit(86400L * NsPerSec)
    else TimeBins.ceilNs(tsNs, deltaNs)

  /** J3 iceberg tag: visible exec (type 4) followed by a submit (type 1)
    * at the same (ticker, price) within 1 ms inclusive
    * (`order_imbalance.py:25-48`). */
  def tagIcebergs(events: DataFrame, toleranceNs: Long = 1000000L)
      : DataFrame = {
    val withTs = events.withColumn("__ts_ns", tsNs)
    val execs = withTs.filter(col("event_type") === EventType.VisibleExec)
    val submits = withTs.filter(col("event_type") === EventType.Submit)
    AsOfJoin.forward(execs, submits, "__ts_ns", Seq("ticker", "price"),
        attach = Nil, toleranceNs = Some(toleranceNs))
      .withColumn("iceberg", col("asof_time").isNotNull.cast("int"))
      .drop("asof_time", "__ts_ns")
  }

  /** One panel kind: the rows it aggregates, an optional tagging step
    * over them, and its OI columns as (suffix, row condition) pairs under
    * one [[Imbalance]] builder. */
  final case class Kind(rows: Column, oi: (String, Column) => Column,
                        buckets: Seq[(String, Column)],
                        tag: DataFrame => DataFrame = identity) {
    def oiNames: Seq[String] = buckets.map(b => s"order_imbalance${b._1}")
  }

  private val sz = col("size").cast("double")
  private val signed: (String, Column) => Column =
    Imbalance.oiColumn(col("direction"), sz, _, _)
  private def weighted(prob: Column): (String, Column) => Column =
    Imbalance.weightedOiColumn(prob, sz, _, _)
  private val byPredProb = weighted(col("pred_prob"))
  private def isType(t: Int): Column = col("event_type") === t
  private def suffixed(bs: Seq[(String, Column)]): Seq[(String, Column)] =
    bs.map { case (b, c) => s"_$b" -> c }

  /** The panel kinds by name. */
  val kinds: Map[String, Kind] = Map(
    "vis" -> Kind(isType(EventType.VisibleExec), signed,
      Seq("_vis" -> lit(true))),
    "hid" -> Kind(isType(EventType.HiddenExec), byPredProb,
      Seq("_hid" -> lit(true))),
    // visible rows get prob 0 (dir -1 / buy) or 1 (dir +1 / sell):
    // order_imbalance.py:290-291
    "all" -> Kind(
      col("event_type").isin(EventType.VisibleExec, EventType.HiddenExec),
      weighted(when(isType(EventType.VisibleExec),
        when(col("direction") === -1, 0.0).otherwise(1.0))
        .otherwise(col("pred_prob"))),
      Seq("_all" -> lit(true))),
    // tagIcebergs reads the submits and keeps only the visible execs
    "iceberg" -> Kind(lit(true), signed,
      Seq("_vis" -> (col("iceberg") === 0), "_ib" -> (col("iceberg") === 1)),
      tagIcebergs(_)),
    // per-(ticker, date) exact size terciles over hidden execs
    "size" -> Kind(isType(EventType.HiddenExec), byPredProb,
      suffixed(Imbalance.sizeBuckets(sz)),
      Imbalance.tagSizeTerciles(_, Seq("ticker", "date"), sz)),
    "agg" -> Kind(isType(EventType.HiddenExec), byPredProb,
      suffixed(Imbalance.aggBuckets(col("pred_dir"), col("agg_ratio")))))

  /** The OI panel for one delta: one row per (ticker, date, bin) with the
    * kind's OI column(s) plus ordered first/last midprice and weighted
    * midprice (A5 via min_by/max_by on the explicit seq order). */
  def panel(events: DataFrame, deltaNs: Long, kind: String): DataFrame = {
    val k = kinds.getOrElse(kind,
      throw new IllegalArgumentException(s"unknown OI kind: $kind"))
    val aggs = k.buckets.map { case (sfx, cond) => k.oi(sfx, cond) } ++
      firstLastAggs
    k.tag(events.filter(k.rows)).withColumn("bin_ns", binNs(deltaNs))
      .groupBy(col("ticker"), col("date"), col("bin_ns"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A5 first/last midprice + weighted midprice in explicit event order
    * (min_by/max_by on seq; `order_imbalance.py:304-309`). */
  private def firstLastAggs: Seq[Column] = Seq(
    min_by(col("midprice"), col("seq")).as("first_midprice"),
    max_by(col("midprice"), col("seq")).as("last_midprice"),
    min_by(col("weighted_mp"), col("seq")).as("first_weighted_mp"),
    max_by(col("weighted_mp"), col("seq")).as("last_weighted_mp"))

  /** J5 + W7 spine: densify an intraday panel to every complete bin of
    * (sessionStart+delta, sessionEnd] per (ticker, date) — the last
    * (incomplete) intraday bin is left out of the spine
    * (`order_imbalance.py:301`, `321-324`, `338-359`) — and fill the OI
    * columns with 0. The spine's bounds are computed on the driver; a
    * bin too wide to leave one complete bin in the session is refused. */
  def densifyPanel(panel: DataFrame, deltaNs: Long,
                   sessionStartSec: Double = 36000.0,
                   sessionEndSec: Double = 55800.0): DataFrame = {
    if (deltaNs <= 0) return panel // daily panels are already dense
    val (first, endNs) = ((sessionStartSec * 1e9).toLong + deltaNs,
      (sessionEndSec * 1e9).toLong)
    require(first + deltaNs <= endNs, s"densifyPanel: a $deltaNs ns bin " +
      s"leaves no complete bin in the session ($sessionStartSec s, " +
      s"$sessionEndSec s]")
    // the grid's last bin is first + m*delta, m = (end - first) / delta;
    // that one is incomplete, so the spine stops one bin earlier
    val last = first + ((endNs - first) / deltaNs - 1) * deltaNs
    val oiCols = panel.columns.filter(_.startsWith("order_imbalance"))
    val day = unix_date(col("date")).cast("long") * lit(86400L * NsPerSec)
    val spine = panel.select(col("ticker"), col("date")).distinct()
      .select(col("ticker"), col("date"), explode(sequence(day + lit(first),
        day + lit(last), lit(deltaNs))).as("bin_ns"))
    spine.join(panel, Seq("ticker", "date", "bin_ns"), "left")
      .na.fill(0.0, oiCols)
  }

  /** Combined panel (J4): join several kinds on the bin key
    * (`order_imbalance.py:328-335`). */
  def combined(panels: Seq[DataFrame]): DataFrame = {
    val keys = Seq("ticker", "date", "bin_ns")
    panels.reduce { (a, b) =>
      val dupes = b.columns.filterNot(keys.contains)
        .filter(a.columns.contains)
      a.join(dupes.foldLeft(b)((d, c) => d.drop(c)), keys)
    }
  }
}
