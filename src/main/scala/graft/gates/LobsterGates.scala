package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Microstructure, Stats}
import graft.operators._

import Shared._

/** The LOBSTER research gates: order imbalance, as-of and equi joins,
  * windows, returns, regressions, strategies and the EP1-EP3 pipelines,
  * mostly over the events table given an order-book shape. */
object LobsterGates {

  /** EP1 input: a deterministic LOBSTER-shaped event frame derived from the
    * events table — every column is integer/dyadic arithmetic on
    * (event_id, user_id, ts_ns), so the DuckDB twin reproduces it exactly:
    *  - 8 tickers from user_id, trade date from the event's UTC day;
    *  - time_s folded into the 10:00-15:30 core session (integer seconds,
    *    exact as double);
    *  - every 5th event a type-1 submit (filtered out by the vis panel —
    *    the event-type filter inside Oi.panel stays a real filter);
    *  - quote prices on a 0.25 grid (midprice dyadic => first/last midprice
    *    and the log-return ratio are bit-identical across engines);
    *  - integer sizes (conditional-sum OI numerator/denominator are exact
    *    integer-valued doubles => the OI division is bit-identical). */
  private def ep1LobsterFrame(s: SparkSession, dir: String): DataFrame =
    eventsNs(s, dir).select(
      pmod(col("user_id"), lit(8L)).cast("string").as("ticker"),
      date_add(to_date(lit("1970-01-01")),
        expr(s"ts_ns div $DAY").cast("int")).as("date"),
      (pmod(expr("ts_ns div 1000000000"), lit(19800L)) + lit(36000L))
        .cast("double").as("time_s"),
      when(pmod(col("event_id"), lit(5L)) === 0,
        lit(graft.core.Schema.EventType.Submit))
        .otherwise(lit(graft.core.Schema.EventType.VisibleExec))
        .as("event_type"),
      side(col("event_type")).as("direction"),
      (lit(1L) + pmod(col("event_id"), lit(100L))).as("size"),
      (lit(99.0) + pmod(col("event_id"), lit(5L)).cast("double") * 0.25)
        .as("price"),
      (lit(100.0) + pmod(col("event_id"), lit(7L)).cast("double") * 0.25)
        .as("ask_price_1"),
      (lit(99.0) + pmod(col("event_id"), lit(5L)).cast("double") * 0.25)
        .as("bid_price_1"),
      (lit(100L) + pmod(col("event_id"), lit(37L))).cast("double")
        .as("ask_size_1"),
      (lit(100L) + pmod(col("event_id"), lit(50L))).cast("double")
        .as("bid_size_1"),
      col("event_id").as("seq"))

  /** DuckDB twin of [[ep1LobsterFrame]] (visible-exec rows only, with the
    * derived columns the EP1 panel needs), as a CTE body. */
  private val Ep1LobsterVis =
    s"""SELECT CAST(user_id % 8 AS VARCHAR) AS ticker,
       |  ts_ns // $DAY AS day_i,
       |  (ts_ns // 1000000000) % 19800 + 36000 AS time_s,
       |  CASE WHEN ($Side) = -1 THEN -1 ELSE 1 END AS dir,
       |  1 + event_id % 100 AS size,
       |  ((100.0 + (event_id % 7) * 0.25) + (99.0 + (event_id % 5) * 0.25))
       |    / 2.0 AS mid,
       |  event_id AS seq
       |FROM e WHERE event_id % 5 <> 0""".stripMargin

  /** DuckDB twin of the EP1 per-delta panel chain (vis OI panel at
    * `stepS`-second ceil bins, session spine densification with zero-fill,
    * last-bin drop, log returns) ending in a CTE named `panel` with columns
    * (ticker, day_i, bin_s, oi, log_ret). Mirrors Oi.panel ->
    * Oi.densifyPanel -> Returns.addLogReturns for integer-second inputs. */
  private def ep1PanelSql(stepS: Long): String =
    s"""lob AS ($Ep1LobsterVis),
       |raw AS (
       |  SELECT ticker, day_i, ((time_s + ${stepS - 1}) // $stepS) * $stepS AS bin_s,
       |    (CAST(SUM(CASE WHEN dir = -1 THEN size ELSE 0 END) AS DOUBLE)
       |      - CAST(SUM(CASE WHEN dir = 1 THEN size ELSE 0 END) AS DOUBLE))
       |      / NULLIF(CAST(SUM(size) AS DOUBLE), 0.0) AS oi,
       |    arg_min(mid, seq) AS first_mid, arg_max(mid, seq) AS last_mid
       |  FROM lob GROUP BY 1, 2, 3),
       |days AS (SELECT DISTINCT ticker, day_i FROM raw),
       |spine AS (
       |  SELECT d.ticker, d.day_i, g.bin_s
       |  FROM days d, (SELECT UNNEST(generate_series(${36000 + stepS}, 55800,
       |    $stepS)) AS bin_s) g),
       |dense AS (
       |  SELECT s.ticker, s.day_i, s.bin_s, COALESCE(r.oi, 0.0) AS oi,
       |    r.first_mid, r.last_mid
       |  FROM spine s LEFT JOIN raw r
       |    ON s.ticker = r.ticker AND s.day_i = r.day_i AND s.bin_s = r.bin_s
       |  WHERE s.bin_s < 55800),
       |panel AS (
       |  SELECT ticker, day_i, bin_s, oi,
       |    CASE WHEN first_mid > 0 AND last_mid > 0
       |      THEN ln(last_mid / first_mid) END AS log_ret
       |  FROM dense)""".stripMargin

  /** A4 over lineitem (extended price plays size, discount plays
    * pred_prob): weighted OI per bucket, one `oi_<bucket>_micro` column
    * each, per return flag. */
  private def lineitemBucketOi(li: DataFrame, buckets: Seq[(String, Column)])
      : DataFrame = {
    val ois = buckets.map { case (b, cond) => Imbalance.weightedOiColumn(
      col("l_discount"), col("l_extendedprice"), s"_$b", cond) }
    li.groupBy(col("l_returnflag")).agg(ois.head, ois.tail: _*)
      .select(col("l_returnflag") +: buckets.map { case (b, _) =>
        r6(col(s"order_imbalance_$b")).as(s"oi_${b}_micro") }: _*)
  }

  /** Laplace-expansion determinant over symbolic SQL entries — used by the
    * q_m5_full oracle to spell the 5x5 Cramer solve as plain arithmetic.
    * DuckDB evaluates it with IEEE semantics; the Spark side solves the
    * same normal equations via QR (commons-math), identical to ~1e-13
    * relative, which micro-rounding absorbs. */
  private def sqlDet(m: Vector[Vector[String]]): String =
    if (m.size == 1) m(0)(0)
    else {
      val terms = m(0).indices.map { j =>
        val minor = m.tail.map(row => row.patch(j, Nil, 1))
        s"(${m(0)(j)} * ${sqlDet(minor)})"
      }
      terms.zipWithIndex.tail.foldLeft(terms.head) { case (acc, (t, j)) =>
        if (j % 2 == 1) s"($acc - $t)" else s"($acc + $t)"
      }
    }

  /** Symbolic X'X (moment names m<i><j>, i<=j) for 4 regressors+intercept. */
  private val M5FullXtX: Vector[Vector[String]] =
    Vector.tabulate(5, 5)((i, j) =>
      s"m${math.min(i, j)}${math.max(i, j)}")
  private val M5FullRhs: Vector[String] =
    Vector.tabulate(5)(i => s"r$i")

  /** Cramer numerator: X'X with column `j` replaced by the RHS. */
  private def m5FullNum(j: Int): String =
    sqlDet(M5FullXtX.zipWithIndex.map { case (row, i) =>
      row.updated(j, M5FullRhs(i))
    })

  val gates: Seq[Gate] = Seq(

    // --- A1: plain conditional-sum order imbalance per hour bin (ceil) ---
    Gate("q_a1_oi", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.ceilNs(col("ts_ns"), H))
      Imbalance.orderImbalance(ev, Seq(col("bin_ns")),
          side(col("event_type")), col("value"))
        .select(col("bin_ns"), r6(col("order_imbalance")).as("oi_micro"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT ${CeilNs("ts_ns", H)} AS bin_ns,
         |  ${R6(s"(SUM(CASE WHEN $Side = -1 THEN value ELSE 0 END) - SUM(CASE WHEN $Side = 1 THEN value ELSE 0 END)) / NULLIF(SUM(CASE WHEN $Side = -1 THEN value ELSE 0 END) + SUM(CASE WHEN $Side = 1 THEN value ELSE 0 END), 0)")} AS oi_micro
         |FROM e GROUP BY 1""".stripMargin),

    // --- A2: probability-weighted OI (lineitem: discount as pseudo-prob) ---
    Gate("q_a2_weighted_oi", (s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(Imbalance.weightedOiColumn(col("l_discount"),
          col("l_extendedprice")))
        .select(col("l_returnflag"),
          r6(col("order_imbalance")).as("woi_micro"))
    },
      s"""SELECT l_returnflag,
         |  ${R6("SUM(l_extendedprice * (1.0 - 2.0*l_discount)) / SUM(l_extendedprice)")} AS woi_micro
         |FROM lineitem GROUP BY 1""".stripMargin),

    // --- A3: split OI (two flag classes in one pass) ---
    Gate("q_a3_split_oi", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.ceilNs(col("ts_ns"), H * 6))
        .withColumn("flag", (col("event_id") % 2).cast("int"))
      def oi(sfx: String, flag: Int): Column = Imbalance.oiColumn(
        side(col("event_type")), col("value"), sfx, col("flag") === flag)
      ev.groupBy(col("bin_ns")).agg(oi("_vis", 0), oi("_ib", 1))
        .select(col("bin_ns"),
          r6(col("order_imbalance_vis")).as("oi_vis_micro"),
          r6(col("order_imbalance_ib")).as("oi_ib_micro"))
    },
      s"""WITH e AS (SELECT *, event_id % 2 AS flag, ${CeilNs("ts_ns", H * 6)} AS bin_ns
         |  FROM ($EventsNs))
         |SELECT bin_ns,
         |  ${R6(s"(SUM(CASE WHEN flag=0 AND $Side=-1 THEN value ELSE 0 END) - SUM(CASE WHEN flag=0 AND $Side=1 THEN value ELSE 0 END)) / NULLIF(SUM(CASE WHEN flag=0 AND $Side=-1 THEN value ELSE 0 END) + SUM(CASE WHEN flag=0 AND $Side=1 THEN value ELSE 0 END), 0)")} AS oi_vis_micro,
         |  ${R6(s"(SUM(CASE WHEN flag=1 AND $Side=-1 THEN value ELSE 0 END) - SUM(CASE WHEN flag=1 AND $Side=1 THEN value ELSE 0 END)) / NULLIF(SUM(CASE WHEN flag=1 AND $Side=-1 THEN value ELSE 0 END) + SUM(CASE WHEN flag=1 AND $Side=1 THEN value ELSE 0 END), 0)")} AS oi_ib_micro
         |FROM e GROUP BY 1""".stripMargin),

    // --- A5: ordered first/last per group (min_by/max_by) ---
    Gate("q_a5_first_last", (s, dir) => {
      val ev = eventsNs(s, dir)
      ev.groupBy(col("user_id")).agg(
        min_by(col("value"), col("event_id")).as("first_value"),
        max_by(col("value"), col("event_id")).as("last_value"),
        min(col("ts_ns")).as("first_ts_ns"),
        max(col("ts_ns")).as("last_ts_ns"),
        count(lit(1)).as("n"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT user_id, arg_min(value, event_id) AS first_value,
         |  arg_max(value, event_id) AS last_value,
         |  MIN(ts_ns) AS first_ts_ns, MAX(ts_ns) AS last_ts_ns,
         |  COUNT(*) AS n
         |FROM e GROUP BY 1""".stripMargin),

    // --- A6: event number within group (cumcount) ---
    Gate("q_a6_event_number", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      eventsNs(s, dir)
        .select(col("event_id"),
          (row_number().over(w) - 1).cast("long").as("event_number"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) - 1 AS event_number
         |FROM e""".stripMargin),

    // --- A7: resample (15-min floor bins, mean+sum) ---
    Gate("q_a7_resample", (s, dir) => {
      eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), M15))
        .groupBy(col("bin_ns"), col("event_type"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_micro"),
          moneySum(col("value")).as("sum_value"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT ${FloorNs("ts_ns", M15)} AS bin_ns, event_type,
         |  COUNT(*) AS n, ${R6("AVG(value)")} AS avg_micro,
         |  ${MoneySum("value")} AS sum_value
         |FROM e GROUP BY 1, 2""".stripMargin),

    // --- A7 extension: hourly per-user TWAP — holding-time-weighted
    //     average (staircase, no bin carry); exact ns weights, decimal
    //     value·dt sums ---
    Gate("q_twap", (s, dir) => {
      TimeBins.twap(eventsNs(s, dir), Seq("user_id"), "ts_ns", "value",
          H, tieBreak = "event_id")
        .select(col("user_id"), col("bin_ns"), col("n_obs"),
          col("weight_ns"), r6(col("twap")).as("twap_micro"))
    }, {
      // TWAP: the same staircase holding-time weights (lead clipped at
      // the bin edge), decimal value*dt sums
      val binEnd = s"${FloorNs("ts_ns", H)} + $H"
      s"""WITH e AS ($EventsNs),
         |b AS (
         |  -- NULL values dropped BEFORE the window (twap convention: a
         |  -- missing observation extends the prior staircase level)
         |  SELECT user_id, value, ${FloorNs("ts_ns", H)} AS bin_ns,
         |    LEAST(COALESCE(LEAD(ts_ns) OVER (PARTITION BY user_id
         |        ORDER BY ts_ns, event_id), $binEnd), $binEnd) - ts_ns
         |      AS dt
         |  FROM e WHERE value IS NOT NULL)
         |SELECT user_id, bin_ns, COUNT(*) AS n_obs,
         |  CAST(SUM(dt) AS BIGINT) AS weight_ns,
         |  ${R6("CASE WHEN SUM(dt) > 0 THEN CAST(SUM(CAST(value * dt AS DECIMAL(28,4))) AS DOUBLE) / SUM(dt) END")} AS twap_micro
         |FROM b GROUP BY 1, 2""".stripMargin
    }),

    // --- A8: summary stats per group ---
    Gate("q_a8_summary", (s, dir) => {
      eventsNs(s, dir).groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        r6(avg(col("value"))).as("mean_micro"),
        r6(stddev_samp(col("value"))).as("std_micro"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    },
      s"""SELECT event_type, COUNT(*) AS n, ${R6("AVG(value)")} AS mean_micro,
         |  ${R6("stddev_samp(value)")} AS std_micro,
         |  MIN(value) AS min_value, MAX(value) AS max_value
         |FROM events GROUP BY 1""".stripMargin),

    // --- A10: Pearson correlation per group ---
    Gate("q_a10_corr", (s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(r6(corr(col("l_quantity"), col("l_extendedprice")))
          .as("corr_micro"))
    },
      s"""SELECT l_returnflag, ${R6("corr(l_quantity, l_extendedprice)")} AS corr_micro
         |FROM lineitem GROUP BY 1""".stripMargin),

    // --- A12: grouped counts / distinct counts / money sums ---
    Gate("q_a12_counts", (s, dir) => {
      Tables.orders(s, dir).groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        moneySum(col("o_totalprice")).as("sum_price"))
    },
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  ${MoneySum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1""".stripMargin),

    // --- A13: population skewness / raw kurtosis (power-sum moments) ---
    Gate("q_a13_moments", (s, dir) => {
      eventsNs(s, dir).groupBy(col("event_type")).agg(
        r6(Stats.skewnessPop(col("value"))).as("skew_micro"),
        r6(Stats.kurtosisRaw(col("value"))).as("kurt_micro"))
    },
      // population moments from power sums (same formula as the Spark side)
      s"""WITH s AS (
         |  SELECT event_type, COUNT(*)::DOUBLE AS n, SUM(value) AS s1,
         |    SUM(value*value) AS s2, SUM(value*value*value) AS s3,
         |    SUM(value*value*value*value) AS s4
         |  FROM events GROUP BY 1)
         |SELECT event_type,
         |  ${R6("(s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / pow(s2/n - (s1/n)*(s1/n), 1.5)")} AS skew_micro,
         |  ${R6("((s4 - 4*(s1/n)*s3 + 6*(s1/n)*(s1/n)*s2 - 4*(s1/n)*(s1/n)*(s1/n)*s1 + n*(s1/n)*(s1/n)*(s1/n)*(s1/n))/n) / pow(s2/n - (s1/n)*(s1/n), 2)")} AS kurt_micro
         |FROM s""".stripMargin),

    // --- J2: multi-table equi-join + aggregate (TPC-H Q5 shape) ---
    Gate("q_j2_equi_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
    },
      s"""SELECT n_name,
         |  ${MoneySum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1""".stripMargin),

    // --- J3: as-of join forward w/ tolerance (iceberg-tag shape) ---
    Gate("q_j3_asof", (s, dir) => {
      val ev = eventsNs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      AsOfJoin.forward(clicks, purchases, "ts_ns", Seq("user_id"),
          attach = Nil, toleranceNs = Some(H))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("asof_time"),
          col("asof_time").isNotNull.cast("int").cast("long").as("matched"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT l.event_id, l.user_id, l.ts_ns,
         |  (SELECT MIN(r.ts_ns) FROM e r
         |   WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
         |     AND r.ts_ns >= l.ts_ns AND r.ts_ns <= l.ts_ns + ${H}) AS asof_time,
         |  CAST((SELECT MIN(r.ts_ns) FROM e r
         |   WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
         |     AND r.ts_ns >= l.ts_ns AND r.ts_ns <= l.ts_ns + ${H}) IS NOT NULL AS BIGINT) AS matched
         |FROM e l WHERE l.event_type = 'click'""".stripMargin),

    // --- J5: bin-spine densification (left join to full spine, fill 0) ---
    Gate("q_j5_spine", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), H * 6))
      val agg = ev.groupBy(col("bin_ns")).agg(count(lit(1)).as("n"))
      val bounds = ev.agg(min(col("bin_ns")).as("lo"), max(col("bin_ns")).as("hi"))
        .collect()(0)
      val spine = TimeBins.spine(agg, bounds.getLong(0), bounds.getLong(1), H * 6)
      TimeBins.densify(agg, spine, "bin_ns", Nil, Seq("n"))
    },
      s"""WITH e AS (SELECT ${FloorNs("epoch_ns(ts)", H * 6)} AS bin_ns FROM events),
         |agg AS (SELECT bin_ns, COUNT(*) AS n FROM e GROUP BY 1),
         |bounds AS (SELECT MIN(bin_ns) AS lo, MAX(bin_ns) AS hi FROM e),
         |spine AS (SELECT unnest(generate_series(lo, hi, ${H * 6})) AS bin_ns FROM bounds)
         |SELECT s.bin_ns, COALESCE(a.n, 0) AS n
         |FROM spine s LEFT JOIN agg a ON s.bin_ns = a.bin_ns""".stripMargin),

    // --- J6: broadcast dimension joins (orders->customer->nation->region) ---
    Gate("q_j6_dim_join", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
    },
      s"""SELECT r_name, COUNT(*) AS n_orders, ${MoneySum("o_totalprice")} AS sum_price
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1""".stripMargin),

    // --- J8: full-outer join + zero fill ---
    Gate("q_j8_outer_fill", (s, dir) => {
      val ev = eventsNs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_errors"))
      clicks.join(errors, Seq("user_id"), "full_outer")
        .na.fill(0, Seq("n_clicks", "n_errors"))
    },
      s"""WITH c AS (SELECT user_id, COUNT(*) AS n_clicks FROM events
         |  WHERE event_type = 'click' GROUP BY 1),
         |e AS (SELECT user_id, COUNT(*) AS n_errors FROM events
         |  WHERE event_type = 'error' GROUP BY 1)
         |SELECT COALESCE(c.user_id, e.user_id) AS user_id,
         |  COALESCE(n_clicks, 0) AS n_clicks, COALESCE(n_errors, 0) AS n_errors
         |FROM c FULL OUTER JOIN e ON c.user_id = e.user_id""".stripMargin),

    // --- W1: lag/lead + log return ---
    Gate("q_w1_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      eventsNs(s, dir).select(col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        r6(log(col("value") / lag(col("value"), 1).over(w))).as("log_ret_micro"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id, user_id,
         |  LAG(value, 1) OVER w AS prev_value,
         |  LEAD(value, 1) OVER w AS next_value,
         |  ${R6("ln(value / (LAG(value, 1) OVER w))")} AS log_ret_micro
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)""".stripMargin),

    // --- W2: conditional forward fill (last non-null over preceding) ---
    Gate("q_w2_cond_fill", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsNs(s, dir).select(col("event_id"),
        coalesce(last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w), lit(0.0)).as("last_purchase_value"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  COALESCE(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS last_purchase_value
         |FROM e""".stripMargin),

    // --- W3: rolling window sum (previous 5 events incl. current) ---
    Gate("q_w3_rolling", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id")).rowsBetween(-4, 0)
      eventsNs(s, dir).select(col("event_id"),
        r6(sum(col("value")).over(w)).as("rolling5_micro"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  ${R6("SUM(value) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)")} AS rolling5_micro
         |FROM e""".stripMargin),

    // --- W4: per-group rank (method='first' => row_number) + top-k ---
    Gate("q_w4_rank_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
    },
      s"""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |  FROM orders) WHERE rk <= 3""".stripMargin),

    // --- W5: cumulative sum + cumulative product (exp-sum-log1p) ---
    Gate("q_w5_cum", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsNs(s, dir).select(col("event_id"),
        r6(sum(col("value")).over(w)).as("cumsum_micro"),
        r6(exp(sum(log(lit(1.0) + col("value") / lit(10000.0))).over(w)))
          .as("cumprod_micro"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  ${R6("SUM(value) OVER w")} AS cumsum_micro,
         |  ${R6("exp(SUM(ln(1.0 + value/10000.0)) OVER w)")} AS cumprod_micro
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // --- W6: diff (value - lag) — pass-through doubles, no rounding ---
    Gate("q_w6_diff", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      eventsNs(s, dir).select(col("event_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("dvalue"),
        (col("ts_ns") - lag(col("ts_ns"), 1).over(w)).as("dts_ns"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  value - LAG(value, 1) OVER w AS dvalue,
         |  ts_ns - LAG(ts_ns, 1) OVER w AS dts_ns
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)""".stripMargin),

    // --- W7: right-closed ceil binning (pandas .ceil parity) ---
    Gate("q_w7_ceil_bins", (s, dir) => {
      eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.ceilNs(col("ts_ns"), M5))
        .groupBy(col("bin_ns"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT ${CeilNs("ts_ns", M5)} AS bin_ns, event_type, COUNT(*) AS n
         |FROM e GROUP BY 1, 2""".stripMargin),

    // --- O2: global top-k with deterministic tiebreak ---
    Gate("q_o2_topk", (s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // --- U1: union all + tag ---
    Gate("q_u1_union", (s, dir) => {
      val ev = eventsNs(s, dir)
      val a = ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("event_id"), lit("big_purchase").as("tag"))
      val b = ev.filter(col("event_type") === "error")
        .select(col("event_id"), lit("error").as("tag"))
      a.unionByName(b)
    },
      s"""SELECT event_id, 'big_purchase' AS tag FROM events
         |  WHERE event_type = 'purchase' AND value > 150
         |UNION ALL
         |SELECT event_id, 'error' AS tag FROM events WHERE event_type = 'error'""".stripMargin),

    // --- U2: semi-join membership filter ---
    Gate("q_u2_semi", (s, dir) => {
      val c = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 200000)
      c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin),

    // --- P2+F2: filter + row-level derived columns (pass-through doubles) ---
    Gate("q_p2_filter_project", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("charge"))
    },
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  l_extendedprice * (1.0 - l_discount) AS revenue,
         |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
         |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30""".stripMargin),

    // --- P6: quantile band bounds — exact interpolated percentiles via a
    //     distributed sort (Quantiles.exactPercentiles; the built-in exact
    //     `percentile` buffers all rows in one reducer), then one scan
    //     counts the band ---
    Gate("q_p6_quantile_band", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice"))
      val Seq(lo, hi) =
        Quantiles.exactPercentiles(li, "l_extendedprice", Seq(0.025, 0.975))
      li.agg(sum(when(col("l_extendedprice").between(lo, hi), 1L)
          .otherwise(0L)).as("n_in_band"))
        .select(r6(lit(lo)).as("lo_micro"), r6(lit(hi)).as("hi_micro"),
          col("n_in_band"))
    },
      s"""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.025) AS lo,
         |  quantile_cont(l_extendedprice, 0.975) AS hi FROM lineitem)
         |SELECT ${R6("lo")} AS lo_micro, ${R6("hi")} AS hi_micro,
         |  (SELECT COUNT(*) FROM lineitem, b
         |   WHERE l_extendedprice >= lo AND l_extendedprice <= hi) AS n_in_band
         |FROM b""".stripMargin),

    // --- F7: z-score standardization per group ---
    Gate("q_f7_zscore", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
      eventsNs(s, dir).select(col("event_id"),
        r6((col("value") - avg(col("value")).over(w)) /
          stddev_samp(col("value")).over(w)).as("z_micro"))
    },
      s"""SELECT event_id,
         |  ${R6("(value - AVG(value) OVER w) / stddev_samp(value) OVER w")} AS z_micro
         |FROM events
         |WINDOW w AS (PARTITION BY event_type)""".stripMargin),

    // --- O1: the full-frame time sort, hashable — global ordinal under
    //     ORDER BY (ts_ns, event_id) via the two-level scan (no
    //     corpus-wide window) ---
    Gate("q_o1_sort", (s, dir) => {
      graft.core.Prep.timeOrderSeq(eventsNs(s, dir), "ts_ns", "event_id")
        .select(col("event_id"), col("pos"))
    },
      // the two-level scan's ordinal IS the global ORDER BY rank
      // NULLS FIRST is explicit: timeOrderSeq routes NULL ts to the lowest
      // slice (Spark ascending default), but DuckDB defaults to NULLS LAST —
      // without the modifier the twins diverge the moment events carry a
      // NULL ts (non-null today; the contract should not depend on that)
      s"""WITH e AS ($EventsNs)
         |SELECT event_id,
         |  ROW_NUMBER() OVER (ORDER BY ts_ns NULLS FIRST, event_id) - 1 AS pos
         |FROM e""".stripMargin),

    // --- F4: datetime family — epoch-ns to calendar fields and a
    //     formatted day string, then back to epoch-ns (round-trip) ---
    Gate("q_f4_datetime", (s, dir) => {
      val ts = timestamp_micros(expr("ts_ns div 1000"))
      eventsNs(s, dir).select(col("event_id"),
        year(ts).cast("long").as("y"),
        month(ts).cast("long").as("mo"),
        dayofmonth(ts).cast("long").as("d"),
        hour(ts).cast("long").as("h"),
        minute(ts).cast("long").as("mi"),
        second(ts).cast("long").as("sec"),
        date_format(ts, "yyyy-MM-dd").as("day_str"),
        (unix_micros(ts) * 1000).as("rt_ns"))
    },
      s"""WITH e AS ($EventsNs),
         |t AS (SELECT event_id, make_timestamp(ts_ns // 1000) AS ts
         |      FROM e)
         |SELECT event_id,
         |  CAST(EXTRACT(YEAR FROM ts) AS BIGINT) AS y,
         |  CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS mo,
         |  CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d,
         |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS h,
         |  CAST(EXTRACT(MINUTE FROM ts) AS BIGINT) AS mi,
         |  CAST(EXTRACT(SECOND FROM ts) AS BIGINT) AS sec,
         |  strftime(ts, '%Y-%m-%d') AS day_str,
         |  epoch_us(ts) * 1000 AS rt_ns
         |FROM t""".stripMargin),

    // --- F5: string family — the reference's filename split('_') +
    //     numeric-field extract + substring membership, over a
    //     synthesized LOBSTER-style name (source_lang_id.csv) ---
    Gate("q_f5_string", (s, dir) => {
      // concat with explicit separators, NOT concat_ws: concat_ws DROPS
      // null fields while the oracle's || propagates them — a latent
      // hash divergence the moment the table gains a NULL source/lang
      Tables.documents(s, dir)
        .withColumn("fname", concat(col("source"), lit("_"), col("lang"),
          lit("_"), col("doc_id").cast("string"), lit(".csv")))
        .select(col("doc_id"), col("fname"),
          element_at(split(col("fname"), "_"), 1).as("src_part"),
          element_at(split(col("fname"), "_"), 2).as("lang_part"),
          regexp_extract(col("fname"), "([0-9]+)\\.csv$", 1)
            .cast("long").as("id_num"),
          col("fname").contains("en").as("has_en"))
    },
      s"""WITH f AS (
         |  SELECT doc_id,
         |    source || '_' || lang || '_' || CAST(doc_id AS VARCHAR)
         |      || '.csv' AS fname
         |  FROM documents)
         |SELECT doc_id, fname,
         |  string_split(fname, '_')[1] AS src_part,
         |  string_split(fname, '_')[2] AS lang_part,
         |  CAST(regexp_extract(fname, '([0-9]+)\\.csv$$', 1) AS BIGINT)
         |    AS id_num,
         |  contains(fname, 'en') AS has_en
         |FROM f""".stripMargin),

    // --- F6: pd.cut twin — right-closed labeled spread buckets
    //     (reference bins 0/500/1000/1500/2000/inf), counted against a
    //     correctness flag; below-range rows drop like pandas NaN cut ---
    Gate("q_f6_bucketize", (s, dir) => {
      val spread = col("value") * 10.0
      val bucket = when(spread > 0 && spread <= 500, "0-500")
        .when(spread > 500 && spread <= 1000, "500-1000")
        .when(spread > 1000 && spread <= 1500, "1000-1500")
        .when(spread > 1500 && spread <= 2000, "1500-2000")
        .when(spread > 2000, ">2000")
      eventsNs(s, dir)
        .withColumn("bucket", bucket)
        .withColumn("correct", col("event_id") % 3 === 0)
        .filter(col("bucket").isNotNull)
        .groupBy(col("bucket"), col("correct"))
        .agg(count(lit(1)).as("n"))
    },
      s"""WITH e AS ($EventsNs),
         |b AS (
         |  SELECT event_id, value * 10.0 AS spread FROM e),
         |t AS (
         |  SELECT event_id,
         |    CASE WHEN spread > 0 AND spread <= 500 THEN '0-500'
         |         WHEN spread > 500 AND spread <= 1000 THEN '500-1000'
         |         WHEN spread > 1000 AND spread <= 1500 THEN '1000-1500'
         |         WHEN spread > 1500 AND spread <= 2000 THEN '1500-2000'
         |         WHEN spread > 2000 THEN '>2000' END AS bucket,
         |    event_id % 3 = 0 AS correct
         |  FROM b)
         |SELECT bucket, correct, COUNT(*) AS n
         |FROM t WHERE bucket IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // --- M5: simple OLS per group via regr_* aggregates ---
    Gate("q_m5_regression", (s, dir) => {
      Regression.simpleOlsByGroup(Tables.lineitem(s, dir),
          y = "l_extendedprice", x = "l_quantity", Seq("l_returnflag"))
        .select(col("l_returnflag"), r6(col("slope")).as("slope_micro"),
          r6(col("intercept")).as("intercept_micro"),
          r6(col("r2")).as("r2_micro"), col("n"))
    },
      s"""SELECT l_returnflag,
         |  ${R6("regr_slope(l_extendedprice, l_quantity)")} AS slope_micro,
         |  ${R6("regr_intercept(l_extendedprice, l_quantity)")} AS intercept_micro,
         |  ${R6("regr_r2(l_extendedprice, l_quantity)")} AS r2_micro,
         |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
         |FROM lineitem GROUP BY 1""".stripMargin),

    // --- M10: skew/kurt-adjusted Sharpe test per "strategy" (user) ---
    Gate("q_m10_sharpe", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("day_ns", TimeBins.floorNs(col("ts_ns"), DAY))
        .groupBy(col("user_id"), col("day_ns"))
        .agg(sum(side(col("event_type")) * col("value")).as("ret"))
      val aggs = Stats.sharpeColumns(col("ret"))
      daily.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
        .filter(col("n") >= 3 && col("sd_ret") > 0)
        .select(col("user_id"), col("n").cast("long").as("n_days"),
          r6(col("mean_ret")).as("mean_micro"),
          r6(col("sd_ret")).as("sd_micro"),
          r6(col("sharpe")).as("sharpe_micro"),
          r6(col("sharpe_tstat")).as("tstat_micro"),
          r6(col("sharpe_annual")).as("annual_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |daily AS (
         |  SELECT user_id, ${FloorNs("ts_ns", DAY)} AS day_ns,
         |    SUM((CASE WHEN event_type IN ('click','view','purchase') THEN -1 ELSE 1 END) * value) AS ret
         |  FROM e GROUP BY 1, 2),
         |s AS (
         |  SELECT user_id, COUNT(*)::DOUBLE AS n, AVG(ret) AS mean_ret,
         |    stddev_samp(ret) AS sd_ret, SUM(ret) AS s1, SUM(ret*ret) AS s2,
         |    SUM(ret*ret*ret) AS s3, SUM(ret*ret*ret*ret) AS s4
         |  FROM daily GROUP BY 1),
         |m AS (
         |  SELECT user_id, n, mean_ret, sd_ret, mean_ret / sd_ret AS sr,
         |    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / pow(s2/n - (s1/n)*(s1/n), 1.5) AS g3,
         |    ((s4 - 4*(s1/n)*s3 + 6*(s1/n)*(s1/n)*s2 - 4*(s1/n)*(s1/n)*(s1/n)*s1 + n*(s1/n)*(s1/n)*(s1/n)*(s1/n))/n) / pow(s2/n - (s1/n)*(s1/n), 2) AS g4
         |  FROM s WHERE n >= 3 AND sd_ret > 0)
         |SELECT user_id, CAST(n AS BIGINT) AS n_days,
         |  ${R6("mean_ret")} AS mean_micro, ${R6("sd_ret")} AS sd_micro,
         |  ${R6("sr")} AS sharpe_micro,
         |  ${R6("sr / sqrt((1.0 - g3*sr + (g4 - 1.0)*sr*sr/4.0) / (n - 1.0))")} AS tstat_micro,
         |  ${R6("sr * sqrt(252.0)")} AS annual_micro
         |FROM m""".stripMargin),

    // --- M11: portfolio construction (rank per bin, top/bottom, PnL) ---
    Gate("q_m11_portfolio", (s, dir) => {
      val binned = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), H * 6))
        .groupBy(col("bin_ns"), col("user_id"))
        .agg(sum(side(col("event_type")) * col("value")).as("signal"))
      val w = Window.partitionBy(col("bin_ns"))
        .orderBy(col("signal").desc, col("user_id"))
      val n = Window.partitionBy(col("bin_ns"))
      val ranked = binned
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_users", count(lit(1)).over(n).cast("long"))
      ranked.groupBy(col("bin_ns")).agg(
        r6(sum(when(col("rk") <= 2, col("signal")).otherwise(0.0)) -
           sum(when(col("rk") > col("n_users") - 2, col("signal"))
             .otherwise(0.0))).as("pnl_micro"),
        count(lit(1)).as("n_users_out"))
    },
      s"""WITH e AS ($EventsNs),
         |sig AS (
         |  SELECT ${FloorNs("ts_ns", H * 6)} AS bin_ns, user_id,
         |    SUM((CASE WHEN event_type IN ('click','view','purchase') THEN -1 ELSE 1 END) * value) AS signal
         |  FROM e GROUP BY 1, 2),
         |ranked AS (
         |  SELECT bin_ns, user_id, signal,
         |    ROW_NUMBER() OVER (PARTITION BY bin_ns ORDER BY signal DESC, user_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY bin_ns) AS n_users
         |  FROM sig)
         |SELECT bin_ns,
         |  ${R6("SUM(CASE WHEN rk <= 2 THEN signal ELSE 0.0 END) - SUM(CASE WHEN rk > n_users - 2 THEN signal ELSE 0.0 END)")} AS pnl_micro,
         |  COUNT(*) AS n_users_out
         |FROM ranked GROUP BY 1""".stripMargin),

    // --- A4: size-tercile conditional weighted OI (exact per-group
    //     percentile terciles; discount plays pred_prob) ---
    Gate("q_a4_size_oi", (s, dir) => {
      val qty = col("l_quantity")
      lineitemBucketOi(Imbalance.tagSizeTerciles(Tables.lineitem(s, dir),
        Seq("l_returnflag"), qty), Imbalance.sizeBuckets(qty))
    },
      s"""WITH t AS (
         |  SELECT l_returnflag, quantile_cont(l_quantity, 0.3333333333333333) AS q1,
         |    quantile_cont(l_quantity, 0.6666666666666666) AS q2
         |  FROM lineitem GROUP BY 1),
         |tagged AS (
         |  SELECT l.l_returnflag, l_extendedprice, l_discount,
         |    CASE WHEN l_quantity < q1 THEN 'small'
         |         WHEN l_quantity <= q2 THEN 'medium' ELSE 'large' END AS bucket
         |  FROM lineitem l JOIN t ON l.l_returnflag = t.l_returnflag)
         |SELECT l_returnflag,
         |  ${R6("SUM(CASE WHEN bucket='small' THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0 END) / NULLIF(SUM(CASE WHEN bucket='small' THEN l_extendedprice ELSE 0 END), 0)")} AS oi_small_micro,
         |  ${R6("SUM(CASE WHEN bucket='medium' THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0 END) / NULLIF(SUM(CASE WHEN bucket='medium' THEN l_extendedprice ELSE 0 END), 0)")} AS oi_medium_micro,
         |  ${R6("SUM(CASE WHEN bucket='large' THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0 END) / NULLIF(SUM(CASE WHEN bucket='large' THEN l_extendedprice ELSE 0 END), 0)")} AS oi_large_micro
         |FROM tagged GROUP BY 1""".stripMargin),

    // --- P3: time-of-day session window filter ---
    Gate("q_p3_session", (s, dir) => {
      // integer floor division to match the oracle's `//`
      val secOfDay = floor((col("ts_ns") % lit(86400L * 1000000000L)) /
        lit(1000000000L)).cast("long")
      eventsNs(s, dir)
        .filter(secOfDay >= 10 * 3600 && secOfDay <= 15 * 3600 + 1800)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
          moneySum(col("value")).as("sum_value"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_type, COUNT(*) AS n, ${MoneySum("value")} AS sum_value
         |FROM e
         |WHERE (ts_ns % ${86400L * 1000000000L}) // 1000000000 BETWEEN ${10 * 3600} AND ${15 * 3600 + 1800}
         |GROUP BY 1""".stripMargin),

    // --- P4: duplicate-key drop, keep first in explicit order ---
    Gate("q_p4_dedup_keys", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_ns"), col("event_id"))
      eventsNs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_ns"))
    },
      s"""WITH e AS ($EventsNs),
         |r AS (SELECT user_id, event_type, event_id, ts_ns,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
         |    ORDER BY ts_ns, event_id) AS rn FROM e)
         |SELECT user_id, event_type, event_id, ts_ns FROM r WHERE rn = 1""".stripMargin),

    // --- A9: mean +/- std by hour-of-day ---
    Gate("q_a9_time_of_day", (s, dir) => {
      val hour = floor((col("ts_ns") % lit(86400L * 1000000000L)) /
        lit(3600L * 1000000000L)).cast("long")
      eventsNs(s, dir).groupBy(hour.as("hour_of_day"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("mean_micro"),
          r6(stddev_samp(col("value"))).as("std_micro"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT (ts_ns % ${86400L * 1000000000L}) // ${3600L * 1000000000L} AS hour_of_day,
         |  COUNT(*) AS n, ${R6("AVG(value)")} AS mean_micro,
         |  ${R6("stddev_samp(value)")} AS std_micro
         |FROM e GROUP BY 1""".stripMargin),

    // --- W8: Gaussian-kernel smoothing over an ordered window (sigma=1,
    //     radius 2; same explicit lag/lead arithmetic as the oracle) ---
    Gate("q_w8_gauss_smooth", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      val ker = Seq(-2, -1, 0, 1, 2)
        .map(k => k -> math.exp(-k * k / 2.0))
      val num = ker.map { case (k, wt) =>
        when(lag(col("value"), -k).over(w).isNotNull,
          lag(col("value"), -k).over(w) * lit(wt)).otherwise(0.0)
      }.reduce(_ + _)
      val den = ker.map { case (k, wt) =>
        when(lag(col("value"), -k).over(w).isNotNull, lit(wt))
          .otherwise(0.0)
      }.reduce(_ + _)
      eventsNs(s, dir).select(col("event_id"),
        r6(num / den).as("smooth_micro"))
    }, {
      val ker = Seq(-2, -1, 0, 1, 2).map(k => k -> math.exp(-k * k / 2.0))
      val num = ker.map { case (k, wt) =>
        val c = if (k < 0) s"LAG(value, ${-k}) OVER w"
                else if (k > 0) s"LEAD(value, $k) OVER w" else "value"
        s"(CASE WHEN $c IS NOT NULL THEN $c * $wt ELSE 0.0 END)"
      }.mkString(" + ")
      val den = ker.map { case (k, wt) =>
        val c = if (k < 0) s"LAG(value, ${-k}) OVER w"
                else if (k > 0) s"LEAD(value, $k) OVER w" else "value"
        s"(CASE WHEN $c IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      s"""WITH e AS ($EventsNs)
         |SELECT event_id, ${R6(s"($num) / ($den)")} AS smooth_micro
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)""".stripMargin
    }),

    // --- W9: ACF at lags 1..3 per user (corr of value with lag-k) ---
    Gate("q_w9_acf", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      val withLags = eventsNs(s, dir).select(col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("l1"),
        lag(col("value"), 2).over(w).as("l2"),
        lag(col("value"), 3).over(w).as("l3"))
      withLags.groupBy(col("user_id")).agg(
        r6(corr(col("value"), col("l1"))).as("acf1_micro"),
        r6(corr(col("value"), col("l2"))).as("acf2_micro"),
        r6(corr(col("value"), col("l3"))).as("acf3_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |l AS (SELECT user_id, value,
         |  LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
         |  LAG(value, 3) OVER w AS l3
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
         |SELECT user_id, ${R6("corr(value, l1)")} AS acf1_micro,
         |  ${R6("corr(value, l2)")} AS acf2_micro,
         |  ${R6("corr(value, l3)")} AS acf3_micro
         |FROM l GROUP BY 1""".stripMargin),

    // --- M7: multi-regressor OLS (2 regressors + intercept) through
    //     Regression.olsByGroup (power sums + QR); the oracle solves the
    //     same normal equations by Cramer's rule ---
    Gate("q_m7_multi_ols", (s, dir) => {
      val fits = Regression.olsByGroup(Tables.lineitem(s, dir),
        "l_extendedprice", Seq("l_quantity", "l_discount"),
        Seq("l_returnflag"))
      import s.implicits._
      fits.map(f => (f.group(0).asInstanceOf[String], micro(f.intercept),
          micro(f.coefs(0)), micro(f.coefs(1))))
        .toDF("l_returnflag", "b0_micro", "b1_micro", "b2_micro")
    },
      s"""WITH g AS (
         |  SELECT l_returnflag, COUNT(*)::DOUBLE AS n, SUM(l_quantity) AS s1,
         |    SUM(l_discount) AS s2, SUM(l_quantity*l_quantity) AS s11,
         |    SUM(l_quantity*l_discount) AS s12, SUM(l_discount*l_discount) AS s22,
         |    SUM(l_extendedprice) AS sy, SUM(l_quantity*l_extendedprice) AS s1y,
         |    SUM(l_discount*l_extendedprice) AS s2y
         |  FROM lineitem GROUP BY 1),
         |d AS (SELECT *,
         |  n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det
         |  FROM g)
         |SELECT l_returnflag,
         |  ${R6("(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det")} AS b0_micro,
         |  ${R6("(n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det")} AS b1_micro,
         |  ${R6("(n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det")} AS b2_micro
         |FROM d""".stripMargin),

    // --- M8: rolling refit — per user, regress daily value-sum on day
    //     index over the previous 3 days, predict today ---
    Gate("q_m8_rolling_refit", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("day", expr(s"ts_ns div $DAY"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(-3, -1)
      daily.select(col("user_id"), col("day"),
          regr_slope(col("v"), col("day")).over(w).as("slope"),
          regr_intercept(col("v"), col("day")).over(w).as("icept"),
          regr_count(col("v"), col("day")).over(w).as("n_train"))
        .filter(col("n_train") === 3)
        .select(col("user_id"), col("day"),
          r6(col("icept") + col("slope") * col("day")).as("pred_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |daily AS (
         |  SELECT user_id, ts_ns // ${DAY} AS day, SUM(value) AS v
         |  FROM e GROUP BY 1, 2),
         |r AS (
         |  SELECT user_id, day,
         |    regr_slope(v, day) OVER w AS slope,
         |    regr_intercept(v, day) OVER w AS icept,
         |    regr_count(v, day) OVER w AS n_train
         |  FROM daily
         |  WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
         |SELECT user_id, day, ${R6("icept + slope * day")} AS pred_micro
         |FROM r WHERE n_train = 3""".stripMargin),

    // --- EP2 end-to-end: the reference's headline deliverable as ONE
    //     chain of the ENGINE'S OWN operators
    //     (`portfolio_strategy_workflow.py:60-63` ->
    //     `trading_strategy.py:347-464`): daily panel -> M8
    //     Strategy.rollingRefitSignals (pooled cross-sectional OLS of ret
    //     on OI over the previous 3 sessions, distributed power sums +
    //     per-day closed form) -> out-of-sample signal -> magnitude veto ->
    //     M11/W4 Strategy.portfolio (per-day rank, top/bottom 25% with
    //     sign agreement) -> daily long-short PnL on FORWARD returns (F9)
    //     -> one M10 Stats.sharpeColumns row. The DuckDB twin re-derives
    //     the SAME pooled rolling normal equations in closed form ---
    Gate("q_ep2_full", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("date", expr(s"ts_ns div $DAY"))
        .groupBy(col("user_id"), col("date"))
        .agg(sum(side(col("event_type")) * col("value")).as("oi"),
          avg(col("value")).as("ret"))
      val wLead = Window.partitionBy(col("user_id")).orderBy(col("date"))
      val panel = daily.withColumn("fret", lead(col("ret"), 1).over(wLead))
      val sig = graft.domain.Strategy
        .rollingRefitSignals(panel, "ret", Seq("oi"), lookback = 3)
        .filter(col("fret").isNotNull &&
          abs(col("signal")) > lit(0.05)) // magnitude veto
        .select(col("date").as("bin_ns"), col("user_id").as("ticker"),
          col("signal"), col("fret"))
      val (pnl, _) = graft.domain.Strategy
        .portfolio(sig, pct = 0.25, retCol = "fret")
      val aggs = Stats.sharpeColumns(col("pnl"))
      pnl.agg(aggs.head, aggs.tail: _*)
        .filter(col("n") >= 3 && col("sd_ret") > 0)
        .select(col("n").cast("long").as("n_days"),
          r6(col("mean_ret")).as("mean_micro"),
          r6(col("sd_ret")).as("sd_micro"),
          r6(col("sharpe")).as("sharpe_micro"),
          r6(col("sharpe_tstat")).as("tstat_micro"),
          r6(col("sharpe_annual")).as("annual_micro"))
    },
      // EP2 composition: every CTE is an already-proven oracle fragment —
      // the M8 pooled rolling normal equations in closed form (the twin of
      // rollingRefitSignals' power-sum + closed-form path), M11 portfolio
      // rank/top-bottom with pct sizing and sign agreement, M10 power-sum
      // Sharpe
      s"""WITH e AS ($EventsNs),
         |daily AS (
         |  SELECT user_id, ts_ns // ${DAY} AS day,
         |    SUM(($Side) * value) AS oi, AVG(value) AS ret
         |  FROM e GROUP BY 1, 2),
         |panel AS (
         |  SELECT user_id, day, oi, ret,
         |    lead(ret) OVER (PARTITION BY user_id ORDER BY day) AS fret
         |  FROM daily),
         |day_sums AS (
         |  SELECT day, COUNT(*)::DOUBLE AS c0, SUM(oi) AS sx,
         |    SUM(oi*oi) AS sxx, SUM(ret) AS sy, SUM(oi*ret) AS sxy
         |  FROM panel GROUP BY 1),
         |rolled AS (
         |  SELECT day, SUM(c0) OVER w AS n, SUM(sx) OVER w AS sx,
         |    SUM(sxx) OVER w AS sxx, SUM(sy) OVER w AS sy,
         |    SUM(sxy) OVER w AS sxy, COUNT(*) OVER w AS train_days
         |  FROM day_sums
         |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
         |betas AS (
         |  SELECT day,
         |    (sy*sxx - sx*sxy) / (n*sxx - sx*sx) AS b0,
         |    (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b1
         |  FROM rolled WHERE train_days = 3
         |    AND n*sxx - sx*sx > 1e-9 * (n*sxx + sx*sx)),
         |sig AS (
         |  SELECT p.user_id, p.day, p.fret, b.b0 + b.b1 * p.oi AS signal
         |  FROM panel p JOIN betas b ON p.day = b.day
         |  WHERE p.fret IS NOT NULL),
         |vet AS (SELECT * FROM sig WHERE abs(signal) > 0.05),
         |ranked AS (
         |  SELECT day, fret, signal,
         |    ROW_NUMBER() OVER (PARTITION BY day
         |      ORDER BY signal DESC, user_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY day) AS n_users
         |  FROM vet),
         |pnl AS (
         |  SELECT day,
         |    SUM(CASE WHEN rk <= GREATEST(FLOOR(n_users * 0.25), 1)
         |          AND signal > 0 THEN fret ELSE 0.0 END)
         |      - SUM(CASE WHEN rk > n_users - GREATEST(FLOOR(n_users * 0.25), 1)
         |          AND signal < 0 THEN fret ELSE 0.0 END)
         |      AS pnl
         |  FROM ranked GROUP BY 1),
         |s AS (
         |  SELECT COUNT(*)::DOUBLE AS n, AVG(pnl) AS mean_ret,
         |    stddev_samp(pnl) AS sd_ret, SUM(pnl) AS s1,
         |    SUM(pnl*pnl) AS s2, SUM(pnl*pnl*pnl) AS s3,
         |    SUM(pnl*pnl*pnl*pnl) AS s4
         |  FROM pnl),
         |m AS (
         |  SELECT n, mean_ret, sd_ret, mean_ret / sd_ret AS sr,
         |    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / pow(s2/n - (s1/n)*(s1/n), 1.5) AS g3,
         |    ((s4 - 4*(s1/n)*s3 + 6*(s1/n)*(s1/n)*s2 - 4*(s1/n)*(s1/n)*(s1/n)*s1 + n*(s1/n)*(s1/n)*(s1/n)*(s1/n))/n) / pow(s2/n - (s1/n)*(s1/n), 2) AS g4
         |  FROM s WHERE n >= 3 AND sd_ret > 0)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  ${R6("mean_ret")} AS mean_micro, ${R6("sd_ret")} AS sd_micro,
         |  ${R6("mean_ret / sd_ret")} AS sharpe_micro,
         |  ${R6("sr / sqrt((1.0 - g3*sr + (g4 - 1.0)*sr*sr/4.0) / (n - 1.0))")} AS tstat_micro,
         |  ${R6("sr * sqrt(252.0)")} AS annual_micro
         |FROM m""".stripMargin),

    // --- EP1 end-to-end: the reference's PRIMARY workload
    //     (`test_workflow.py:46-112` -> `chunk_pipeline.py`) as ONE chain of
    //     the engine's own pipeline — `Pipelines.ep1`: microstructure
    //     features (F2) -> pred_prob -> vis OI panel (A1/A5/W7) -> session
    //     spine densification (J5) -> log returns (W1) -> per-ticker OLS of
    //     log_ret on OI (M5). Input is the deterministic LOBSTER-shaped
    //     frame above; the oracle re-derives every stage in SQL and solves
    //     the same normal equations in closed form ---
    Gate("q_ep1_full", (s, dir) => {
      val (panel, fits) = graft.domain.Pipelines.ep1(
        ep1LobsterFrame(s, dir), deltaNs = M15, kind = "vis")
      val panelAgg = panel.groupBy(col("ticker")).agg(
        count(lit(1)).as("n_bins"),
        sum(when(col("log_ret").isNull, 1L).otherwise(0L)).as("n_empty"),
        r6(sum(col("order_imbalance_vis"))).as("oi_sum_micro"))
      import s.implicits._
      val fitDf = fits.map(f => (f.group(0).asInstanceOf[String],
          micro(f.intercept), micro(f.coefs(0)), f.n))
        .toDF("ticker", "b0_micro", "b_oi_micro", "n_fit")
      panelAgg.join(fitDf, Seq("ticker"))
    },
      // q_ep1_full twin: the EP1 panel chain (ep1PanelSql) + per-ticker
      // closed-form simple OLS of log_ret on OI — the same normal equations
      // and closed form the Spark side solves on distributed power sums
      s"""WITH e AS ($EventsNs),
         |${ep1PanelSql(900L)},
         |pagg AS (
         |  SELECT ticker, COUNT(*) AS n_bins,
         |    CAST(SUM(CASE WHEN log_ret IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_empty,
         |    ${R6("SUM(oi)")} AS oi_sum_micro
         |  FROM panel GROUP BY 1),
         |live AS (
         |  SELECT ticker, oi, log_ret FROM panel
         |  WHERE log_ret IS NOT NULL AND oi IS NOT NULL),
         |sums AS (
         |  SELECT ticker, COUNT(*)::DOUBLE AS n, SUM(oi) AS sx,
         |    SUM(oi*oi) AS sxx, SUM(log_ret) AS sy, SUM(oi*log_ret) AS sxy
         |  FROM live GROUP BY 1),
         |fit AS (
         |  SELECT ticker,
         |    ${R6("(sy*sxx - sx*sxy) / (n*sxx - sx*sx)")} AS b0_micro,
         |    ${R6("(n*sxy - sx*sy) / (n*sxx - sx*sx)")} AS b_oi_micro,
         |    CAST(n AS BIGINT) AS n_fit
         |  FROM sums)
         |SELECT p.ticker, p.n_bins, p.n_empty, p.oi_sum_micro,
         |  f.b0_micro, f.b_oi_micro, f.n_fit
         |FROM pagg p JOIN fit f ON p.ticker = f.ticker""".stripMargin),

    // --- EP1 multi-delta fan-out (`Pipelines.ep1MultiDelta`): ONE cached
    //     feature frame, panels for several bin widths computed off it (the
    //     reference re-reads raw CSVs per delta — SURVEY §4.1). Gate output
    //     is the per-(delta, ticker) panel summary, so both the shared-scan
    //     caching path and every per-delta panel are under the oracle ---
    Gate("q_ep1_multidelta", (s, dir) => {
      val deltas = Seq(M15, M30)
      val run = graft.domain.Pipelines.ep1MultiDelta(
        ep1LobsterFrame(s, dir), deltas, kind = "vis")
      val out = deltas.map { d =>
        run.panels(d).groupBy(col("ticker")).agg(
            count(lit(1)).as("n_bins"),
            sum(when(col("log_ret").isNull, 1L).otherwise(0L)).as("n_empty"),
            r6(sum(col("order_imbalance_vis"))).as("oi_sum_micro"))
          .withColumn("delta_min", lit(d / (60L * 1000000000L)))
      }.reduce(_ unionByName _)
      // materialize the (tiny, aggregated) result while the shared
      // feature frame is still cached, then RELEASE it — the operator's
      // ownership contract (MultiDeltaPanels.release). The result comes
      // back as LOCAL rows re-framed on the driver (bounded: one row
      // per delta x ticker), not the cached frame itself — returning a
      // persisted frame would pin it for the session's lifetime outside
      // any caller's unpersist reach (r16 ADVICE)
      val rows = out.collect().toSeq
      run.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },
      // q_ep1_multidelta twin: the same panel chain at 15- and 30-minute
      // deltas, per-ticker summaries unioned with the delta label
      Seq(900L -> 15L, 1800L -> 30L).map { case (stepS, mins) =>
        s"""SELECT ticker, n_bins, n_empty, oi_sum_micro,
           |  CAST($mins AS BIGINT) AS delta_min
           |FROM (
           |  WITH e AS ($EventsNs),
           |  ${ep1PanelSql(stepS)}
           |  SELECT ticker, COUNT(*) AS n_bins,
           |    CAST(SUM(CASE WHEN log_ret IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_empty,
           |    ${R6("SUM(oi)")} AS oi_sum_micro
           |  FROM panel GROUP BY 1)""".stripMargin
      }.mkString("\nUNION ALL\n")),

    // --- EP3 end-to-end (`trading_strategy.py:469-524` via
    //     `Pipelines.ep3ClOpSignal`): daily vis-OI panel -> Close-to-Open
    //     returns from a daily-bars table (J6 broadcast) -> saved-coefficient
    //     linear signal (F8). Bars and params are deterministic dyadic
    //     functions of (ticker, day), so ClOp's ln(open/prev_close) and the
    //     signal combination are reproducible on the oracle side ---
    Gate("q_ep3_full", (s, dir) => {
      val prepped = ep1LobsterFrame(s, dir)
      val dayI = unix_date(col("date")).cast("long")
      val bars = prepped
        .filter(col("event_type") === graft.core.Schema.EventType.VisibleExec)
        .select(col("ticker"), col("date")).distinct()
        .withColumn("open", lit(100.0) +
          pmod(dayI * 8 + col("ticker").cast("long"), lit(7L))
            .cast("double") * 0.25)
        .withColumn("close", lit(100.0) +
          (pmod(dayI * 8 + col("ticker").cast("long"), lit(5L)) + 1)
            .cast("double") * 0.25)
      val params = prepped.select(col("ticker")).distinct()
        .withColumn("intercept",
          (pmod(col("ticker").cast("long"), lit(3L)) - 1)
            .cast("double") * 0.125)
        .withColumn("b_oi", lit(0.5) +
          pmod(col("ticker").cast("long"), lit(2L)).cast("double") * 0.25)
        .withColumn("b_clop", lit(-0.25) +
          pmod(col("ticker").cast("long"), lit(3L)).cast("double") * 0.125)
      graft.domain.Pipelines.ep3ClOpSignal(prepped, bars, params, "vis")
        .select(col("ticker"), dayI.as("day_i"),
          r6(col("order_imbalance_vis")).as("oi_micro"),
          r6(col("ClOp")).as("clop_micro"),
          r6(col("signal")).as("signal_micro"))
    },
      // q_ep3_full twin: daily vis-OI panel + deterministic bars/params +
      // ClOp = ln(open / prev_close) + the same left-associated signal combo
      s"""WITH e AS ($EventsNs),
         |lob AS ($Ep1LobsterVis),
         |daily AS (
         |  SELECT ticker, day_i,
         |    (CAST(SUM(CASE WHEN dir = -1 THEN size ELSE 0 END) AS DOUBLE)
         |      - CAST(SUM(CASE WHEN dir = 1 THEN size ELSE 0 END) AS DOUBLE))
         |      / NULLIF(CAST(SUM(size) AS DOUBLE), 0.0) AS oi
         |  FROM lob GROUP BY 1, 2),
         |bars AS (
         |  SELECT ticker, day_i,
         |    100.0 + ((day_i * 8 + CAST(ticker AS BIGINT)) % 7) * 0.25 AS open,
         |    100.0 + ((day_i * 8 + CAST(ticker AS BIGINT)) % 5 + 1) * 0.25
         |      AS close
         |  FROM (SELECT DISTINCT ticker, day_i FROM lob)),
         |clop AS (
         |  SELECT ticker, day_i,
         |    CASE WHEN lag(close) OVER w > 0
         |      THEN ln(open / lag(close) OVER w) END AS clop_ret
         |  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY day_i)),
         |params AS (
         |  SELECT ticker,
         |    (CAST(ticker AS BIGINT) % 3 - 1) * 0.125 AS intercept,
         |    0.5 + (CAST(ticker AS BIGINT) % 2) * 0.25 AS b_oi,
         |    -0.25 + (CAST(ticker AS BIGINT) % 3) * 0.125 AS b_clop
         |  FROM (SELECT DISTINCT ticker FROM lob))
         |SELECT d.ticker, d.day_i, ${R6("d.oi")} AS oi_micro,
         |  ${R6("c.clop_ret")} AS clop_micro,
         |  ${R6("(p.intercept + COALESCE(d.oi, 0.0) * p.b_oi) + COALESCE(c.clop_ret, 0.0) * p.b_clop")}
         |    AS signal_micro
         |FROM daily d
         |LEFT JOIN clop c ON d.ticker = c.ticker AND d.day_i = c.day_i
         |LEFT JOIN params p ON d.ticker = p.ticker""".stripMargin),

    // --- F8+F9: linear signal + threshold/sign PnL per user ---
    Gate("q_f8_f9_signal_pnl", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("day", expr(s"ts_ns div $DAY"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(side(col("event_type")) * col("value")).as("oi"),
          avg(col("value")).as("ret"))
      val sig = daily.withColumn("signal",
        lit(0.5) + lit(2.0) * col("oi"))
      val pnl = graft.domain.Strategy.pnlColumns(col("signal"), col("ret"))
      sig.groupBy(col("user_id")).agg(pnl.head, pnl.tail: _*)
        .select(col("user_id"),
          r6(col("pnl_thresh")).as("pnl_thresh_micro"),
          r6(col("pnl_sign")).as("pnl_sign_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |daily AS (
         |  SELECT user_id, ts_ns // ${DAY} AS day,
         |    SUM(($Side) * value) AS oi, AVG(value) AS ret
         |  FROM e GROUP BY 1, 2),
         |sig AS (SELECT *, 0.5 + 2.0 * oi AS signal FROM daily)
         |SELECT user_id,
         |  ${R6("SUM(CASE WHEN signal > 0 THEN ret ELSE 0.0 END) - SUM(CASE WHEN signal < 0 THEN ret ELSE 0.0 END)")} AS pnl_thresh_micro,
         |  ${R6("SUM(sign(signal) * ret)")} AS pnl_sign_micro
         |FROM sig GROUP BY 1""".stripMargin),

    // --- J9/M12: bet-size normalization by per-group median, through
    //     Strategy.betSizedPnl: suppliers play tickers, line revenue the
    //     PnL, each line's extended price a daily close at unit volume ---
    Gate("q_j9_bet_size", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pnl = li.groupBy(col("l_suppkey").as("ticker"))
        .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("pnl"))
      val bars = li.select(col("l_suppkey").as("ticker"),
        col("l_extendedprice").as("close"), lit(1L).as("volume"))
      graft.domain.Strategy.betSizedPnl(pnl, bars)
        .select(col("ticker"), r6(col("ppd")).as("ppd_micro"))
    },
      s"""WITH pnl AS (
         |  SELECT l_suppkey AS ticker,
         |    ${MoneySum("l_extendedprice * (1.0 - l_discount)")} AS pnl
         |  FROM lineitem GROUP BY 1),
         |med AS (
         |  SELECT l_suppkey AS ticker,
         |    quantile_cont(l_extendedprice * 1, 0.5) AS med_dollar_vol
         |  FROM lineitem GROUP BY 1)
         |SELECT ticker, ${R6("pnl / (med_dollar_vol * 0.001)")} AS ppd_micro
         |FROM pnl JOIN med USING (ticker)""".stripMargin),

    // --- A14: Mann-Whitney U between two event-type samples per user ---
    Gate("q_a14_mannwhitney", (s, dir) => {
      val ev = eventsNs(s, dir)
        .filter(col("event_type").isin("click", "error"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("value"))
      // average ranks for ties via rank ranges: use dense approach with
      // (rank() + count-1/2) — simpler: average_rank = (2*rank() +
      // cnt_equal - 1) / 2 where rank() is min-rank
      val cntEq = count(lit(1)).over(Window.partitionBy(col("user_id"),
        col("value")))
      val avgRank = (rank().over(w) * 2 + cntEq - 1).cast("double") / 2.0
      val ranked = ev.select(col("user_id"), col("event_type"),
        avgRank.as("r"))
      ranked.groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "click", col("r"))
          .otherwise(0.0)).as("rank_sum_click"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))
        .select(col("user_id"),
          r6(col("rank_sum_click") -
            col("n_click") * (col("n_click") + 1) / 2.0).as("u_micro"),
          col("n_click"), col("n_error"))
    },
      s"""WITH e AS ($EventsNs),
         |f AS (SELECT * FROM e WHERE event_type IN ('click', 'error')),
         |ranked AS (
         |  SELECT user_id, event_type,
         |    (2 * RANK() OVER (PARTITION BY user_id ORDER BY value) +
         |     COUNT(*) OVER (PARTITION BY user_id, value) - 1)::DOUBLE / 2.0 AS r
         |  FROM f)
         |SELECT user_id,
         |  ${R6("SUM(CASE WHEN event_type = 'click' THEN r ELSE 0.0 END) - SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * (SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) + 1) / 2.0")} AS u_micro,
         |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         |FROM ranked GROUP BY 1""".stripMargin),

    // --- Sessionization (gaps-and-islands; 30-min gap) ---
    Gate("q_sessionize", (s, dir) => {
      Sessionize.sessions(eventsNs(s, dir), Seq("user_id"), "ts_ns",
          gapNs = 30L * 60 * 1000000000L, tieBreak = "event_id",
          aggs = Seq(moneySum(col("value")).as("sum_value")))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"), col("session_end"), col("duration_ns"),
          col("sum_value"))
    },
      s"""WITH e AS ($EventsNs),
         |tagged AS (
         |  SELECT user_id, ts_ns, value,
         |    CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > ${30L * 60 * 1000000000L}
         |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
         |          ORDER BY ts_ns, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
         |  FROM (SELECT user_id, event_id, ts_ns, value,
         |    LAG(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev_ts
         |    FROM e))
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts_ns) AS session_start, MAX(ts_ns) AS session_end,
         |  MAX(ts_ns) - MIN(ts_ns) AS duration_ns,
         |  ${MoneySum("value")} AS sum_value
         |FROM tagged GROUP BY 1, 2""".stripMargin),

    // --- session path mining: within-session event-type transition
    //     counts (the funnel table) — one per-key window shuffle +
    //     one partial-agg count, no (key, session) re-exchange ---
    Gate("q_session_paths", (s, dir) => {
      Sessionize.transitions(eventsNs(s, dir), Seq("user_id"), "ts_ns",
        "event_type", gapNs = 30L * 60 * 1000000000L,
        tieBreak = "event_id")
    },
      // session paths: a transition = consecutive per-user events within
      // the session gap (the same pairs the session rule groups)
      s"""WITH e AS ($EventsNs),
         |nxt AS (
         |  SELECT event_type,
         |    LEAD(ts_ns) OVER (PARTITION BY user_id
         |      ORDER BY ts_ns, event_id) AS next_ts,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts_ns, event_id) AS next_type,
         |    ts_ns
         |  FROM e)
         |SELECT event_type AS from_step, next_type AS to_step,
         |  COUNT(*) AS n_transitions
         |FROM nxt
         |WHERE next_ts IS NOT NULL
         |  AND next_ts - ts_ns <= ${30L * 60 * 1000000000L}
         |GROUP BY 1, 2""".stripMargin),

    // --- A-family extension: weekly cohort retention over purchase
    //     activity (Cohorts scaladoc: everything after the first
    //     shuffle runs on the distinct (user, week) activity frame,
    //     counts are plain count(*) by construction) ---
    Gate("q_retention", (s, dir) => {
      Cohorts.retention(
          eventsNs(s, dir).filter(col("event_type") === "purchase"),
          "user_id", "ts_ns", periodNs = 7L * DAY)
        .select(col("cohort_period").as("cohort_week"),
          col("period_offset").as("week_offset"), col("n_users"),
          col("cohort_size"), r6(col("retention")).as("retention_micro"))
    },
      // weekly purchase retention: the matrix replayed relationally
      s"""WITH e AS ($EventsNs),
         |wk AS (
         |  SELECT DISTINCT user_id, ts_ns // ${7L * DAY} AS week
         |  FROM e WHERE event_type = 'purchase'),
         |cohort AS (
         |  SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1),
         |ret AS (
         |  SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
         |    COUNT(*)::BIGINT AS n_users
         |  FROM wk w JOIN cohort c USING (user_id) GROUP BY 1, 2),
         |sz AS (
         |  SELECT cohort_week, n_users AS cohort_size FROM ret
         |  WHERE week_offset = 0)
         |SELECT r.cohort_week, r.week_offset, r.n_users, s.cohort_size,
         |  ${R6("CAST(r.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)")} AS retention_micro
         |FROM ret r JOIN sz s USING (cohort_week)""".stripMargin),

    // --- J-family extension: interval (range) join — points matched to
    //     the irregular intervals containing them via the cell-bucketed
    //     equi-join (RangeJoin: no cartesian/BNLJ, points never
    //     replicated). Intervals = 12h-gap click sessions per user;
    //     points = that user's non-click events ---
    Gate("q_range_join", (s, dir) => {
      val e = eventsNs(s, dir)
      val sess = Sessionize.sessions(
          e.filter(col("event_type") === "click"), Seq("user_id"),
          "ts_ns", gapNs = 12L * H, tieBreak = "event_id")
        .select(col("user_id"), col("session_id"),
          col("session_start"), col("session_end"))
      val pts = e.filter(col("event_type") =!= "click")
        .select(col("user_id"), col("ts_ns"), col("value"))
      RangeJoin.pointInInterval(pts, sess, Seq("user_id"), "ts_ns",
          "session_start", "session_end", cellNs = 6L * H)
        .groupBy("user_id", "session_id", "session_start", "session_end")
        .agg(count(lit(1)).as("n_inside"),
          moneySum(col("value")).as("sum_value"))
    },
      // range join: sessions rebuilt by the gaps-and-islands twin (clicks
      // only, 12h gap), then the NAIVE non-equi containment join — the
      // semantics the bucketed decomposition must reproduce exactly
      s"""WITH e AS ($EventsNs),
         |tagged AS (
         |  SELECT user_id, ts_ns,
         |    CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > ${12L * H}
         |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
         |          ORDER BY ts_ns, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
         |  FROM (SELECT user_id, event_id, ts_ns,
         |    LAG(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev_ts
         |    FROM e WHERE event_type = 'click')),
         |sess AS (
         |  SELECT user_id, session_id, MIN(ts_ns) AS session_start,
         |    MAX(ts_ns) AS session_end
         |  FROM tagged GROUP BY 1, 2),
         |pts AS (
         |  SELECT user_id, ts_ns, value FROM e WHERE event_type <> 'click')
         |SELECT se.user_id, se.session_id, se.session_start,
         |  se.session_end, COUNT(*) AS n_inside,
         |  ${MoneySum("value")} AS sum_value
         |FROM sess se JOIN pts p ON p.user_id = se.user_id
         |  AND p.ts_ns >= se.session_start AND p.ts_ns <= se.session_end
         |GROUP BY 1, 2, 3, 4""".stripMargin),

    // --- M6: t-values + adjusted R^2 for the M5 simple OLS through
    //     Regression.olsByGroup (chunk_pipeline.py:201-243); the oracle
    //     spells the same closed form over power sums ---
    Gate("q_m6_tvalues", (s, dir) => {
      val fits = Regression.olsByGroup(Tables.lineitem(s, dir),
        "l_extendedprice", Seq("l_quantity"), Seq("l_returnflag"))
      import s.implicits._
      fits.map(f => (f.group(0).asInstanceOf[String], micro(f.tValues(0)),
          micro(f.interceptT), micro(f.adjR2), f.n))
        .toDF("l_returnflag", "t_slope_micro", "t_icept_micro",
          "adj_r2_micro", "n")
    },
      s"""WITH g AS (
         |  SELECT l_returnflag, COUNT(*)::DOUBLE AS n,
         |    SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
         |    SUM(l_quantity*l_quantity) AS sxx,
         |    SUM(l_quantity*l_extendedprice) AS sxy,
         |    SUM(l_extendedprice*l_extendedprice) AS syy
         |  FROM lineitem GROUP BY 1),
         |d AS (SELECT *, sxx - sx*sx/n AS sxx_c, syy - sy*sy/n AS tss FROM g),
         |b AS (SELECT *, (sxy - sx*sy/n) / sxx_c AS slope FROM d),
         |i AS (SELECT *, (sy - slope*sx) / n AS icept FROM b),
         |r AS (SELECT *, syy - icept*sy - slope*sxy AS rss FROM i)
         |SELECT l_returnflag,
         |  ${R6("slope / sqrt((rss/(n-2)) / sxx_c)")} AS t_slope_micro,
         |  ${R6("icept / sqrt((rss/(n-2)) * sxx / (n * sxx_c))")} AS t_icept_micro,
         |  ${R6("1.0 - (rss/tss) * (n-1) / (n-2)")} AS adj_r2_micro,
         |  CAST(n AS BIGINT) AS n
         |FROM r""".stripMargin),

    // --- A4 aggressiveness variant: conditional weighted OI by the
    //     reference's agg_low/agg_mid/agg_high selection
    //     (order_imbalance.py:419-432): low = passively-priced given the
    //     predicted direction, mid = exactly at the half-spread, high =
    //     aggressively priced. pred_dir from linenumber parity, agg_ratio
    //     in [0,1] from the discount ---
    Gate("q_a4_agg_oi", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("pred_dir",
          when(col("l_linenumber") % 2 === 0, 1).otherwise(-1))
        .withColumn("agg_ratio", col("l_discount") * 10.0)
      lineitemBucketOi(li,
        Imbalance.aggBuckets(col("pred_dir"), col("agg_ratio")))
    },
      s"""WITH t AS (
         |  SELECT l_returnflag, l_extendedprice, l_discount,
         |    CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END AS pred_dir,
         |    l_discount * 10.0 AS agg_ratio
         |  FROM lineitem)
         |SELECT l_returnflag,
         |  ${R6("SUM(CASE WHEN (pred_dir = 1 AND agg_ratio < 0.5) OR (pred_dir = -1 AND agg_ratio > 0.5) THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0.0 END) / NULLIF(SUM(CASE WHEN (pred_dir = 1 AND agg_ratio < 0.5) OR (pred_dir = -1 AND agg_ratio > 0.5) THEN l_extendedprice ELSE 0.0 END), 0)")} AS oi_agg_low_micro,
         |  ${R6("SUM(CASE WHEN agg_ratio = 0.5 THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0.0 END) / NULLIF(SUM(CASE WHEN agg_ratio = 0.5 THEN l_extendedprice ELSE 0.0 END), 0)")} AS oi_agg_mid_micro,
         |  ${R6("SUM(CASE WHEN (pred_dir = 1 AND agg_ratio > 0.5) OR (pred_dir = -1 AND agg_ratio < 0.5) THEN l_extendedprice*(1.0-2.0*l_discount) ELSE 0.0 END) / NULLIF(SUM(CASE WHEN (pred_dir = 1 AND agg_ratio > 0.5) OR (pred_dir = -1 AND agg_ratio < 0.5) THEN l_extendedprice ELSE 0.0 END), 0)")} AS oi_agg_high_micro
         |FROM t GROUP BY 1""".stripMargin),

    // --- P5: sentinel-quote validity filter (EDA.ipynb cell 25; LOBSTER
    //     one-sided-book sentinels +/-9999999999). Quotes synthesized
    //     deterministically; Microstructure.validQuote does the tagging ---
    Gate("q_p5_sentinel", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("ask", when(col("event_id") % 97 === 0,
          lit(9999999999L).cast("double")).otherwise(col("value") + 1.0))
        .withColumn("bid", when(col("event_id") % 89 === 0,
          lit(-9999999999L).cast("double")).otherwise(col("value") - 1.0))
      ev.filter(Microstructure.validQuote(col("ask"), col("bid")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
    },
      s"""WITH e AS ($EventsNs),
         |q AS (SELECT *,
         |  CASE WHEN event_id % 97 = 0 THEN CAST(9999999999 AS DOUBLE)
         |       ELSE value + 1.0 END AS ask,
         |  CASE WHEN event_id % 89 = 0 THEN CAST(-9999999999 AS DOUBLE)
         |       ELSE value - 1.0 END AS bid
         |  FROM e)
         |SELECT event_type, COUNT(*) AS n, ${MoneySum("value")} AS sum_value
         |FROM q WHERE ask <> 9999999999 AND bid <> -9999999999
         |GROUP BY 1""".stripMargin),

    // --- P8: outside-spread direction remap
    //     (prediction_ML_pipeline.py:247-262): agg_ratio <= 0 -> forced buy
    //     (dir 1, prob 1), >= 1 -> forced sell (dir -1, prob 0), inside the
    //     spread keeps the model output. agg_ratio lands in
    //     {-0.5, 0, 0.5, 1} by construction, covering every branch ---
    Gate("q_p8_outside_spread", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bid", col("value"))
        .withColumn("ask", col("value") + 2.0)
        .withColumn("price",
          col("value") - 1.0 + (col("event_id") % 4).cast("double"))
      val tagged = ev.withColumn("agg_ratio",
        Microstructure.aggRatio(col("price"), col("ask"), col("bid")))
      tagged.select(col("event_id"),
        when(col("agg_ratio") <= 0, 1).when(col("agg_ratio") >= 1, -1)
          .otherwise(side(col("event_type"))).cast("long").as("pred_dir"),
        r6(when(col("agg_ratio") <= 0, 1.0).when(col("agg_ratio") >= 1, 0.0)
          .otherwise(0.5)).as("pred_prob_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |t AS (SELECT event_id, event_type, value,
         |  value - 1.0 + (event_id % 4) AS price,
         |  value + 2.0 AS ask, value AS bid FROM e),
         |r AS (SELECT event_id, event_type,
         |  CASE WHEN ask - bid <> 0 THEN (price - bid) / (ask - bid) END AS agg_ratio
         |  FROM t)
         |SELECT event_id,
         |  CAST(CASE WHEN agg_ratio <= 0 THEN 1 WHEN agg_ratio >= 1 THEN -1
         |       ELSE ($Side) END AS BIGINT) AS pred_dir,
         |  ${R6("CASE WHEN agg_ratio <= 0 THEN 1.0 WHEN agg_ratio >= 1 THEN 0.0 ELSE 0.5 END")} AS pred_prob_micro
         |FROM r""".stripMargin),

    // --- F2: Cont-style quote-change OFI e_n (EDA_SPY.ipynb cells 22-24):
    //     sentinel filter -> per-user quote changes vs the previous quote
    //     -> e_n indicator arithmetic -> 10 s resample (sum e_n, first
    //     midprice) -> midprice diff across bins. Quotes synthesized on a
    //     quarter-tick integer grid so zero price changes (both
    //     indicators firing) actually occur and every sum is exact in
    //     double. One keyed window per stage — no global window ---
    Gate("q_f2_cont_ofi", (s, dir) => {
      val q = eventsNs(s, dir)
        .withColumn("ask", when(col("event_id") % 97 === 0,
          lit(9999999999L).cast("double"))
          .otherwise(lit(100.0) + (col("event_id") % 7).cast("double") * 0.25))
        .withColumn("bid", when(col("event_id") % 89 === 0,
          lit(-9999999999L).cast("double"))
          .otherwise(lit(99.0) + (col("event_id") % 5).cast("double") * 0.25))
        .withColumn("bid_size", (lit(100L) + col("event_id") % 50).cast("double"))
        .withColumn("ask_size", (lit(100L) + col("event_id") % 37).cast("double"))
        .filter(Microstructure.validQuote(col("ask"), col("bid")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      val lagged = q.select(col("user_id"), col("ts_ns"), col("event_id"),
        col("ask"), col("bid"), col("ask_size"), col("bid_size"),
        lag(col("ask"), 1).over(w).as("p_ask"),
        lag(col("bid"), 1).over(w).as("p_bid"),
        lag(col("ask_size"), 1).over(w).as("p_ask_size"),
        lag(col("bid_size"), 1).over(w).as("p_bid_size"))
      val binned = lagged
        .withColumn("en", Microstructure.contOfi(
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("p_bid"), col("p_ask"), col("p_bid_size"), col("p_ask_size")))
        .withColumn("mid", Microstructure.midprice(col("ask"), col("bid")))
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), S10))
      val wB = Window.partitionBy(col("user_id"), col("bin_ns"))
        .orderBy(col("ts_ns"), col("event_id"))
      val agg = binned.withColumn("__rn", row_number().over(wB))
        .groupBy(col("user_id"), col("bin_ns"))
        .agg(sum(col("en")).as("en_sum"),
          max(when(col("__rn") === 1, col("mid"))).as("mid_first"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("bin_ns"))
      agg.select(col("user_id"), col("bin_ns"),
        r6(col("en_sum")).as("en_micro"),
        r6(col("mid_first")).as("mid_micro"),
        r6(col("mid_first") - lag(col("mid_first"), 1).over(wU))
          .as("dmid_micro"))
    },
      // NULL lag semantics match by construction: (NULL >= 0)::INT is NULL
      // in both engines, so each user's first e_n is NULL and SUM skips it
      s"""WITH e AS ($EventsNs),
         |q AS (SELECT user_id, ts_ns, event_id,
         |  CASE WHEN event_id % 97 = 0 THEN CAST(9999999999 AS DOUBLE)
         |       ELSE 100.0 + (event_id % 7) * 0.25 END AS ask,
         |  CASE WHEN event_id % 89 = 0 THEN CAST(-9999999999 AS DOUBLE)
         |       ELSE 99.0 + (event_id % 5) * 0.25 END AS bid,
         |  CAST(100 + event_id % 50 AS DOUBLE) AS bid_size,
         |  CAST(100 + event_id % 37 AS DOUBLE) AS ask_size
         |  FROM e),
         |f AS (SELECT * FROM q
         |  WHERE ask <> 9999999999 AND bid <> -9999999999),
         |l AS (SELECT *,
         |  LAG(ask) OVER w AS p_ask, LAG(bid) OVER w AS p_bid,
         |  LAG(ask_size) OVER w AS p_ask_size,
         |  LAG(bid_size) OVER w AS p_bid_size
         |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
         |en AS (SELECT user_id, ts_ns, event_id, (ask + bid) / 2 AS mid,
         |  (bid - p_bid >= 0)::INT * bid_size - (bid - p_bid <= 0)::INT * p_bid_size
         |    - (ask - p_ask <= 0)::INT * ask_size + (ask - p_ask >= 0)::INT * p_ask_size AS en,
         |  ${FloorNs("ts_ns", S10)} AS bin_ns
         |  FROM l),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bin_ns
         |    ORDER BY ts_ns, event_id) AS rn FROM en),
         |a AS (SELECT user_id, bin_ns, SUM(en) AS en_sum,
         |  MAX(CASE WHEN rn = 1 THEN mid END) AS mid_first
         |  FROM r GROUP BY 1, 2)
         |SELECT user_id, bin_ns, ${R6("en_sum")} AS en_micro,
         |  ${R6("mid_first")} AS mid_micro,
         |  ${R6("mid_first - LAG(mid_first) OVER (PARTITION BY user_id ORDER BY bin_ns)")} AS dmid_micro
         |FROM a""".stripMargin),

    // --- J1: positional 1:1 alignment of two parallel streams (the
    //     reference aligns message/orderbook files row-by-row,
    //     Ingest.scala J1): i-th click joined to i-th view per user ---
    Gate("q_j1_align", (s, dir) => {
      val ev = eventsNs(s, dir)
      def stream(t: String, p: String): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ns"), col("event_id"))
        ev.filter(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(s"${p}_id"),
            col("value").as(s"${p}_value"),
            row_number().over(w).cast("long").as("rn"))
      }
      stream("click", "m").join(stream("view", "q"), Seq("user_id", "rn"))
        .select(col("user_id"), col("rn"), col("m_id"), col("q_id"),
          r6(col("m_value") - col("q_value")).as("diff_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |m AS (SELECT user_id, event_id AS m_id, value AS m_value,
         |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn
         |  FROM e WHERE event_type = 'click'),
         |q AS (SELECT user_id, event_id AS q_id, value AS q_value,
         |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn
         |  FROM e WHERE event_type = 'view')
         |SELECT m.user_id, m.rn, m_id, q_id,
         |  ${R6("m_value - q_value")} AS diff_micro
         |FROM m JOIN q ON m.user_id = q.user_id AND m.rn = q.rn""".stripMargin),

    // --- M5 full design matrix (EP1, chunk_pipeline.py:271-304): daily
    //     returns regressed on OI + two factor columns + momentum lag,
    //     composed through Returns.addFactors + Regression.olsByGroup.
    //     Spark solves via QR on distributed power sums; the oracle solves
    //     the same normal equations via literal Cramer expansion ---
    Gate("q_m5_full", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("day", expr(s"ts_ns div $DAY"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(side(col("event_type")) * col("value")).as("ret"),
          sum(col("value")).as("vsum"))
        .withColumn("oi", col("ret") / when(col("vsum") =!= 0.0, col("vsum")))
        .withColumn("date", col("day"))
      // deterministic per-day factor table (FF stand-in), broadcast-joined
      // through the same operator the EP1 pipeline uses
      val ff = daily.select(col("date")).distinct()
        .withColumn("f1", ((col("date") % 5) - 2) / 10.0)
        .withColumn("f2", ((col("date") % 7) - 3) / 100.0)
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val panel = graft.domain.Returns.addFactors(daily, ff)
        .withColumn("mom", lag(col("ret"), 1).over(w))
        .withColumn("fut_ret", lead(col("ret"), 1).over(w))
        .filter(col("fut_ret").isNotNull && col("oi").isNotNull &&
          col("mom").isNotNull)
      val fit = Regression.olsByGroup(panel, "fut_ret",
        Seq("oi", "f1", "f2", "mom"), Nil).head
      import s.implicits._
      Seq((micro(fit.intercept), micro(fit.coefs(0)), micro(fit.coefs(1)),
        micro(fit.coefs(2)), micro(fit.coefs(3)), fit.n))
        .toDF("b0_micro", "b_oi_micro", "b_f1_micro", "b_f2_micro",
          "b_mom_micro", "n")
    },
      s"""WITH e AS ($EventsNs),
         |daily AS (
         |  SELECT user_id, ts_ns // ${DAY} AS day,
         |    SUM(($Side) * value) AS ret, SUM(value) AS vsum
         |  FROM e GROUP BY 1, 2),
         |p0 AS (
         |  SELECT user_id, day, ret,
         |    ret / NULLIF(vsum, 0) AS oi,
         |    ((day % 5) - 2) / 10.0 AS f1,
         |    ((day % 7) - 3) / 100.0 AS f2,
         |    LAG(ret) OVER w AS mom,
         |    LEAD(ret) OVER w AS fut_ret
         |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         |p AS (SELECT * FROM p0
         |  WHERE fut_ret IS NOT NULL AND oi IS NOT NULL AND mom IS NOT NULL),
         |g AS (
         |  SELECT COUNT(*)::DOUBLE AS m00,
         |    SUM(oi) AS m01, SUM(f1) AS m02, SUM(f2) AS m03, SUM(mom) AS m04,
         |    SUM(oi*oi) AS m11, SUM(oi*f1) AS m12, SUM(oi*f2) AS m13,
         |    SUM(oi*mom) AS m14, SUM(f1*f1) AS m22, SUM(f1*f2) AS m23,
         |    SUM(f1*mom) AS m24, SUM(f2*f2) AS m33, SUM(f2*mom) AS m34,
         |    SUM(mom*mom) AS m44,
         |    SUM(fut_ret) AS r0, SUM(oi*fut_ret) AS r1, SUM(f1*fut_ret) AS r2,
         |    SUM(f2*fut_ret) AS r3, SUM(mom*fut_ret) AS r4,
         |    COUNT(*) AS n
         |  FROM p)
         |SELECT
         |  ${R6(s"(${m5FullNum(0)}) / (${sqlDet(M5FullXtX)})")} AS b0_micro,
         |  ${R6(s"(${m5FullNum(1)}) / (${sqlDet(M5FullXtX)})")} AS b_oi_micro,
         |  ${R6(s"(${m5FullNum(2)}) / (${sqlDet(M5FullXtX)})")} AS b_f1_micro,
         |  ${R6(s"(${m5FullNum(3)}) / (${sqlDet(M5FullXtX)})")} AS b_f2_micro,
         |  ${R6(s"(${m5FullNum(4)}) / (${sqlDet(M5FullXtX)})")} AS b_mom_micro,
         |  CAST(n AS BIGINT) AS n
         |FROM g""".stripMargin),

    // --- P7: NaN/±inf scrub (chunk_pipeline.py:325-326 semantics: bad
    //     values -> 0.0; dirt synthesized deterministically) ---
    Gate("q_p7_scrub", (s, dir) => {
      val dirty = eventsNs(s, dir).withColumn("v",
        when(col("event_id") % 101 === 0, lit(Double.NaN))
          .when(col("event_id") % 103 === 0, lit(Double.PositiveInfinity))
          .when(col("event_id") % 107 === 0, lit(Double.NegativeInfinity))
          .otherwise(col("value")))
      val flagged = dirty.withColumn("bad",
        isnan(col("v")) || abs(col("v")) === Double.PositiveInfinity)
      flagged
        .withColumn("v",
          when(col("bad"), 0.0).otherwise(coalesce(col("v"), lit(0.0))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_scrubbed"),
          moneySum(col("v")).as("sum_clean"))
    },
      s"""WITH e AS ($EventsNs),
         |dirty AS (
         |  SELECT event_type,
         |    CASE WHEN event_id % 101 = 0 THEN 'NaN'::DOUBLE
         |         WHEN event_id % 103 = 0 THEN 'Infinity'::DOUBLE
         |         WHEN event_id % 107 = 0 THEN '-Infinity'::DOUBLE
         |         ELSE value END AS v
         |  FROM e),
         |flagged AS (
         |  SELECT event_type,
         |    isnan(v) OR abs(v) = 'Infinity'::DOUBLE AS bad, v
         |  FROM dirty)
         |SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
         |  ${MoneySum("CASE WHEN bad THEN 0.0 ELSE COALESCE(v, 0.0) END")} AS sum_clean
         |FROM flagged GROUP BY 1""".stripMargin),

    // --- P9: month-cutoff filter: keep calendar months (UTC) up to the
    //     midpoint of the observed range — a real filter at sf>=0.01 and
    //     still non-degenerate when one month spans the whole SF ---
    Gate("q_p9_month_cutoff", (s, dir) => {
      val t = eventsNs(s, dir)
        // integer µs division (double division would round ns near 2^53)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("y", year(timestamp_micros(col("ts_us"))).cast("long"))
        .withColumn("m", month(timestamp_micros(col("ts_us"))).cast("long"))
        .withColumn("ym", col("y") * 12 + col("m"))
      val mx = t.agg(expr("(min(ym) + max(ym)) div 2").as("ym_cut"))
      t.crossJoin(broadcast(mx))
        .filter(col("ym") <= col("ym_cut"))
        .groupBy(col("y"), col("m"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
    },
      s"""WITH e AS ($EventsNs),
         |t AS (
         |  SELECT CAST(year(make_timestamp(ts_ns // 1000)) AS BIGINT) AS y,
         |    CAST(month(make_timestamp(ts_ns // 1000)) AS BIGINT) AS m,
         |    value
         |  FROM e),
         |mx AS (SELECT (MIN(y * 12 + m) + MAX(y * 12 + m)) // 2 AS ym_cut
         |  FROM t)
         |SELECT y, m, COUNT(*) AS n, ${MoneySum("value")} AS sum_value
         |FROM t, mx WHERE y * 12 + m <= ym_cut
         |GROUP BY 1, 2""".stripMargin),

    // --- J4: binned-panel equi-join — per-user bin OI joined to the
    //     all-users (market) bin OI at the same delta (Oi.scala J4 shape).
    //     Decimal sums inside the ratio: exact, order-independent ---
    Gate("q_j4_binned_panel", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), H * 6))
      def oi(df: DataFrame, keys: Seq[Column], name: String): DataFrame = {
        val num = sum((side(col("event_type")) * col("value"))
          .cast("decimal(18,4)")).cast("double")
        val den = sum(col("value").cast("decimal(18,4)")).cast("double")
        df.groupBy(keys: _*)
          .agg((num / when(den =!= 0.0, den)).as(name))
      }
      val user = oi(ev, Seq(col("bin_ns"), col("user_id")), "user_oi")
      val mkt = oi(ev, Seq(col("bin_ns")), "mkt_oi")
      user.join(mkt, Seq("bin_ns"))
        .select(col("bin_ns"), col("user_id"),
          r6(col("user_oi")).as("user_oi_micro"),
          r6(col("mkt_oi")).as("mkt_oi_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |b AS (SELECT ${FloorNs("ts_ns", H * 6)} AS bin_ns, user_id,
         |  event_type, value FROM e),
         |u AS (
         |  SELECT bin_ns, user_id,
         |    CAST(SUM(CAST(($Side) * value AS DECIMAL(18,4))) AS DOUBLE) /
         |      NULLIF(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 0) AS user_oi
         |  FROM b GROUP BY 1, 2),
         |m AS (
         |  SELECT bin_ns,
         |    CAST(SUM(CAST(($Side) * value AS DECIMAL(18,4))) AS DOUBLE) /
         |      NULLIF(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 0) AS mkt_oi
         |  FROM b GROUP BY 1)
         |SELECT u.bin_ns, u.user_id, ${R6("user_oi")} AS user_oi_micro,
         |  ${R6("mkt_oi")} AS mkt_oi_micro
         |FROM u JOIN m ON u.bin_ns = m.bin_ns""".stripMargin),

    // --- A15: incremental OLS moments — olsByGroup's one-pass power-sum
    //     accumulation per group; oracle solves the same closed form ---
    Gate("q_a15_inc_ols", (s, dir) => {
      val input = eventsNs(s, dir).withColumn("x",
        (col("ts_ns") % lit(86400L * 1000000000L)).cast("double") / lit(1e9))
      val fits = Regression.olsByGroup(input, "value", Seq("x"),
        Seq("event_type"))
      import s.implicits._
      fits.map(f => (f.group(0).asInstanceOf[String], micro(f.coefs(0)),
          micro(f.intercept), f.n))
        .toDF("event_type", "slope_micro", "icept_micro", "n")
    },
      s"""WITH e AS ($EventsNs),
         |t AS (SELECT event_type, value,
         |  (ts_ns % ${86400L * 1000000000L})::DOUBLE / 1e9 AS x FROM e),
         |g AS (
         |  SELECT event_type, COUNT(*)::DOUBLE AS n, SUM(x) AS sx,
         |    SUM(value) AS sy, SUM(x*x) AS sxx, SUM(x*value) AS sxy
         |  FROM t GROUP BY 1),
         |b AS (SELECT *, (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope FROM g)
         |SELECT event_type, ${R6("slope")} AS slope_micro,
         |  ${R6("(sy - slope*sx) / n")} AS icept_micro,
         |  CAST(n AS BIGINT) AS n
         |FROM b""".stripMargin),

    // --- M13: per-row regression diagnostics (leverage, standardized
    //     residual, Cook's D; order_imbalance.py:603-670). The fit scalars
    //     are computed with the SAME closed-form arithmetic as the oracle
    //     (shared-bit inputs), then Regression.diagnostics does the
    //     distributed per-row pass ---
    Gate("q_m13_diagnostics", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val g = li.agg(count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * x).as("sxx"),
        sum(x * y).as("sxy"), sum(y * y).as("syy")).collect()(0)
      val (n, sx, sy, sxx, sxy, syy) = (g.getDouble(0), g.getDouble(1),
        g.getDouble(2), g.getDouble(3), g.getDouble(4), g.getDouble(5))
      // identical op order to the oracle SQL (bit-equal given equal sums)
      val slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
      val icept = (sy - slope * sx) / n
      val det = n * sxx - sx * sx
      val sigma2 = (syy - icept * sy - slope * sxy) / (n - 2)
      val fit = Regression.OlsFit(Nil, icept, Array(slope), Array.empty,
        Double.NaN, Double.NaN, Double.NaN, n.toLong,
        xtxInv = Array(sxx / det, -sx / det, -sx / det, n / det),
        sigma2 = sigma2)
      Regression.diagnostics(li, "l_extendedprice", Seq("l_quantity"), fit)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          r6(col("residual")).as("residual_micro"),
          r6(col("leverage") * 1e3).as("leverage_milli_micro"),
          r6(col("std_residual")).as("std_resid_micro"),
          r6(col("cooks_d") * 1e3).as("cooks_milli_micro"))
    },
      s"""WITH g AS (
         |  SELECT COUNT(*)::DOUBLE AS n, SUM(l_quantity) AS sx,
         |    SUM(l_extendedprice) AS sy, SUM(l_quantity*l_quantity) AS sxx,
         |    SUM(l_quantity*l_extendedprice) AS sxy,
         |    SUM(l_extendedprice*l_extendedprice) AS syy
         |  FROM lineitem),
         |f AS (SELECT *, (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope,
         |  n*sxx - sx*sx AS det FROM g),
         |i AS (SELECT *, (sy - slope*sx) / n AS icept FROM f),
         |s AS (SELECT *, (syy - icept*sy - slope*sxy) / (n - 2) AS sigma2
         |  FROM i),
         |d AS (
         |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |    l_extendedprice - (icept + (l_quantity * slope)) AS residual,
         |    ((sxx/det + (l_quantity * (-sx/det))) + (l_quantity * (-sx/det)))
         |      + ((l_quantity * l_quantity) * (n/det)) AS leverage,
         |    sigma2
         |  FROM lineitem, s)
         |SELECT l_orderkey, l_linenumber,
         |  ${R6("residual")} AS residual_micro,
         |  ${R6("leverage * 1e3")} AS leverage_milli_micro,
         |  ${R6("residual / sqrt(sigma2 * (1.0 - leverage))")} AS std_resid_micro,
         |  ${R6("(residual * residual * leverage / (((2 * sigma2) * (1.0 - leverage)) * (1.0 - leverage))) * 1e3")} AS cooks_milli_micro
         |FROM d""".stripMargin),

    // --- W9 PACF: Durbin-Levinson on the per-series ACF vector
    //     (Stats.pacfFromAcf, driver-side over 150 tiny rows); the oracle
    //     spells the k=2 recursion closed-form ---
    Gate("q_w9_pacf", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      val withLags = eventsNs(s, dir).select(col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("l1"),
        lag(col("value"), 2).over(w).as("l2"))
      val acfs = withLags.groupBy(col("user_id")).agg(
        corr(col("value"), col("l1")).as("acf1"),
        corr(col("value"), col("l2")).as("acf2")).collect()
      def microOpt(v: Double): Option[Long] = Option.when(!v.isNaN)(micro(v))
      import s.implicits._
      acfs.toSeq.map { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) (r.getLong(0), None, None)
        else {
          val p = Stats.pacfFromAcf(Seq(r.getDouble(1), r.getDouble(2)))
          (r.getLong(0), microOpt(p(0)), microOpt(p(1)))
        }
      }.toDF("user_id", "pacf1_micro", "pacf2_micro")
    },
      s"""WITH e AS ($EventsNs),
         |l AS (SELECT user_id, value,
         |  LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
         |a AS (SELECT user_id, corr(value, l1) AS acf1, corr(value, l2) AS acf2
         |  FROM l GROUP BY 1)
         |SELECT user_id, ${R6("acf1")} AS pacf1_micro,
         |  ${R6("CASE WHEN (1.0 - acf1*acf1) = 0 THEN 0.0 ELSE (acf2 - acf1*acf1) / (1.0 - acf1*acf1) END")} AS pacf2_micro
         |FROM a""".stripMargin),

    // --- S6 + market-excess returns: per-user bin panel vs the all-users
    //     ("SPY") bin panel through Returns.addLogReturns +
    //     Returns.addExcessVsSpy ---
    Gate("q_s6_excess_vs_spy", (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("bin_ns", TimeBins.floorNs(col("ts_ns"), H * 6))
      def binPanel(df: DataFrame, keys: Seq[Column]): DataFrame =
        df.groupBy(keys: _*).agg(
          min_by(col("value"), struct(col("ts_ns"), col("event_id")))
            .as("first_midprice"),
          max_by(col("value"), struct(col("ts_ns"), col("event_id")))
            .as("last_midprice"))
      val user = binPanel(ev, Seq(col("user_id"), col("bin_ns")))
        .withColumn("ticker", col("user_id"))
        .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
      val spy = binPanel(ev, Seq(col("bin_ns")))
      val panel = graft.domain.Returns.addLogReturns(user)
      graft.domain.Returns.addExcessVsSpy(panel, spy)
        .select(col("user_id"), col("bin_ns"),
          r6(col("log_ret")).as("log_ret_micro"),
          r6(col("excess_ret")).as("excess_micro"),
          r6(col("fut_excess_ret")).as("fut_excess_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |b AS (SELECT user_id, ${FloorNs("ts_ns", H * 6)} AS bin_ns, ts_ns,
         |  event_id, value FROM e),
         |rn AS (SELECT user_id, bin_ns, value,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, bin_ns
         |    ORDER BY ts_ns, event_id) AS ra,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, bin_ns
         |    ORDER BY ts_ns DESC, event_id DESC) AS rd
         |  FROM b),
         |u AS (SELECT user_id, bin_ns,
         |  MAX(CASE WHEN ra = 1 THEN value END) AS fm,
         |  MAX(CASE WHEN rd = 1 THEN value END) AS lm
         |  FROM rn GROUP BY 1, 2),
         |srn AS (SELECT bin_ns, value,
         |  ROW_NUMBER() OVER (PARTITION BY bin_ns ORDER BY ts_ns, event_id) AS ra,
         |  ROW_NUMBER() OVER (PARTITION BY bin_ns
         |    ORDER BY ts_ns DESC, event_id DESC) AS rd
         |  FROM b),
         |sp AS (SELECT bin_ns,
         |  MAX(CASE WHEN ra = 1 THEN value END) AS sfm,
         |  MAX(CASE WHEN rd = 1 THEN value END) AS slm
         |  FROM srn GROUP BY 1),
         |p AS (SELECT user_id, u.bin_ns AS bin_ns,
         |  CASE WHEN fm > 0 AND lm > 0 THEN ln(lm / fm) END AS log_ret,
         |  CASE WHEN sfm > 0 AND slm > 0 THEN ln(slm / sfm) END AS spy_ret
         |  FROM u JOIN sp ON u.bin_ns = sp.bin_ns),
         |x AS (SELECT user_id, bin_ns, log_ret,
         |  log_ret - spy_ret AS excess_ret FROM p)
         |SELECT user_id, bin_ns, ${R6("log_ret")} AS log_ret_micro,
         |  ${R6("excess_ret")} AS excess_micro,
         |  ${R6("LEAD(excess_ret) OVER (PARTITION BY user_id ORDER BY bin_ns)")} AS fut_excess_micro
         |FROM x""".stripMargin),

    // --- P1: rename / assign (column projection algebra) ---
    Gate("q_p1_rename", (s, dir) => {
      eventsNs(s, dir)
        .withColumnRenamed("event_id", "id")
        .withColumn("value_x2", col("value") * 2.0)
        .select(col("id"), col("user_id"), col("value_x2"))
    },
      s"""WITH e AS ($EventsNs)
         |SELECT event_id AS id, user_id, value * 2.0 AS value_x2
         |FROM e""".stripMargin),

    // --- S7: daily-bars ClOp/ClCl composition (Returns.addClOp) — bars
    //     synthesized as per-(user, day) open/close from the event stream ---
    Gate("q_s7_clop", (s, dir) => {
      val ev = eventsNs(s, dir).withColumn("day", expr(s"ts_ns div $DAY"))
      val bars = ev.groupBy(col("user_id"), col("day")).agg(
          min_by(col("value"), struct(col("ts_ns"), col("event_id")))
            .as("open"),
          max_by(col("value"), struct(col("ts_ns"), col("event_id")))
            .as("close"))
        .select(col("user_id").as("ticker"), col("day").as("date"),
          col("open"), col("close"))
      val panel = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ticker", col("user_id"))
        .withColumn("date", col("day"))
      graft.domain.Returns.addClOp(panel, bars)
        .select(col("user_id"), col("day"), col("n"),
          r6(col("ClOp")).as("clop_micro"),
          r6(col("ClCl")).as("clcl_micro"),
          r6(col("fut_ClOp")).as("fut_clop_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |d AS (SELECT user_id, ts_ns // ${DAY} AS day, ts_ns, event_id,
         |  value FROM e),
         |rn AS (SELECT user_id, day, value,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, day
         |    ORDER BY ts_ns, event_id) AS ra,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, day
         |    ORDER BY ts_ns DESC, event_id DESC) AS rd
         |  FROM d),
         |bars AS (SELECT user_id, day,
         |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
         |  MAX(CASE WHEN rd = 1 THEN value END) AS close
         |  FROM rn GROUP BY 1, 2),
         |w AS (SELECT user_id, day, open, close,
         |  LAG(close) OVER (PARTITION BY user_id ORDER BY day) AS prev_close
         |  FROM bars),
         |c AS (SELECT user_id, day,
         |  CASE WHEN prev_close > 0 THEN ln(open / prev_close) END AS clop,
         |  CASE WHEN prev_close > 0 THEN ln(close / prev_close) END AS clcl
         |  FROM w),
         |c2 AS (SELECT *, LEAD(clop) OVER (PARTITION BY user_id
         |  ORDER BY day) AS fut_clop FROM c),
         |n AS (SELECT user_id, day, COUNT(*) AS n FROM d GROUP BY 1, 2)
         |SELECT n.user_id, n.day, n.n, ${R6("clop")} AS clop_micro,
         |  ${R6("clcl")} AS clcl_micro, ${R6("fut_clop")} AS fut_clop_micro
         |FROM n JOIN c2 ON n.user_id = c2.user_id AND n.day = c2.day""".stripMargin),

    // --- P6 sibling: winsorization (clip at exact percentiles, keep all
    //     rows — the outlier treatment bandFilter's drop variant implies) ---
    Gate("q_winsorize", (s, dir) => {
      val e = eventsNs(s, dir)
      Quantiles.winsorize(e, "value", 0.05, 0.95, outCol = "value_w")
        .select(col("event_id"), r6(col("value_w")).as("value_w_micro"))
    },
      s"""WITH e AS ($EventsNs),
         |b AS (SELECT quantile_cont(value, 0.05) AS lo,
         |  quantile_cont(value, 0.95) AS hi FROM e)
         |SELECT event_id,
         |  ${R6("LEAST(GREATEST(value, lo), hi)")} AS value_w_micro
         |FROM e, b""".stripMargin),

    // --- robust outlier tagging: per-type median/MAD modified z —
    //     the heavy-tail-safe scrub (two grouped aggs + broadcast
    //     stats joins; flag is a single-multiply bit-portable cut) ---
    Gate("q_mad_outliers", (s, dir) => {
      Quantiles.madOutliers(eventsNs(s, dir), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          r6(col("group_median")).as("med_micro"),
          r6(col("group_mad")).as("mad_micro"),
          r6(col("robust_z")).as("robust_z_micro"),
          col("is_outlier"))
    },
      // median/MAD outliers: same single-multiply threshold constant as
      // the Spark face (3.5 / 0.6745 precomputed in ONE double), so the
      // flag decision is bit-identical cross-engine
      s"""WITH e AS ($EventsNs),
         |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM e GROUP BY 1),
         |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
         |    abs(e.value - m.med) AS ad
         |  FROM e JOIN m USING (event_type)),
         |s AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
         |  FROM d GROUP BY 1)
         |SELECT d.event_id, d.event_type,
         |  ${R6("d.med")} AS med_micro,
         |  ${R6("s.mad")} AS mad_micro,
         |  ${R6("CASE WHEN s.mad > 0.0 THEN 0.6745 * (d.value - d.med) / s.mad END")} AS robust_z_micro,
         |  d.ad > ${3.5 / 0.6745} * s.mad AS is_outlier
         |FROM d JOIN s USING (event_type)""".stripMargin),
  )
}
