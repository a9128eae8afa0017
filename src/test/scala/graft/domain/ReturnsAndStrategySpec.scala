package graft.domain

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ReturnsAndStrategySpec extends SparkSpec {

  private def panel() = df(
    "ticker STRING, date DATE, bin_ns BIGINT, first_midprice DOUBLE, " +
      "last_midprice DOUBLE, oi DOUBLE",
    Row("T", java.sql.Date.valueOf("2024-01-15"), 1000L, 100.0, 101.0, 0.5),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 2000L, 101.0, 99.0, -0.2),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 3000L, 99.0, 100.0, 0.1))

  test("addLogReturns: in-bin log return + future shift") {
    val out = Returns.addLogReturns(panel()).orderBy(col("bin_ns"))
      .select(col("log_ret"), col("fut_log_ret")).collect()
    assertApprox(out(0).getDouble(0), math.log(101.0 / 100.0))
    assertApprox(out(0).getDouble(1), math.log(99.0 / 101.0))
    assert(out(2).isNullAt(1)) // last bin has no future
  }

  test("addExcessVsSpy subtracts the SPY bin return") {
    val spy = df("bin_ns BIGINT, first_midprice DOUBLE, last_midprice DOUBLE",
      Row(1000L, 500.0, 505.0), Row(2000L, 505.0, 500.0))
    val out = Returns.addExcessVsSpy(
      Returns.addLogReturns(panel()), spy).orderBy(col("bin_ns"))
      .select(col("excess_ret")).collect()
    assertApprox(out(0).getDouble(0),
      math.log(1.01) - math.log(505.0 / 500.0))
    // missing SPY bin (3000) -> market return unknown -> excess is null
    // (reference pandas alignment yields NaN, dropping the row downstream)
    assert(out(2).isNullAt(0))
  }

  test("addClOp: close-to-open vs previous close") {
    val p = df("ticker STRING, date DATE, x DOUBLE",
      Row("T", java.sql.Date.valueOf("2024-01-16"), 1.0))
    val bars = df("ticker STRING, date DATE, open DOUBLE, close DOUBLE",
      Row("T", java.sql.Date.valueOf("2024-01-15"), 100.0, 102.0),
      Row("T", java.sql.Date.valueOf("2024-01-16"), 103.0, 104.0))
    val out = Returns.addClOp(p, bars).collect()(0)
    assertApprox(out.getAs[Double]("ClOp"), math.log(103.0 / 102.0))
    assertApprox(out.getAs[Double]("ClCl"), math.log(104.0 / 102.0))
  }

  test("linearSignal: intercept + beta.x from params row") {
    val params = df("ticker STRING, intercept DOUBLE, b_oi DOUBLE",
      Row("T", 0.01, 2.0))
    val out = Strategy.linearSignal(panel(), params, Map("oi" -> "b_oi"))
      .orderBy(col("bin_ns")).select(col("signal")).collect()
    assertApprox(out(0).getDouble(0), 0.01 + 2.0 * 0.5)
    assertApprox(out(1).getDouble(0), 0.01 + 2.0 * -0.2)
  }

  test("portfolio: rank, sign agreement, long-short PnL") {
    // one bin, 4 tickers; pct .25 -> k=1: top = A (sig 3>0), bottom = D (-2<0)
    val sig = df("bin_ns BIGINT, ticker STRING, signal DOUBLE, fut_log_ret DOUBLE",
      Row(1L, "A", 3.0, 0.02), Row(1L, "B", 1.0, 0.01),
      Row(1L, "C", -1.0, 0.00), Row(1L, "D", -2.0, -0.03))
    val (pnl, picks) = Strategy.portfolio(sig, 0.25)
    val p = pnl.collect()(0)
    assertApprox(p.getAs[Double]("top_pnl"), 0.02)
    assertApprox(p.getAs[Double]("bottom_pnl"), -0.03)
    assertApprox(p.getAs[Double]("pnl"), 0.05)
    val pk = picks.collect().map(r => r.getAs[String]("ticker") ->
      r.getAs[Int]("side")).toMap
    assert(pk == Map("A" -> 1, "D" -> -1))
  }

  test("portfolio: sign-agreement veto drops wrong-sign picks") {
    // all signals negative: top pick has signal < 0 -> no top positions
    val sig = df("bin_ns BIGINT, ticker STRING, signal DOUBLE, fut_log_ret DOUBLE",
      Row(1L, "A", -0.5, 0.02), Row(1L, "B", -1.0, 0.01),
      Row(1L, "C", -2.0, 0.00), Row(1L, "D", -3.0, -0.03))
    val (pnl, _) = Strategy.portfolio(sig, 0.25)
    val p = pnl.collect()(0)
    assert(p.getAs[Long]("n_top") == 0L)
    assert(p.getAs[Long]("n_bottom") == 1L)
  }

  test("rollingRefitSignals: refits on lookback window, predicts day") {
    // panel with y = 2*x exactly; signal should equal 2*x on predicted days
    val rows = (0 until 4).flatMap { d =>
      (1 to 5).map { i =>
        Row("T", java.sql.Date.valueOf(s"2024-01-1${d + 1}"), i.toLong,
          i.toDouble, 2.0 * i)
      }
    }
    val p = df("ticker STRING, date DATE, bin_ns BIGINT, x DOUBLE, y DOUBLE",
      rows: _*)
    val out = Strategy.rollingRefitSignals(p, "y", Seq("x"), lookback = 2)
    // days 3 and 4 predicted
    assert(out.select(col("date")).distinct().count() == 2)
    val r = out.filter(col("date") === "2024-01-13" && col("bin_ns") === 3L)
      .select(col("signal")).collect()(0).getDouble(0)
    assertApprox(r, 6.0, 1e-8)
  }

  test("rollingRefitSignals: a constant-regressor trailing window gives " +
    "a NULL signal") {
    // x = 1 on days 1-2, so day 3's 2-day window has a singular X'X;
    // day 4's window (days 2-3) varies and fits y = 2x exactly
    val rows = (1 to 4).flatMap { d =>
      (1 to 3).map { i =>
        val x = if (d <= 2) 1.0 else i.toDouble
        Row("T", java.sql.Date.valueOf(s"2024-01-1$d"), i.toLong, x, 2.0 * x)
      }
    }
    val p = df("ticker STRING, date DATE, bin_ns BIGINT, x DOUBLE, y DOUBLE",
      rows: _*)
    val out = Strategy.rollingRefitSignals(p, "y", Seq("x"), lookback = 2)
      .select(col("date").cast("string"), col("bin_ns"), col("signal"))
      .collect()
    val day3 = out.filter(_.getString(0) == "2024-01-13")
    assert(day3.length == 3 && day3.forall(_.isNullAt(2)))
    val day4 = out.filter(_.getString(0) == "2024-01-14")
    assert(day4.length == 3)
    day4.foreach(r => assertApprox(r.getDouble(2), 2.0 * r.getLong(1), 1e-9))
  }

  test("rollingRefitSignals: distributed power-sum form equals the " +
    "per-day refit loop (k=2, multi-ticker EP2 fixture)") {
    import graft.operators.Regression
    val rng = new scala.util.Random(7)
    val rows = for {
      d <- 10 to 17
      t <- Seq("A", "B", "C", "D")
      b <- 1 to 3
    } yield Row(t, java.sql.Date.valueOf(s"2024-01-$d"), b.toLong,
      rng.nextDouble() * 2 - 1, rng.nextDouble(),
      rng.nextGaussian() * 0.01)
    val p = df("ticker STRING, date DATE, bin_ns BIGINT, x1 DOUBLE, " +
      "x2 DOUBLE, y DOUBLE", rows: _*)
    val lookback = 3
    // reference implementation: the driver day-loop this operator replaced
    val days = p.select(col("date")).distinct().orderBy(col("date"))
      .collect().map(_.getDate(0))
    val expected = days.zipWithIndex.drop(lookback).flatMap { case (d, i) =>
      val trainDays = days.slice(i - lookback, i)
      val train = p.filter(col("date").isin(trainDays.map(_.toString): _*))
      val fit = Regression.olsByGroup(train, "y", Seq("x1", "x2"), Nil).head
      p.filter(col("date") === lit(d.toString))
        .select(col("ticker"), col("date"), col("bin_ns"), col("x1"), col("x2"))
        .collect().map { r =>
          (r.getString(0), r.getDate(1).toString, r.getLong(2)) ->
            (fit.intercept + fit.coefs(0) * r.getDouble(3) +
              fit.coefs(1) * r.getDouble(4))
        }
    }.toMap
    val got = Strategy.rollingRefitSignals(p, "y", Seq("x1", "x2"), lookback)
      .select(col("ticker"), col("date").cast("string"), col("bin_ns"),
        col("signal"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (key, s) =>
      assert(math.abs(s - expected(key)) < 1e-9, s"$key: $s vs ${expected(key)}")
    }
  }

  test("trailingTopPerformers: top-N by trailing PnL, exclusive window, " +
    "hand-computed fixture") {
    // ticker daily PnL over 5 days; lookback 2, top 1:
    //   A: 1, 1, 1, 1, 1     trailing(d3)=2, (d4)=2, (d5)=2
    //   B: 0, 3, 0, 3, 0     trailing(d3)=3, (d4)=3, (d5)=3
    //   C: 4, 0, 0, 0, 9     trailing(d3)=4, (d4)=0, (d5)=0
    // winners: d3 -> C (4), d4 -> B (3), d5 -> B (3); C's day-5 PnL spike
    // must NOT leak into day 5's selection (exclusive window)
    val pnls = Map("A" -> Seq(1.0, 1.0, 1.0, 1.0, 1.0),
      "B" -> Seq(0.0, 3.0, 0.0, 3.0, 0.0),
      "C" -> Seq(4.0, 0.0, 0.0, 0.0, 9.0))
    val rows = for {
      (t, ps) <- pnls.toSeq; (p, i) <- ps.zipWithIndex
    } yield Row(t, java.sql.Date.valueOf(s"2024-03-0${i + 1}"), p)
    val d = df("ticker STRING, date DATE, pnl DOUBLE", rows: _*)
    val out = Strategy.trailingTopPerformers(d, lookback = 2, n = 1)
      .select(col("date").cast("string"), col("ticker"),
        col("trailing_pnl"), col("rank"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(out == Map(
      "2024-03-03" -> (("C", 4.0)),
      "2024-03-04" -> (("B", 3.0)),
      "2024-03-05" -> (("B", 3.0))))
  }

  test("trailingTopPerformers: a null PnL day is a skipped observation, " +
    "not a universe ejection") {
    // B's day-2 PnL is null; at day 3 its 2-row window is still FULL, so
    // B stays in the ranking with trailing = 3.0 (null contributes 0) and
    // beats A's 2.0 — a count(pnlCol) window would have ejected B
    val rows = Seq(
      Row("A", java.sql.Date.valueOf("2024-03-01"), 1.0),
      Row("A", java.sql.Date.valueOf("2024-03-02"), 1.0),
      Row("A", java.sql.Date.valueOf("2024-03-03"), 1.0),
      Row("B", java.sql.Date.valueOf("2024-03-01"), 3.0),
      Row("B", java.sql.Date.valueOf("2024-03-02"), null),
      Row("B", java.sql.Date.valueOf("2024-03-03"), 0.0))
    val d = df("ticker STRING, date DATE, pnl DOUBLE", rows: _*)
    val out = Strategy.trailingTopPerformers(d, lookback = 2, n = 1)
      .select(col("ticker"), col("trailing_pnl")).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "B" && out.head.getDouble(1) == 3.0)
  }

  test("strategyStats: sharpe + p-value per group") {
    val pnl = df("g STRING, pnl DOUBLE",
      (1 to 30).map(i => Row("s1", 0.01 + 0.001 * (i % 5))): _*)
    val out = Strategy.strategyStats(pnl, Seq("g")).collect()(0)
    assert(out.getAs[Double]("sharpe") > 0)
    assert(out.getAs[Double]("p_value") >= 0 &&
      out.getAs[Double]("p_value") <= 1)
    assertApprox(out.getAs[Double]("total_pnl"),
      (1 to 30).map(i => 0.01 + 0.001 * (i % 5)).sum, 1e-9)
  }

  test("betSizedPnl normalizes by median dollar volume") {
    val pnl = df("ticker STRING, pnl DOUBLE", Row("T", 100.0))
    val bars = df("ticker STRING, date DATE, open DOUBLE, close DOUBLE, volume BIGINT",
      Row("T", java.sql.Date.valueOf("2024-01-15"), 0.0, 10.0, 1000L),
      Row("T", java.sql.Date.valueOf("2024-01-16"), 0.0, 20.0, 1000L),
      Row("T", java.sql.Date.valueOf("2024-01-17"), 0.0, 30.0, 1000L))
    val out = Strategy.betSizedPnl(pnl, bars).collect()(0)
    // median dollar vol = 20000; bet = 20 -> ppd = 5
    assertApprox(out.getAs[Double]("ppd"), 5.0)
  }
}
