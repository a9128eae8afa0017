package graft.domain

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fixtures.LobsterFixture

class OiSpec extends SparkSpec {

  private lazy val day = Features.addMicrostructure(
    LobsterFixture.preppedDay(spark))
    .withColumn("pred_prob",
      when(col("direction") === -1, 0.25).otherwise(0.75))
    .cache()

  private val M5 = 5L * 60 * 1000000000L

  test("iceberg tag: boundary triplet — 0.5ms and exactly-1ms tagged, 1.2ms not") {
    val tagged = Oi.tagIcebergs(LobsterFixture.preppedDay(spark))
    val base = 11 * 3600.0
    val at11 = tagged.filter(col("time_s").isin(base, base + 10.0,
        base + 20.0))
      .orderBy(col("seq")).select(col("iceberg")).collect()
      .map(_.getInt(0))
    assert(at11.sameElements(Array(1, 1, 0)),
      s"expected [1,1,0] got [${at11.mkString(",")}]")
  }

  test("vis panel: OI in [-1,1], first/last midprice ordered by seq") {
    val p = Oi.panel(day, M5, "vis")
    val ois = p.select(col("order_imbalance_vis")).collect()
      .filterNot(_.isNullAt(0)).map(_.getDouble(0))
    assert(ois.nonEmpty)
    assert(ois.forall(v => v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12))
    // cross-check one bin by hand
    val bin = p.orderBy(col("bin_ns")).limit(1).collect()(0)
    val binNs = bin.getLong(2)
    val evs = day.filter(col("event_type") === 4)
      .withColumn("b", Oi.binNs(M5)).filter(col("b") === binNs)
      .orderBy(col("seq"))
      .select(col("direction"), col("size").cast("double"), col("midprice"))
      .collect()
    val buy = evs.filter(_.getInt(0) == -1).map(_.getDouble(1)).sum
    val sell = evs.filter(_.getInt(0) == 1).map(_.getDouble(1)).sum
    val expect = (buy - sell) / (buy + sell)
    assertApprox(bin.getAs[Double]("order_imbalance_vis"), expect, 1e-9)
    assertApprox(bin.getAs[Double]("first_midprice"),
      evs.head.getDouble(2), 1e-9)
    assertApprox(bin.getAs[Double]("last_midprice"),
      evs.last.getDouble(2), 1e-9)
  }

  test("hid panel: weighted OI matches direct computation") {
    val p = Oi.panel(day, M5, "hid")
    val bin = p.filter(col("order_imbalance_hid").isNotNull)
      .orderBy(col("bin_ns")).limit(1).collect()(0)
    val binNs = bin.getLong(2)
    val evs = day.filter(col("event_type") === 5)
      .withColumn("b", Oi.binNs(M5)).filter(col("b") === binNs)
      .select(col("size").cast("double"), col("pred_prob")).collect()
    val num = evs.map(r => r.getDouble(0) * (1 - 2 * r.getDouble(1))).sum
    val den = evs.map(_.getDouble(0)).sum
    assertApprox(bin.getAs[Double]("order_imbalance_hid"), num / den, 1e-9)
  }

  test("all panel forces visible rows to prob 0/1") {
    val p = Oi.panel(day, 0L, "all") // daily: one row
    assert(p.count() == 1)
    val v = p.collect()(0).getAs[Double]("order_imbalance_all")
    assert(v >= -1.0 && v <= 1.0)
  }

  test("size panel: tercile buckets produce three OI columns") {
    val p = Oi.panel(day, 0L, "size").collect()(0)
    Seq("order_imbalance_small", "order_imbalance_medium",
      "order_imbalance_large").foreach { c =>
      val v = p.getAs[Double](c)
      assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12, s"$c = $v")
    }
  }

  test("agg panel: aggressiveness buckets from pred_dir x agg_ratio") {
    val withDir = day.withColumn("pred_dir",
      when(col("direction") === -1, -1).otherwise(1))
    val p = Oi.panel(withDir, 0L, "agg").collect()(0)
    Seq("order_imbalance_agg_low", "order_imbalance_agg_mid",
      "order_imbalance_agg_high").foreach { c =>
      val i = p.fieldIndex(c)
      if (!p.isNullAt(i)) {
        val v = p.getDouble(i)
        assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12, s"$c = $v")
      }
    }
    // fixture engineers hidden execs at bid (ratio 0), inside (0.5), and
    // above ask (>1) — low/mid/high are all populated for some pred_dir
    val withB = Features.addMicrostructure(
      graft.fixtures.LobsterFixture.preppedDay(spark))
      .withColumn("pred_dir", when(col("direction") === -1, -1).otherwise(1))
      .filter(col("event_type") === 5)
    assert(withB.filter(col("agg_ratio") === 0.5).count() > 0)
    assert(withB.filter(col("agg_ratio") < 0.5).count() > 0)
    assert(withB.filter(col("agg_ratio") > 0.5).count() > 0)
  }

  test("densifyPanel: full spine, zero-filled OI, last bin dropped") {
    val p = Oi.densifyPanel(Oi.panel(day, M5, "vis"), M5)
    // session (10:00, 15:30] at 5min = 66 bins, minus the dropped last = 65
    assert(p.count() == 65)
    // the engineered empty (13:00,13:05] bin exists with OI 0
    val emptyBin = LobsterFixture.Day.toLocalDate.toEpochDay *
      86400L * 1000000000L + (47100L * 1000000000L)
    val row = p.filter(col("bin_ns") === emptyBin).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Double]("order_imbalance_vis") == 0.0)
    assert(row(0).isNullAt(row(0).fieldIndex("first_midprice")))
  }

  test("densifyPanel: a bin too wide for one complete bin is refused") {
    val vis = Oi.panel(day, M5, "vis")
    val session = (55800L - 36000L) * 1000000000L
    // half the session: bins (start, mid] and (mid, end]; the last is
    // incomplete, so exactly one bin per ticker-day remains
    val half = Oi.densifyPanel(Oi.panel(day, session / 2, "vis"), session / 2)
    assert(half.count() == half.select("ticker", "date").distinct().count())
    // one bin per session (formerly an empty panel) and a bin wider than
    // the session (formerly an execution-time sequence error) fail at
    // plan time, naming the cause
    Seq(session, session + 1).foreach { d =>
      val e = intercept[IllegalArgumentException](Oi.densifyPanel(vis, d))
      assert(e.getMessage.contains("no complete bin"), e.getMessage)
    }
  }

  test("combined joins kinds on the bin key without column clashes") {
    val vis = Oi.densifyPanel(Oi.panel(day, M5, "vis"), M5)
    val hid = Oi.densifyPanel(Oi.panel(day, M5, "hid"), M5)
    val c = Oi.combined(Seq(vis, hid))
    assert(c.count() == 65)
    assert(c.columns.count(_ == "first_midprice") == 1)
    assert(c.columns.contains("order_imbalance_vis") &&
      c.columns.contains("order_imbalance_hid"))
  }

  test("iceberg panel: vis+ib split sums to the type-4 population") {
    val p = Oi.panel(day, 0L, "iceberg").collect()(0)
    val vis = p.getAs[Double]("order_imbalance_vis")
    assert(vis >= -1.0 && vis <= 1.0)
    // _ib may be null (no icebergs beyond the triplet's tagged events)
  }
  // --- brute-force differential: every kind, every output column ---

  /** One generated event; `aggRatio`/`predDir` may be null (no bucket). */
  private case class Ev(ticker: String, day: java.time.LocalDate,
      timeS: Double, eventType: Int, direction: Int, size: Long,
      price: Long, seq: Long, mid: Double, wmp: Double, prob: Double,
      predDir: java.lang.Integer, aggRatio: java.lang.Double) {
    // same arithmetic as Oi.tsNs
    val tsNs: Long = day.toEpochDay * 86400L * Oi.NsPerSec +
      (timeS * 1e9).toLong
  }

  /** 2 tickers x 2 days: submits, deletes, visible and hidden execs at a
    * few shared prices (so submits land near execs), zero-size rows,
    * submits planted 0.5 / 1.0 / 1.2 ms after some visible execs, ties in
    * size for the terciles, and agg_ratio exactly 0.5 or null. */
  private lazy val diffEvents: Seq[Ev] = {
    val rng = new scala.util.Random(2024)
    var seq = 0L
    val out = Seq.newBuilder[Ev]
    for (t <- Seq("AAA", "BBB");
         d <- Seq(java.time.LocalDate.of(2012, 6, 21),
           java.time.LocalDate.of(2012, 6, 22))) {
      var ts = 36000.0 + rng.nextDouble() * 60
      def add(tS: Double, typ: Int, px: Long): Unit = {
        seq += 1
        val size = if (rng.nextInt(30) == 0) 0L else 1L + rng.nextInt(12)
        val ratio: java.lang.Double = rng.nextInt(6) match {
          case 0 => null
          case 1 => 0.5
          case k => Seq(0.0, 0.25, 0.75, 1.2)(k - 2)
        }
        val dir: java.lang.Integer =
          if (rng.nextInt(15) == 0) null else if (rng.nextBoolean()) 1 else -1
        out += Ev(t, d, tS, typ, if (rng.nextBoolean()) 1 else -1, size, px,
          seq, 100 + rng.nextDouble(), 100 + rng.nextDouble(),
          ((seq * 37) % 11) / 10.0, dir, ratio)
      }
      for (_ <- 1 to 160) {
        ts += 0.001 + rng.nextDouble() * 25
        val px = 10000L + 100L * rng.nextInt(4)
        val typ = Seq(1, 1, 3, 4, 4, 4, 5, 5, 5)(rng.nextInt(9))
        add(ts, typ, px)
        if (typ == 4 && rng.nextInt(3) == 0)
          add(ts + Seq(0.0005, 0.001, 0.0012)(rng.nextInt(3)), 1, px)
      }
    }
    out.result()
  }

  private lazy val diffFrame = {
    val rows = diffEvents.map(e => Row(e.ticker, java.sql.Date.valueOf(e.day),
      e.timeS, e.eventType, e.direction, e.size, e.price, e.seq, e.mid,
      e.wmp, e.prob, e.predDir, e.aggRatio))
    df("ticker STRING, date DATE, time_s DOUBLE, event_type INT, " +
      "direction INT, size BIGINT, price BIGINT, seq BIGINT, " +
      "midprice DOUBLE, weighted_mp DOUBLE, pred_prob DOUBLE, " +
      "pred_dir INT, agg_ratio DOUBLE",
      new scala.util.Random(7).shuffle(rows): _*)
  }

  /** Driver-side reference panel: (ticker, date, bin_ns) -> column ->
    * value, None where the reference has zero volume. */
  private def brutePanel(kind: String, deltaNs: Long)
      : Map[(String, Long, Long), Map[String, Option[Double]]] = {
    def bin(e: Ev): Long =
      if (deltaNs <= 0) e.day.toEpochDay * 86400L * Oi.NsPerSec
      else e.tsNs + Math.floorMod(-e.tsNs, deltaNs)
    def ratio(num: Double, den: Double): Option[Double] =
      if (den == 0.0) None else Some(num / den)
    def signed(es: Seq[Ev]): Option[Double] = {
      val buy = es.filter(_.direction == -1).map(_.size.toDouble).sum
      val sell = es.filter(_.direction == 1).map(_.size.toDouble).sum
      ratio(buy - sell, buy + sell)
    }
    def weighted(es: Seq[Ev], p: Ev => Double): Option[Double] =
      ratio(es.map(e => e.size * (1 - 2 * p(e))).sum, es.map(_.size).sum)
    val vis = diffEvents.filter(_.eventType == 4)
    val hid = diffEvents.filter(_.eventType == 5)
    // J3: a submit at the same (ticker, price) within [t, t + 1 ms]
    def iceberg(e: Ev): Boolean = diffEvents.exists(s => s.eventType == 1 &&
      s.ticker == e.ticker && s.price == e.price &&
      s.tsNs >= e.tsNs && s.tsNs - e.tsNs <= 1000000L)
    // Spark `percentile`: linear interpolation between closest ranks
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val pos = (s.size - 1) * p
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
    }
    val terciles = hid.groupBy(e => (e.ticker, e.day)).map { case (k, es) =>
      k -> (pct(es.map(_.size.toDouble), 1.0 / 3),
        pct(es.map(_.size.toDouble), 2.0 / 3))
    }
    def tercile(e: Ev) = terciles((e.ticker, e.day))
    def low(e: Ev) = e.predDir != null && e.aggRatio != null &&
      ((e.predDir == 1 && e.aggRatio < 0.5) ||
        (e.predDir == -1 && e.aggRatio > 0.5))
    def high(e: Ev) = e.predDir != null && e.aggRatio != null &&
      ((e.predDir == 1 && e.aggRatio > 0.5) ||
        (e.predDir == -1 && e.aggRatio < 0.5))
    val (rows, ois): (Seq[Ev], Seq[Ev] => Seq[(String, Option[Double])]) =
      kind match {
        case "vis" => (vis, es => Seq("order_imbalance_vis" -> signed(es)))
        case "hid" =>
          (hid, es => Seq("order_imbalance_hid" -> weighted(es, _.prob)))
        case "all" => (diffEvents.filter(e => e.eventType == 4 ||
            e.eventType == 5), es => Seq("order_imbalance_all" -> weighted(es,
            e => if (e.eventType == 5) e.prob
                 else if (e.direction == -1) 0.0 else 1.0)))
        case "iceberg" => (vis, es => Seq(
          "order_imbalance_vis" -> signed(es.filterNot(iceberg)),
          "order_imbalance_ib" -> signed(es.filter(iceberg))))
        case "size" => (hid, es => Seq(
          "order_imbalance_small" ->
            weighted(es.filter(e => e.size < tercile(e)._1), _.prob),
          "order_imbalance_medium" -> weighted(es.filter(e =>
            e.size >= tercile(e)._1 && e.size <= tercile(e)._2), _.prob),
          "order_imbalance_large" ->
            weighted(es.filter(e => e.size > tercile(e)._2), _.prob)))
        case "agg" => (hid, es => Seq(
          "order_imbalance_agg_low" -> weighted(es.filter(low), _.prob),
          "order_imbalance_agg_mid" -> weighted(es.filter(e =>
            e.aggRatio != null && e.aggRatio == 0.5), _.prob),
          "order_imbalance_agg_high" -> weighted(es.filter(high), _.prob)))
      }
    rows.groupBy(e => (e.ticker, e.day.toEpochDay, bin(e))).map {
      case (k, es) =>
        val first = es.minBy(_.seq); val last = es.maxBy(_.seq)
        k -> (ois(es) ++ Seq("first_midprice" -> Some(first.mid),
          "last_midprice" -> Some(last.mid),
          "first_weighted_mp" -> Some(first.wmp),
          "last_weighted_mp" -> Some(last.wmp))).toMap
    }
  }

  for (kind <- Seq("vis", "hid", "all", "iceberg", "size", "agg"))
    test(s"$kind panel vs driver-side brute force at 5 min and daily") {
      for (delta <- Seq(M5, 0L)) {
        val expect = brutePanel(kind, delta)
        val p = Oi.panel(diffFrame, delta, kind)
        val valueCols = p.columns.drop(3).toSeq
        assert(valueCols.toSet == expect.head._2.keySet, s"$kind columns")
        val got = p.collect().map { r =>
          (r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
            r.getLong(2)) -> valueCols.map(c => c ->
            (if (r.isNullAt(r.fieldIndex(c))) None
             else Some(r.getAs[Double](c)))).toMap
        }.toMap
        assert(got.keySet == expect.keySet, s"$kind delta=$delta bins")
        for ((k, cols) <- expect; (c, v) <- cols)
          (got(k)(c), v) match {
            case (Some(a), Some(e)) => assertApprox(a, e, 1e-12)
            case (None, None) =>
            case other => fail(s"$kind delta=$delta $k $c: $other")
          }
        if (delta == M5 && kind != "vis" && kind != "hid" && kind != "all")
          assert(expect.values.exists(_.values.exists(_.isEmpty)),
            s"$kind: no zero-volume bucket, the NULL rule is untested")
      }
    }
}
