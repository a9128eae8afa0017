package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential tests vs independent plain-Scala references for the
  * bin/imbalance/session kernels (same style as AsOfDifferentialSpec). */
class DifferentialSpec extends SparkSpec {

  test("OI panel vs brute force over random events (3 seeds)") {
    for (seed <- Seq(31, 32, 33)) {
      val rng = new scala.util.Random(seed)
      val step = 1000L
      val evs = (1 to 300).map { i =>
        (i.toLong, rng.nextInt(20) * 997L, // ts
          if (rng.nextBoolean()) -1 else 1, 1.0 + rng.nextInt(99))
      }
      val d = df("id BIGINT, ts BIGINT, side INT, size DOUBLE",
        evs.map(e => Row(e._1, e._2, e._3, e._4)): _*)
      val binned = d.withColumn("bin", TimeBins.ceilNs(col("ts"), step))
      val got = Imbalance.orderImbalance(binned, Seq(col("bin")),
          col("side"), col("size")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // brute force
      val expect = evs.groupBy(e => e._2 + Math.floorMod(-e._2, step))
        .map { case (bin, es) =>
          val buy = es.filter(_._3 == -1).map(_._4).sum
          val sell = es.filter(_._3 == 1).map(_._4).sum
          bin -> (if (buy + sell == 0) None
                  else Some((buy - sell) / (buy + sell)))
        }
      assert(got.keySet == expect.keySet)
      got.foreach { case (b, v) =>
        (v, expect(b)) match {
          case (Some(a), Some(e)) => assertApprox(a, e, 1e-12)
          case (None, None) =>
          case other => fail(s"seed=$seed bin=$b: $other")
        }
      }
    }
  }

  test("sessionize vs brute force over random event streams (3 seeds)") {
    for (seed <- Seq(41, 42, 43)) {
      val rng = new scala.util.Random(seed)
      val gap = 50L
      val evs = (1 to 200).map { i =>
        (i.toLong, Seq("a", "b")(rng.nextInt(2)), rng.nextInt(2000).toLong)
      }
      val d = df("id BIGINT, k STRING, ts BIGINT",
        evs.map(e => Row(e._1, e._2, e._3)): _*)
      val got = Sessionize.withSessionId(d, Seq("k"), "ts", gap, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // brute force: sort per key by (ts, id), walk
      val expect = evs.groupBy(_._2).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._1))
        var sid = -1L; var prevTs = Long.MinValue
        sorted.map { e =>
          if (prevTs == Long.MinValue || e._3 - prevTs > gap) sid += 1
          prevTs = e._3
          e._1 -> sid
        }
      }
      assert(got == expect, s"seed=$seed")
    }
  }

  test("size-tercile bucket OI vs brute force (pandas-interpolated terciles)") {
    // A4 through the production path, Oi.panel("size"): hidden execs of
    // one ticker-day, daily bin, weighted OI per tercile bucket
    val rng = new scala.util.Random(77)
    val evs = (1 to 90).map(i =>
      (i.toLong, rng.nextInt(11) / 10.0, (1 + rng.nextInt(500)).toLong))
    val d = df("seq BIGINT, pred_prob DOUBLE, size BIGINT",
      evs.map(e => Row(e._1, e._2, e._3)): _*)
      .withColumn("ticker", lit("T"))
      .withColumn("date", lit(java.sql.Date.valueOf("2012-06-21")))
      .withColumn("time_s", col("seq").cast("double") + 36000.0)
      .withColumn("event_type", lit(5))
      .withColumn("midprice", lit(1.0)).withColumn("weighted_mp", lit(1.0))
    val got = graft.domain.Oi.panel(d, 0L, "size").collect()
    assert(got.length == 1)
    // brute force with linear-interpolated terciles (matches Spark
    // `percentile` == pandas quantile)
    val sizes = evs.map(_._3.toDouble).sorted
    def q(p: Double): Double = {
      val h = (sizes.size - 1) * p
      val lo = sizes(h.toInt); val hi = sizes(math.ceil(h).toInt)
      lo + (hi - lo) * (h - math.floor(h))
    }
    val (q1, q2) = (q(1.0 / 3.0), q(2.0 / 3.0))
    def woi(es: Seq[(Long, Double, Long)]): Double =
      es.map(e => e._3 * (1 - 2 * e._2)).sum / es.map(_._3).sum
    // reference boundaries (order_imbalance.py:440-448): strict < q1,
    // [q1, q2] inclusive, > q2
    val small = evs.filter(_._3 < q1)
    val medium = evs.filter(e => e._3 >= q1 && e._3 <= q2)
    val large = evs.filter(_._3 > q2)
    assert(small.nonEmpty && medium.nonEmpty && large.nonEmpty)
    assertApprox(got(0).getAs[Double]("order_imbalance_small"), woi(small),
      1e-12)
    assertApprox(got(0).getAs[Double]("order_imbalance_medium"),
      woi(medium), 1e-12)
    assertApprox(got(0).getAs[Double]("order_imbalance_large"), woi(large),
      1e-12)
  }
}
