package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A1-A4 order-imbalance family. Sign convention: side == -1 is
  * buyer-initiated (resting ask hit), so OI = (buy - sell)/(buy + sell). */
class ImbalanceSpec extends SparkSpec {

  test("A1 plain OI hand-computed") {
    // bin 1: buys (side -1) size 30, sells (side 1) size 10 -> (30-10)/40 = .5
    val d = df("bin BIGINT, side INT, size DOUBLE",
      Row(1L, -1, 30.0), Row(1L, 1, 10.0),
      Row(2L, 1, 8.0))
    val out = Imbalance.orderImbalance(d, Seq(col("bin")), col("side"),
      col("size")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertApprox(out(1L), 0.5)
    assertApprox(out(2L), -1.0)
  }

  test("A1 OI is NULL when bin volume is zero (densify fills later)") {
    val d = df("bin BIGINT, side INT, size DOUBLE", Row(1L, -1, 0.0))
    val rows = Imbalance.orderImbalance(d, Seq(col("bin")), col("side"),
      col("size")).collect()
    assert(rows(0).isNullAt(1))
  }

  test("A1 OI bounded in [-1, 1] (seeded property)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = Seq.fill(60)(Row(rng.nextInt(3).toLong,
        if (rng.nextBoolean()) -1 else 1, 1.0 + rng.nextDouble() * 99))
      val d = df("bin BIGINT, side INT, size DOUBLE", rows: _*)
      val ois = Imbalance.orderImbalance(d, Seq(col("bin")), col("side"),
        col("size")).collect().filterNot(_.isNullAt(1)).map(_.getDouble(1))
      assert(ois.forall(v => v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12))
    }
  }

  test("A2 weighted OI: sum(size*(1-2p))/sum(size)") {
    // p=0 -> weight 1 (buy), p=1 -> weight -1 (sell), p=.5 -> 0
    val d = df("bin BIGINT, p DOUBLE, size DOUBLE",
      Row(1L, 0.0, 10.0), Row(1L, 1.0, 10.0), Row(1L, 0.5, 20.0))
    val out = d.groupBy(col("bin"))
      .agg(Imbalance.weightedOiColumn(col("p"), col("size")))
      .collect()(0).getDouble(1)
    assertApprox(out, 0.0) // 10*1 + 10*(-1) + 20*0 = 0
  }

  test("A3 split OI computes per-flag OI in one pass") {
    val d = df("bin BIGINT, side INT, size DOUBLE, flag INT",
      Row(1L, -1, 10.0, 0), Row(1L, 1, 10.0, 0),  // vis: balanced -> 0
      Row(1L, -1, 20.0, 1))                       // ib: all buy -> 1
    def oi(sfx: String, flag: Int) = Imbalance.oiColumn(col("side"),
      col("size"), sfx, col("flag") === flag)
    val r = d.groupBy(col("bin")).agg(oi("_vis", 0), oi("_ib", 1))
      .collect()(0)
    assertApprox(r.getAs[Double]("order_imbalance_vis"), 0.0)
    assertApprox(r.getAs[Double]("order_imbalance_ib"), 1.0)
  }

  /** A4: tag by per-key terciles, then weighted OI per size bucket. */
  private def weightedBucketOi(d: org.apache.spark.sql.DataFrame) = {
    val ois = Imbalance.sizeBuckets(col("size")).map { case (b, c) =>
      Imbalance.weightedOiColumn(col("p"), col("size"), s"_$b", c) }
    Imbalance.tagSizeTerciles(d, Seq("k"), col("size"))
      .groupBy(col("k")).agg(ois.head, ois.tail: _*)
  }

  test("A4 size-tercile OI buckets rows by exact per-key terciles") {
    // sizes 1..9 for key a: terciles at 3.67/6.33 -> small {1,2,3},
    // medium {4,5,6}, large {7,8,9}; all buys (p 0) -> OI 1 in each
    val rows = (1 to 9).map(i => Row("a", 0.0, i.toDouble))
    val d = df("k STRING, p DOUBLE, size DOUBLE", rows: _*)
    val out = weightedBucketOi(d).collect()(0)
    assertApprox(out.getDouble(1), 1.0)
    assertApprox(out.getDouble(2), 1.0)
    assertApprox(out.getDouble(3), 1.0)
  }

  test("A4 buckets have expected membership counts") {
    // key a: sizes 1..9 -> {1,2,3} {4,5,6} {7,8,9}; key b: sizes 1..7 put
    // the terciles exactly on 3 and 5, which the medium bucket includes
    // -> {1,2} {3,4,5} {6,7}
    val rows = (1 to 9).map(i => Row("a", if (i <= 3) 0.0 else 1.0,
      i.toDouble)) ++ (1 to 7).map(i => Row("b", 0.0, i.toDouble))
    val d = df("k STRING, p DOUBLE, size DOUBLE", rows: _*)
    val n = Imbalance.sizeBuckets(col("size")).map(b => count(when(b._2, 1)))
    val counts = Imbalance.tagSizeTerciles(d, Seq("k"), col("size"))
      .groupBy(col("k")).agg(n.head, n.tail: _*)
      .collect().map(r => r.getString(0) -> (1 to 3).map(r.getLong)).toMap
    assert(counts == Map("a" -> Seq(3L, 3L, 3L), "b" -> Seq(2L, 3L, 2L)))
    // small = sizes 1,2,3 all p 0 -> OI 1; large = 7,8,9 all p 1 -> OI -1
    val out = weightedBucketOi(d).filter(col("k") === "a").collect()(0)
    assertApprox(out.getDouble(1), 1.0)
    assertApprox(out.getDouble(3), -1.0)
  }
}
