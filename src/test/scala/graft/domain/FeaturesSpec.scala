package graft.domain

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** W2/W3/P8 feature semantics on a hand-built event sequence. */
class FeaturesSpec extends SparkSpec {

  // tiny ordered day: seq 0..5, one ticker
  private def mk() = df(
    "ticker STRING, date DATE, seq BIGINT, event_time TIMESTAMP, " +
      "event_type INT, direction INT, size BIGINT, price BIGINT, " +
      "ask_price_1 BIGINT, ask_size_1 BIGINT, bid_price_1 BIGINT, bid_size_1 BIGINT",
    Row("T", java.sql.Date.valueOf("2024-01-15"), 0L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 1, 1, 10L, 990L,
      1010L, 100L, 990L, 100L),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 1L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:01"), 4, -1, 20L, 1010L,
      1010L, 100L, 990L, 100L),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 2L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:02"), 5, -1, 30L, 1000L,
      1010L, 100L, 990L, 100L),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 3L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:03"), 3, 1, 40L, 990L,
      1010L, 100L, 990L, 100L),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 4L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:04"), 1, -1, 50L, 1020L,
      1020L, 100L, 990L, 100L),
    Row("T", java.sql.Date.valueOf("2024-01-15"), 5L,
      java.sql.Timestamp.valueOf("2024-01-15 10:00:05"), 5, 1, 60L, 1020L,
      1020L, 100L, 990L, 100L))

  test("W2 adjacent directions: prev is strictly before, next strictly after") {
    val out = Features.addAdjacentDirections(mk(), Seq(1))
      .orderBy(col("seq"))
      .select(col("prev_dir_1"), col("next_dir_1")).collect()
    // type-1 events at seq 0 (dir 1) and seq 4 (dir -1)
    assert(out.map(_.getInt(0)).sameElements(Array(0, 1, 1, 1, 1, -1)))
    assert(out.map(_.getInt(1)).sameElements(Array(-1, -1, -1, -1, 0, 0)))
  }

  private case class Ev(tk: String, day: Int, seq: Long, sec: Int,
                        et: Int, dir: Int)

  test("W2 adjacent directions match a brute force over randomized " +
    "ticker-days with equal event times ordered only by seq") {
    // few distinct seconds per day, so most rows share their event_time
    // with others and only seq orders them. The rows reach Spark
    // shuffled, so an order that leaves equal-time rows to the input
    // order disagrees.
    val rng = new scala.util.Random(17)
    val types = Seq(1, 3, 4)
    val evs = for {
      tk <- Seq("A", "B", "C"); day <- 15 to 17
      n = rng.nextInt(40)
      // per day one type appears only in the middle, so it is missing at
      // both the start and the end of the day
      rare = types(rng.nextInt(types.size))
      i <- 0 until n
      et = Seq(1, 3, 4, 5)(rng.nextInt(4)) match {
        case t if t == rare && (i < n / 4 || i >= 3 * n / 4) => 5
        case t => t
      }
    } yield Ev(tk, day, i.toLong, i * 4 / n, et,
      if (rng.nextBoolean()) 1 else -1)
    val rows = rng.shuffle(evs).map(e =>
      Row(e.tk, java.sql.Date.valueOf(s"2024-01-${e.day}"), e.seq,
        java.sql.Timestamp.valueOf(s"2024-01-${e.day} 10:00:0${e.sec}"),
        e.et, e.dir))
    val in = df("ticker STRING, date DATE, seq BIGINT, " +
      "event_time TIMESTAMP, event_type INT, direction INT", rows: _*)
    val dirCols = types.flatMap(t => Seq(s"prev_dir_$t", s"next_dir_$t"))
    val got = Features.addAdjacentDirections(in, types)
      .select((Seq("ticker", "date", "seq") ++ dirCols).map(col): _*)
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString, r.getLong(2)) ->
          dirCols.indices.map(i => r.getInt(3 + i))
      }.toMap
    assert(got.size == evs.size)
    var prevMissing, nextMissing = 0
    evs.groupBy(e => (e.tk, e.day)).values.foreach { dayEvs =>
      // seconds rise with seq, so seq alone is the event order
      val ordered = dayEvs.sortBy(_.seq).toIndexedSeq
      ordered.indices.foreach { i =>
        val want = types.flatMap { t =>
          val prev = ordered.take(i).findLast(_.et == t)
          val next = ordered.drop(i + 1).find(_.et == t)
          if (prev.isEmpty) prevMissing += 1
          if (next.isEmpty) nextMissing += 1
          Seq(prev.fold(0)(_.dir), next.fold(0)(_.dir))
        }
        val e = ordered(i)
        val key = (e.tk, s"2024-01-${e.day}", e.seq)
        assert(got(key) == want, s"$key: got ${got(key)}, want $want " +
          s"(columns ${dirCols.mkString(",")})")
      }
    }
    assert(prevMissing > 0 && nextMissing > 0,
      "generator lost the missing-neighbour rows (expect 0) it exists for")
  }

  test("W3 sentiment: signed-size rolling sums incl current, 5-window") {
    // signed: seq0 +10 (t1), seq1 -20 (t4 dir-1: -1*20... np.select: type 4
    // => dir*size = -20), seq2 0 (t5), seq3 -40 (t3: -dir*size), seq4 -50,
    // seq5 0
    val out = Features.addSentiment(mk(), window = 3)
      .orderBy(col("seq"))
      .select(col("sent_prev"), col("sent_next")).collect()
    val prev = out.map(_.getLong(0))
    val next = out.map(_.getLong(1))
    // rowsBetween(-2,0) sums of [10,-20,0,-40,-50,0]
    assert(prev.sameElements(Array(10L, -10L, -10L, -60L, -90L, -90L)))
    // rowsBetween(0,2)
    assert(next.sameElements(Array(-10L, -60L, -90L, -90L, -50L, 0L)))
  }

  test("P8 outside-spread tag overrides pred columns") {
    val withMicro = Features.addMicrostructure(mk())
      .withColumn("pred_dir", lit(0))
      .withColumn("pred_prob", lit(0.5))
    val out = Features.applyOutsideSpreadTag(withMicro)
      .filter(col("event_type") === 5).orderBy(col("seq"))
      .select(col("agg_ratio"), col("pred_dir"), col("pred_prob")).collect()
    // seq2: price 1000 in (990,1010) -> agg_ratio 0.5, untouched
    assertApprox(out(0).getDouble(0), 0.5)
    assert(out(0).getInt(1) == 0 && out(0).getDouble(2) == 0.5)
    // seq5: price 1020 == ask (spread 990-1020) -> agg_ratio 1 -> sell tag
    assert(out(1).getDouble(0) >= 1.0)
    assert(out(1).getInt(1) == 1 && out(1).getDouble(2) == 1.0)
  }

  test("hiddenExecFeatures returns only type-5 rows with feature columns") {
    val out = Features.hiddenExecFeatures(mk())
    assert(out.select(col("event_type")).distinct().collect()
      .map(_.getInt(0)).sameElements(Array(5)))
    val cols = out.columns.toSet
    assert(Seq("midprice", "ofi", "agg_ratio", "sent_prev", "sent_next",
      "prev_dir_1", "next_dir_4").forall(cols.contains))
  }
}
