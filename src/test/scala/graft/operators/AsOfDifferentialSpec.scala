package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential test: AsOfJoin vs a brute-force O(n*m) reference
  * implementation of pandas merge_asof semantics, over randomized inputs
  * with engineered ties and boundary gaps. The brute force is independent
  * Scala (no Spark), so agreement is strong evidence of the union+window
  * formulation's correctness. */
class AsOfDifferentialSpec extends SparkSpec {

  private case class L(id: Long, k: String, t: Long)
  private case class R(k: String, t: Long, q: Long, v: Double)

  /** The right row each left row should carry: forward takes the earliest
    * time >= t, backward the latest time <= t, within the inclusive
    * tolerance; among right rows at that time, forward takes the smallest
    * tie-break `q` and backward the largest. */
  private def brute(ls: Seq[L], rs: Seq[R], forward: Boolean,
                    tol: Option[Long]): Map[Long, Option[R]] =
    ls.map { l =>
      val cands = rs.filter(r => r.k == l.k &&
        (if (forward) r.t >= l.t else r.t <= l.t) &&
        tol.forall(tt => math.abs(r.t - l.t) <= tt))
      l.id -> (if (cands.isEmpty) None
               else if (forward) Some(cands.minBy(r => (r.t, r.q)))
               else Some(cands.maxBy(r => (r.t, r.q))))
    }.toMap

  /** With `tieBreak`, the join orders equal-time right rows by `q` and the
    * attached payload `v` is compared too; without it only the matched
    * time is, since the choice among equal-time right rows is then
    * unspecified.
    *
    * Returns the number of matches that sit EXACTLY at the tolerance
    * boundary — the SURVEY §7.4 #2 trap (inclusive vs exclusive
    * tolerance) — and the number whose matched time holds several right
    * rows. The tests assert these are non-zero so a generator change can
    * never silently drop the boundary-collision or tie coverage this spec
    * exists for. */
  private def run(seed: Int, forward: Boolean, tol: Option[Long],
                  tieBreak: Boolean = false): (Long, Int) = {
    val rng = new scala.util.Random(seed)
    val keys = Seq("a", "b", "c")
    // timestamps on a coarse grid => many exact ties and exact-tolerance
    // boundaries
    val ls = (1 to 120).map(i =>
      L(i.toLong, keys(rng.nextInt(3)), rng.nextInt(50) * 10L))
    // q: distinct, and in neither the input nor the `v` order
    val rs = (1 to 80).map(i =>
      R(keys(rng.nextInt(3)), rng.nextInt(50) * 10L, i * 37L % 80,
        i.toDouble))
    val lDf = df("id BIGINT, k STRING, t BIGINT",
      rng.shuffle(ls).map(l => Row(l.id, l.k, l.t)): _*)
    val rDf = df("k STRING, t BIGINT, q BIGINT, v DOUBLE",
      rng.shuffle(rs).map(r => Row(r.k, r.t, r.q, r.v)): _*)
    val out = AsOfJoin.asOf(lDf, rDf, "t", Seq("k"), Seq("v"), forward,
        tol, rightTieBreak = if (tieBreak) Some("q") else None)
      .select(col("id"), col("asof_time"), col("asof_v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2)))))
      .toMap
    val expect = brute(ls, rs, forward, tol)
    val compared: ((Long, Double)) => Any =
      if (tieBreak) identity else _._1
    ls.foreach { l =>
      val want = expect(l.id).map(r => (r.t, r.v))
      assert(out(l.id).map(compared) == want.map(compared),
        s"seed=$seed fwd=$forward tol=$tol tie=$tieBreak id=${l.id} " +
          s"k=${l.k} t=${l.t}: got ${out(l.id)}, want $want")
    }
    val boundary = tol.fold(0L) { tt =>
      ls.count { l =>
        expect(l.id).exists(m =>
          (if (forward) m.t - l.t else l.t - m.t) == tt)
      }.toLong
    }
    val tied = ls.count { l =>
      expect(l.id).exists(m => rs.count(r => r.k == m.k && r.t == m.t) > 1)
    }
    (boundary, tied)
  }

  test("forward, unbounded tolerance, randomized (3 seeds)") {
    Seq(1, 2, 3).foreach(s => run(s, forward = true, None))
  }

  test("forward, tight tolerance incl. exact boundary (3 seeds)") {
    val boundaryHits = Seq(4, 5, 6).map(s => run(s, forward = true,
      Some(20L))._1).sum
    assert(boundaryHits > 0, "generator produced NO exact-tolerance " +
      "matches — the boundary-collision coverage this spec exists for " +
      "is gone; re-align the ts grid with the tolerance")
  }

  test("backward, unbounded tolerance (3 seeds)") {
    Seq(7, 8, 9).foreach(s => run(s, forward = false, None))
  }

  test("backward, tight tolerance (3 seeds)") {
    val boundaryHits = Seq(10, 11, 12).map(s => run(s, forward = false,
      Some(10L))._1).sum
    assert(boundaryHits > 0, "generator produced NO exact-tolerance " +
      "matches — the boundary-collision coverage this spec exists for " +
      "is gone; re-align the ts grid with the tolerance")
  }

  test("forward payload + tie-break: smallest tie at the earliest time " +
    ">= t (3 seeds, one with tolerance)") {
    val tied = Seq(13 -> None, 14 -> None, 15 -> Some(20L)).map {
      case (s, tol) => run(s, forward = true, tol, tieBreak = true)._2
    }.sum
    assert(tied > 0, "no left row matched a tied right timestamp")
  }

  test("backward payload + tie-break: largest tie at the latest time " +
    "<= t (3 seeds, one with tolerance)") {
    val tied = Seq(16 -> None, 17 -> None, 18 -> Some(10L)).map {
      case (s, tol) => run(s, forward = false, tol, tieBreak = true)._2
    }.sum
    assert(tied > 0, "no left row matched a tied right timestamp")
  }
}
