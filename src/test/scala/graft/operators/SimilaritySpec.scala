package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Double])*) =
    df("id BIGINT, v ARRAY<DOUBLE>", rows.map(r => Row(r._1, r._2)): _*)

  private def mmrPool(rows: (Long, Seq[Double], Double)*) =
    df("id BIGINT, v ARRAY<DOUBLE>, rel DOUBLE",
      rows.map(r => Row(r._1, r._2, r._3)): _*)

  test("mmrSelect: a near-duplicate of the top hit is displaced by a " +
    "diverse item; lambda = 1 is plain relevance order; deterministic") {
    // 1 and 2 are near-identical (cos ~1); 3 is orthogonal, lower rel
    val pool = mmrPool(
      (1L, Seq(1.0, 0.0), 0.9),
      (2L, Seq(0.999, 0.01), 0.89),
      (3L, Seq(0.0, 1.0), 0.5))
    val mmr = Similarity.mmrSelect(pool, "id", "v", "rel", k = 2,
        lambda = 0.5)
      .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(mmr(1) == 1L)
    assert(mmr(2) == 3L, "diversity must displace the near-dup")
    val rel = Similarity.mmrSelect(pool, "id", "v", "rel", k = 2,
        lambda = 1.0)
      .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(rel(1) == 1L && rel(2) == 2L)
    val again = Similarity.mmrSelect(pool, "id", "v", "rel", k = 2,
        lambda = 0.5)
      .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(again == mmr)
  }

  test("mmrSelect: k beyond the pool returns the whole pool ranked; " +
    "micro-rounded ties break to the smaller id") {
    val pool = mmrPool(
      (5L, Seq(1.0, 0.0), 0.7),
      (4L, Seq(0.0, 1.0), 0.7))
    val out = Similarity.mmrSelect(pool, "id", "v", "rel", k = 10,
        lambda = 1.0)
      .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(out == Map(1 -> 4L, 2 -> 5L))
  }

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    val d = vecs(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0))
    val pairs = d.as("a").crossJoin(d.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertApprox(pairs((1L, 1L)), 1.0)
    assertApprox(pairs((1L, 2L)), 0.0)
    val opp = vecs(1L -> Seq(1.0, 2.0), 2L -> Seq(-1.0, -2.0))
    val c = opp.as("a").crossJoin(opp.as("b"))
      .filter(col("a.id") === 1 && col("b.id") === 2)
      .select(Similarity.cosine(col("a.v"), col("b.v"))).collect()(0).getDouble(0)
    assertApprox(c, -1.0)
  }

  test("native cosine kernel == interpreted HOF twin bit-for-bit " +
    "(incl. ragged, zero-norm, null-element, and null vectors)") {
    val d = df("a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
      Row(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      Row(Seq(0.1, -0.7), Seq(0.3, 0.9)),
      Row(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),   // ragged
      Row(Seq(0.0, 0.0), Seq(1.0, 1.0)),        // zero norm
      Row(Seq(1.0, null), Seq(1.0, 2.0)),       // null element
      Row(null, Seq(1.0, 2.0)))                 // null vector
    val out = d.select(Similarity.cosine(col("a"), col("b")).as("n"),
      Similarity.cosineHof(col("a"), col("b")).as("h")).collect()
    out.foreach(r => assert(r.get(0) == r.get(1),
      s"cosine mismatch: ${r.get(0)} vs ${r.get(1)}"))
    assert(out.count(_.isNullAt(0)) == 4)
  }

  test("cosine hand value") {
    val d = vecs(1L -> Seq(1.0, 2.0, 3.0), 2L -> Seq(4.0, 5.0, 6.0))
    val c = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.id") === 1 && col("b.id") === 2)
      .select(Similarity.cosine(col("a.v"), col("b.v"))).collect()(0).getDouble(0)
    // dot=32, |a|=sqrt(14), |b|=sqrt(77)
    assertApprox(c, 32.0 / (math.sqrt(14.0) * math.sqrt(77.0)))
  }

  test("cosine of zero vector is NULL (not NaN/div-by-zero)") {
    val d = vecs(1L -> Seq(0.0, 0.0), 2L -> Seq(1.0, 1.0))
    val r = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.id") === 1 && col("b.id") === 2)
      .select(Similarity.cosine(col("a.v"), col("b.v"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("bruteForceTopK: correct neighbors, rank order, self excluded") {
    val d = vecs(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1),
      3L -> Seq(0.0, 1.0), 4L -> Seq(1.0, 0.05))
    val out = Similarity.bruteForceTopK(d.filter(col("id") === 1), d,
        "id", "id", "v", "v", k = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // nearest to (1,0): id4 (cos~.9988) then id2 (cos~.9939); never id1 itself
    assert(out.sameElements(Array((4L, 1), (2L, 2))))
  }

  test("bruteForceTopK bounded-aggregate face == rank-window face " +
    "(random corpus with ties, null scores, k > matches, k = 1)") {
    val rng = new scala.util.Random(77)
    // 60 vectors in 4 dims, several exact duplicates (cosine ties) and
    // two zero vectors (null cosine, ranked last by both faces)
    val base = (1L to 50L).map(i =>
      i -> Seq.fill(4)((rng.nextInt(9) - 4).toDouble))
    val dups = (51L to 58L).map(i => i -> base((i % 10).toInt)._2)
    val zeros = Seq(59L -> Seq(0.0, 0.0, 0.0, 0.0),
      60L -> Seq(0.0, 0.0, 0.0, 0.0))
    val d = vecs(base ++ dups ++ zeros: _*)
    val q = d.filter(col("id") <= 5)
    for (k <- Seq(1, 3, 70)) {
      val fast = Similarity.bruteForceTopK(q, d, "id", "id", "v", "v", k)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2), r.getInt(3))).toSet
      val slow = Similarity.bruteForceTopKWindow(q, d, "id", "id", "v",
          "v", k)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2), r.getInt(3))).toSet
      assert(fast == slow, s"faces diverge at k=$k: " +
        s"only-fast=${(fast -- slow).take(5)} only-slow=${(slow -- fast).take(5)}")
    }
  }

  test("bruteForceTopK plan: no rank window over the scored cross " +
    "product — the per-query top-k is a partial-merging aggregate") {
    val d = vecs((1L to 10L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    val p = Similarity.bruteForceTopK(d.filter(col("id") <= 2), d,
        "id", "id", "v", "v", 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "scored cross product must not be rank-windowed:\n" + p.take(1500))
    assert(p.contains("partial_graft_top_k"),
      "top-k aggregate must partial-merge map-side:\n" + p.take(1500))
  }

  test("nearDupPairs finds only pairs above threshold") {
    val d = vecs(1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.01),
      3L -> Seq(0.0, 1.0))
    val out = Similarity.nearDupPairs(d, "id", "v", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sameElements(Array((1L, 2L))))
  }

  test("nearDupPairs: SRP-bucketed path == exact broadcast path on a " +
    "clustered corpus at threshold 0.95") {
    // 12 clusters x 5 near-identical members + 20 scattered vectors, 16 dims
    val rng = new scala.util.Random(31)
    val rows = (0 until 12).flatMap { c =>
      val center = Array.fill(16)(rng.nextGaussian())
      (0 until 5).map { m =>
        (c * 5 + m).toLong -> center.map(_ + rng.nextGaussian() * 0.01).toSeq
      }
    } ++ (0 until 20).map { i =>
      (100 + i).toLong -> Array.fill(16)(rng.nextGaussian()).toSeq
    }
    val d = vecs(rows: _*)
    def key(r: Row) = (r.getLong(0), r.getLong(1))
    val exact = Similarity.nearDupPairs(d, "id", "v", 0.95).collect()
    val bucketed = Similarity
      .nearDupPairs(d, "id", "v", 0.95, broadcastLimit = 0L).collect()
    assert(exact.length >= 12 * 10, "clusters must yield true near-dups")
    assert(bucketed.map(key).toSet == exact.map(key).toSet)
    // verify formula is shared: cosines agree bit-for-bit
    val exactCos = exact.map(r => key(r) -> r.getDouble(2)).toMap
    bucketed.foreach(r => assert(r.getDouble(2) == exactCos(key(r))))
  }

  test("nearDupPairs bucketed path: ragged and null vectors match the " +
    "exact path (equal-length groups only), all-null corpus fails fast") {
    val d = df("id BIGINT, v ARRAY<DOUBLE>",
      Row(1L, Seq(1.0, 2.0, 3.0, 4.0)), Row(2L, Seq(1.0, 2.0, 3.0, 4.0)),
      Row(3L, Seq(1.0, 2.0)), Row(4L, Seq(1.0, 2.0)), // short dup pair
      Row(5L, Seq(-5.0, 1.0)), Row(6L, null))
    def key(r: Row) = (r.getLong(0), r.getLong(1))
    val exact = Similarity.nearDupPairs(d, "id", "v", 0.999).collect()
    val bucketed = Similarity
      .nearDupPairs(d, "id", "v", 0.999, broadcastLimit = 0L).collect()
    // the short pair (3,4) must be found by BOTH paths; cross-dim pairs
    // and the null row never appear (exactCosine length/null contract)
    assert(exact.map(key).toSet == Set((1L, 2L), (3L, 4L)))
    assert(bucketed.map(key).toSet == exact.map(key).toSet)
    val allNull = df("id BIGINT, v ARRAY<DOUBLE>", Row(1L, null), Row(2L, null))
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(allNull, "id", "v", 0.9, broadcastLimit = 0L)
    }
  }

  test("native SRP band-bucket kernel == interpreted HOF twin " +
    "(incl. ragged, null-element, and null vectors -> bucket 0)") {
    val d = df("id BIGINT, v ARRAY<DOUBLE>",
      Row(1L, Seq(1.0, -2.0, 3.0, 0.5)), Row(2L, Seq(-1.0, 0.0, 2.0, -3.0)),
      Row(3L, Seq(1.0, 2.0)),            // ragged (shorter than dims)
      Row(4L, Seq(1.0, null, 3.0, 0.5)), // null element
      Row(5L, null))                     // null vector
    val out = d.select(col("id"),
        Similarity.srpBandBuckets(col("v"), 4, 8, 4, 42L).as("n"),
        Similarity.srpBandBucketsHof(col("v"), 4, 8, 4, 42L).as("h"))
      .collect()
    out.foreach(r => assert(r.get(1) == r.get(2),
      s"srp mismatch for id ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}"))
    // degenerate rows land in bucket 0 of every band (both paths)
    out.filter(r => r.getLong(0) >= 3L).foreach(r =>
      assert(r.getAs[Seq[Long]]("n").forall(_ == 0L)))
  }

  test("lshTopK finds identical vectors (recall on exact dups)") {
    val d = vecs(
      1L -> Seq(1.0, 2.0, 3.0, 4.0), 2L -> Seq(1.0, 2.0, 3.0, 4.0),
      3L -> Seq(-4.0, 3.0, -2.0, 1.0))
    val out = Similarity.lshTopK(d.filter(col("id") === 1), d, "id", "id",
        "v", "v", k = 1, dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1)
    assert(out(0)._2 == 2L)
    assertApprox(out(0)._3, 1.0)
  }

  test("lshTopK recall@3 >= 0.9 vs bruteForceTopK on a clustered corpus " +
    "at default bands (4x8)") {
    // 20 clusters x 5 members, 16 dims, ~0.03 rad intra-cluster angle:
    // per-plane disagreement p ~ 0.01 -> per-band match ~0.93 -> miss
    // probability (1-0.93)^4 ~ 2e-5 per true neighbor; seeded, so the
    // measured recall is deterministic
    val rng = new scala.util.Random(17)
    val rows = (0 until 20).flatMap { c =>
      val center = Array.fill(16)(rng.nextGaussian())
      (0 until 5).map { m =>
        (c * 5 + m).toLong -> center.map(_ + rng.nextGaussian() * 0.02).toSeq
      }
    }
    val d = vecs(rows: _*)
    val k = 3
    def topSets(out: Array[Row]): Map[Long, Set[Long]] = out
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val truth = topSets(Similarity
      .bruteForceTopK(d, d, "id", "id", "v", "v", k).collect())
    val got = topSets(Similarity
      .lshTopK(d, d, "id", "id", "v", "v", k, dims = 16).collect())
    val recalls = truth.map { case (q, ts) =>
      got.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / ts.size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, f"recall@$k = $recall%.3f")
  }

  test("ivfTopK recall@3 >= 0.9 vs bruteForceTopK on the clustered corpus; " +
    "nProbe=nCells degenerates to exact") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 20).flatMap { c =>
      val center = Array.fill(16)(rng.nextGaussian())
      (0 until 5).map { m =>
        (c * 5 + m).toLong -> center.map(_ + rng.nextGaussian() * 0.02).toSeq
      }
    }
    val d = vecs(rows: _*)
    val k = 3
    def topSets(out: Array[Row]): Map[Long, Set[Long]] = out
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val truth = topSets(Similarity
      .bruteForceTopK(d, d, "id", "id", "v", "v", k).collect())
    val ivf = topSets(Similarity
      .ivfTopK(d, d, "id", "id", "v", "v", k, nCells = 12, nProbe = 4)
      .collect())
    val recalls = truth.map { case (q, ts) =>
      ivf.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / ts.size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, f"IVF recall@$k = $recall%.3f")
    // probing every cell = scanning the whole corpus = exact
    val full = topSets(Similarity
      .ivfTopK(d, d, "id", "id", "v", "v", k, nCells = 8, nProbe = 8)
      .collect())
    assert(full == truth)
  }

  test("ivfTopK with kmeans-trained centroids: geometry-following cells " +
    "clear recall 0.9 at nProbe=2") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 20).flatMap { c =>
      val center = Array.fill(16)(rng.nextGaussian())
      (0 until 5).map { m =>
        (c * 5 + m).toLong -> center.map(_ + rng.nextGaussian() * 0.02).toSeq
      }
    }
    val d = vecs(rows: _*)
    val k = 3
    def topSets(out: Array[Row]): Map[Long, Set[Long]] = out
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    def recallOf(got: Map[Long, Set[Long]],
                 truth: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, ts) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / ts.size
      }
      rs.sum / rs.size
    }
    val truth = topSets(Similarity
      .bruteForceTopK(d, d, "id", "id", "v", "v", k).collect())
    val cents = Clustering.kmeansCentroids(d, "id", "v", k = 20, maxIter = 3)
    val trained = recallOf(topSets(Similarity
      .ivfTopK(d, d, "id", "id", "v", "v", k, nProbe = 2,
        centroids = Some(cents)).collect()), truth)
    assert(trained >= 0.9, f"trained-centroid recall@$k = $trained%.3f")
  }

  test("srpSignature: identical vectors identical, scale-invariant") {
    val d = vecs(1L -> Seq(1.0, 2.0, 3.0), 2L -> Seq(2.0, 4.0, 6.0),
      3L -> Seq(-1.0, -2.0, -3.0))
    val sigs = d.select(col("id"),
        Similarity.srpSignature(col("v"), nPlanes = 16, dims = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))      // cosine 1 -> same halfspaces
    assert(sigs(1L) != sigs(3L))      // cosine -1 -> all bits flipped
    assert((sigs(1L) ^ sigs(3L)) == 0xFFFFL)
  }

  test("srpSignature(v, n) == srpBandBuckets(v, 1, n)[0] bit for bit " +
    "(incl. null, ragged, null-element and NaN rows -> 0)") {
    val rng = new scala.util.Random(5)
    val d = df("id BIGINT, v ARRAY<DOUBLE>",
      (Seq.tabulate(20)(i =>
        Row(i.toLong, Seq.fill(4)(rng.nextGaussian()))) ++ Seq(
        Row(20L, Seq(1.0, 2.0)),                   // ragged
        Row(21L, Seq(1.0, null, 3.0, 0.5)),        // null element
        Row(22L, null),                            // null vector
        Row(23L, Seq(1.0, Double.NaN, 3.0, 0.5)))  // NaN dot: no bit set
      ): _*)
    val out = d.select(col("id"),
        Similarity.srpSignature(col("v"), nPlanes = 16, dims = 4)
          .as("sig"),
        Similarity.srpBandBuckets(col("v"), 1, 16, 4, 42L)(0).as("b0"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"id ${r.getLong(0)}: ${r.getLong(1)} vs ${r.getLong(2)}"))
    assert(out.filter(_.getLong(0) >= 20L).forall(_.getLong(1) == 0L))
    assert(out.map(_.getLong(1)).distinct.length > 10)
  }

  test("hardNegatives: only different-label items rank, nearest first; " +
    "null labels are null-safe (null==null excluded, null-vs-value " +
    "kept); equals bruteForceTopK on the label-filtered corpus") {
    val d = df("id BIGINT, v ARRAY<DOUBLE>, lab INT",
      Row(1L, Seq(1.0, 0.0), 0),
      Row(2L, Seq(0.9, 0.1), 0),     // same label: never a negative of 1
      Row(3L, Seq(1.0, 0.05), 1),    // nearest different-label
      Row(4L, Seq(0.5, 0.5), 1),
      Row(5L, Seq(0.0, 1.0), null),  // null label: valid negative of 1
      Row(6L, Seq(1.0, 0.1), null))  // but not of 5 (null <=> null)
    val anchors = d.filter(col("id") === 1 || col("id") === 5)
    val out = Similarity.hardNegatives(anchors, d, "id", "id", "v", "v",
        "lab", "lab", k = 10)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    // anchor 1 (lab 0): negatives 3, 4 (lab 1), 5, 6 (null) — by cosine:
    // 3 (~.9988), 6 (~.9950), 4 (~.7071), 5 (0.0); NEVER 2 (same label)
    assert(out(1L) == Seq(3L, 6L, 4L, 5L), s"got ${out(1L)}")
    // anchor 5 (null label): labeled items only — 6 shares the null
    assert(!out(5L).contains(6L), "null <=> null must be excluded")
    assert(out(5L).toSet == Set(1L, 2L, 3L, 4L))
    // differential: per-anchor equality with bruteForceTopK over the
    // corpus restricted to that anchor's valid negatives
    val brute = Similarity.bruteForceTopK(d.filter(col("id") === 1), d
        .filter(!(col("lab") <=> lit(0))), "id", "id", "v", "v", k = 10)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(brute == out(1L))
  }
}
