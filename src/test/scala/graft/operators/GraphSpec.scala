package graft.operators

import org.apache.spark.sql.Row
import graft.SparkSpec

class GraphSpec extends SparkSpec {

  /** Driver-side reference: the same integer power iteration. */
  private def refPageRank(edges: Seq[(Long, Long)], iterations: Int,
                          dampingPct: Long = 85L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.length.toLong
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (Graph.Pico - Graph.Pico * dampingPct / 100L) / n
    var r = nodes.map(_ -> Graph.Pico / n).toMap
    for (_ <- 0 until iterations) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val dangShare = dangling / n
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v ->
        (base + dampingPct * (in.getOrElse(v, 0L) + dangShare) / 100L))
        .toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iterations: Int)
      : Map[Long, Long] =
    Graph.pageRank(
        df("src BIGINT, dst BIGINT",
          edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst", iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank matches the driver-side integer reference exactly " +
    "(cycle + hub + dangling sink, duplicate edges collapsed)") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),       // cycle
      (1L, 4L), (2L, 4L), (3L, 4L),       // hub in-links
      (4L, 5L),                           // 5 is a dangling sink
      (1L, 2L))                           // duplicate must collapse
    for (iters <- Seq(0, 1, 3, 10)) {
      assert(run(edges, iters) == refPageRank(edges, iters),
        s"iterations=$iters")
    }
  }

  test("pageRank: the hub of a star out-ranks the spokes; total mass " +
    "is conserved up to bounded floor leak") {
    val spokes = (2L to 9L)
    val edges = spokes.flatMap(s => Seq((s, 1L), (1L, s)))
    val got = run(edges, 10)
    assert(spokes.forall(s => got(1L) > got(s)))
    val total = got.values.sum
    // each division floors away < 1 pico-unit; per iteration the leak is
    // bounded by edges + nodes + 2 (dangling + damping floors)
    val bound = 10L * (edges.distinct.size + got.size + 2)
    assert(total <= Graph.Pico && total >= Graph.Pico - bound,
      s"mass $total outside [${Graph.Pico - bound}, ${Graph.Pico}]")
  }

  /** Driver-side reference for WEIGHTED pageRank (same integer math,
    * proportional split). */
  private def refPageRankW(edges: Seq[(Long, Long, Long)],
                           iterations: Int): Map[Long, Long] = {
    val e = edges.groupBy(p => (p._1, p._2)).view
      .mapValues(_.map(_._3).sum).toSeq.map { case ((s, d), w) => (s, d, w) }
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.length.toLong
    val outw = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = (Graph.Pico - Graph.Pico * 85L / 100L) / n
    var r = nodes.map(_ -> Graph.Pico / n).toMap
    for (_ <- 0 until iterations) {
      val dangling = nodes.filterNot(outw.contains).map(r).sum
      val dangShare = dangling / n
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => r(s) * w / outw(s) }.sum).toMap
      r = nodes.map(v => v ->
        (base + 85L * (in.getOrElse(v, 0L) + dangShare) / 100L)).toMap
    }
    r
  }

  test("weighted pageRank matches the reference; duplicate edges sum " +
    "weights; w=1 reduces to the unweighted operator") {
    val wEdges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 1L, 5L), (1L, 2L, 2L)) // duplicate (1,2): weights add to 5
    val got = Graph.pageRank(
        df("src BIGINT, dst BIGINT, w BIGINT",
          wEdges.map(p => Row(p._1, p._2, p._3)): _*),
        "src", "dst", iterations = 4, weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRankW(wEdges, 4))
    // heavier edge pulls more mass: reweight (1,2) >> (1,3)
    assert(got(2L) > got(3L) - got(2L) || got(2L) > 0) // sanity
    val unit = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val viaW = Graph.pageRank(
        df("src BIGINT, dst BIGINT, w BIGINT",
          unit.map(p => Row(p._1, p._2, 1L)): _*),
        "src", "dst", iterations = 3, weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaW == refPageRank(unit, 3))
    intercept[IllegalArgumentException] {
      Graph.pageRank(
        df("src BIGINT, dst BIGINT, w BIGINT", Row(1L, 2L, 5000000L)),
        "src", "dst", iterations = 1, weightCol = "w")
    }
  }

  // ---- triangleCounts ----

  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(p => p._1 != p._2)
      .map(p => (p._1 min p._2, p._1 max p._2)).distinct
    val nodes = und.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val es = und.toSet
    val tri = for {
      i <- nodes; j <- nodes if i < j; k <- nodes if j < k
      if es((i, j)) && es((j, k)) && es((i, k))
    } yield (i, j, k)
    tri.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(p => p).view.mapValues(_.size.toLong).toMap
  }

  private def runTri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(
        df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts: hand graph — K4 minus an edge, self-loops and " +
    "duplicate/reversed edges ignored") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),      // triangle 1-2-3
      (2L, 4L), (3L, 4L),                // triangle 2-3-4 (with 2-3)
      (3L, 2L), (2L, 2L), (1L, 2L),      // reversed, loop, duplicate
      (5L, 6L))                          // triangle-free appendage
    val got = runTri(edges)
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts matches brute-force enumeration on random " +
    "graphs (including degree skew)") {
    val rnd = new scala.util.Random(11)
    // skewed: node 0 connects to many — exercises the orientation
    val skew = (1L to 15L).map(i => (0L, i))
    val rand = (1 to 60).map(_ =>
      (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val edges = skew ++ rand
    assert(runTri(edges) == refTriangles(edges))
  }

  // ---- kCore ----

  private def refKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] = {
    val und = edges.filter(p => p._1 != p._2)
      .map(p => (p._1 min p._2, p._1 max p._2)).distinct
    var alive = und.flatMap(p => Seq(p._1, p._2)).toSet
    var changed = true
    while (changed) {
      val deg = und.filter(p => alive(p._1) && alive(p._2))
        .flatMap(p => Seq(p._1, p._2))
        .groupBy(x => x).view.mapValues(_.size).toMap
      val next = alive.filter(n => deg.getOrElse(n, 0) >= k)
      changed = next != alive
      alive = next
    }
    und.filter(p => alive(p._1) && alive(p._2))
      .flatMap(p => Seq(p._1, p._2))
      .groupBy(x => x).view.mapValues(_.size.toLong).toMap
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] =
    Graph.kCore(
        df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: cascading peel — a chain hung off a triangle strips " +
    "link by link; the triangle is the 2-core") {
    // triangle 1-2-3, chain 3-4-5-6 (each peel removes one chain node)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val got = runKCore(edges, 2)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3: nothing survives (empty frame, not a crash)
    assert(runKCore(edges, 3).isEmpty)
  }

  test("kCore matches the driver-side peel reference on random graphs") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 80).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    for (k <- Seq(1, 2, 3, 4)) {
      assert(runKCore(edges, k) == refKCore(edges, k), s"k=$k")
    }
  }

  // ---- degree diagnostics ----

  test("degreeDistribution: histogram with integer log2 bins; " +
    "duplicate/reversed edges and self-loops collapse first") {
    // star 0-(1,2,3,4) plus chord 1-2: deg(0)=4, deg(1)=deg(2)=2,
    // deg(3)=deg(4)=1; noise edges must not change it
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L),
      (2L, 1L), (1L, 0L), (3L, 3L))
    val got = Graph.degreeDistribution(
        df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 0L)),   // two leaves, log2 bin 0
      2L -> ((2L, 1L)),   // two chord nodes, bin 1
      4L -> ((1L, 2L))))  // the hub, bin 2
  }

  test("clusteringCoefficients: K4-minus-an-edge hand values; " +
    "triangle-free and degree-1 nodes report 0") {
    // triangle 1-2-3 + 2-3-4 triangle (edges 2-4, 3-4); leaf 5 off 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L))
    val got = Graph.clusteringCoefficients(
        df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // deg: 1->3 (2,3,5), 2->3, 3->3, 4->2, 5->1
    // tri: 1->1, 2->2, 3->2, 4->1
    assert(got(1L) == ((3L, 1L, 2.0 / 6.0)))
    assert(got(2L) == ((3L, 2L, 4.0 / 6.0)))
    assert(got(3L) == ((3L, 2L, 4.0 / 6.0)))
    assert(got(4L) == ((2L, 1L, 1.0)))
    assert(got(5L) == ((1L, 0L, 0.0)))
  }

  test("kHopNeighborhood: path-graph distances, minimal distance kept, " +
    "k=1 is the adjacency; matches a brute-force BFS reference") {
    // path 1-2-3-4-5: from node 1 with k=3 -> {2:1, 3:2, 4:3}
    val path = (1L to 4L).map(i => (i, i + 1))
    val g = df("src BIGINT, dst BIGINT", path.map(p => Row(p._1, p._2)): _*)
    val got3 = Graph.kHopNeighborhood(g, "src", "dst", maxHops = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    def q8(x: Double): Double = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got3(1L)._1 == 3L && got3(3L)._1 == 4L)
    assertApprox(got3(1L)._2, q8(1.0) + q8(0.5) + q8(1.0 / 3.0), 1e-12)
    assertApprox(got3(3L)._2, 2 * q8(1.0) + 2 * q8(0.5), 1e-12)
    // k=1 reduces to the adjacency degrees
    val got1 = Graph.kHopNeighborhood(g, "src", "dst", maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
    // triangle + chord: distance stays 1 when a 2-hop path also exists
    val tri = df("src BIGINT, dst BIGINT",
      Row(1L, 2L), Row(2L, 3L), Row(1L, 3L))
    val gotTri = Graph.kHopNeighborhood(tri, "src", "dst", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(gotTri == Map(1L -> 2.0, 2L -> 2.0, 3L -> 2.0))
    intercept[IllegalArgumentException] {
      Graph.kHopNeighborhood(tri, "src", "dst", maxHops = 0)
    }
  }

  test("degreeAssortativity: a star is perfectly disassortative (-1); " +
    "pair count covers both orientations") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val out = Graph.degreeAssortativity(
        df("src BIGINT, dst BIGINT", star.map(p => Row(p._1, p._2)): _*),
        "src", "dst")
      .collect()(0)
    assert(out.getLong(0) == 6L) // 3 undirected edges x 2 orientations
    assertApprox(out.getDouble(1), -1.0, 1e-12)
  }

  // ---- linkPredictions ----

  test("linkPredictions: common-neighbor counts and Jaccard on a hand " +
    "graph; existing edges excluded; hub centers capped") {
    // path 1-2-3 plus 1-4, 3-4: candidates (1,3) via centers {2,4},
    // (2,4) via centers {1,3}; (1,3) and (2,4) are NOT edges
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L))
    val rows = Graph.linkPredictions(
        df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*),
        "src", "dst")
      .collect()
    val got = rows
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // all four nodes have degree 2; jaccard = 2/(2+2-2) = 1.0
    assert(got == Map(
      (1L, 3L) -> ((2L, 2L, 2L, 1.0)),
      (2L, 4L) -> ((2L, 2L, 2L, 1.0))))
    // Adamic-Adar: two shared centers of degree 2 -> 2/ln(2), through
    // the per-term DECIMAL(18,8) quantization
    val aaTerm = BigDecimal(1.0 / math.log(2.0))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      assertApprox(r.getDouble(6), 2 * aaTerm, 1e-12)
    }
    // capping the center degree at 2 removes nothing here; at the
    // minimum cap the star center is excluded: star 10-(11,12,13)
    // yields pairs only via center 10 (deg 3 > cap 2) -> empty
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L))
    val capped = Graph.linkPredictions(
      df("src BIGINT, dst BIGINT", star.map(p => Row(p._1, p._2)): _*),
      "src", "dst", maxCenterDeg = 2)
    assert(capped.count() == 0)
  }

  /** Driver-side reference for PERSONALIZED pageRank: teleport/dangling
    * mass to the seed set only, integer math as in [[refPageRank]]. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
                     iterations: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val s = nodes.count(seeds)
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = Graph.Pico - Graph.Pico * 85L / 100L
    var r = nodes.map(v =>
      v -> (if (seeds(v)) Graph.Pico / s else 0L)).toMap
    for (_ <- 0 until iterations) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map { v =>
        val recvIn = in.getOrElse(v, 0L) +
          (if (seeds(v)) dangling / s else 0L)
        v -> ((if (seeds(v)) teleport / s else 0L) + 85L * recvIn / 100L)
      }.toMap
    }
    r
  }

  test("personalizedPageRank: seed-confined teleport matches the " +
    "integer reference; unreachable nodes get 0; empty seed set rejected") {
    // 1,2,3 reachable from seed 1; 7 is a dangling sink (its mass must
    // teleport back to the SEED, not spread uniformly); 5<->6 is a
    // component the seed never reaches (rank must decay to 0 there)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 7L),
      (5L, 6L), (6L, 5L))
    val g = df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*)
    for (iters <- Seq(1, 3, 8)) {
      val got = Graph.personalizedPageRank(g, "src", "dst",
          n => n === 1L, iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refPpr(edges, Set(1L), iters), s"iterations=$iters")
    }
    val converged = Graph.personalizedPageRank(g, "src", "dst",
        n => n === 1L, iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(converged(5L) == 0L && converged(6L) == 0L,
      "seed-unreachable component must decay to zero rank")
    assert(converged(1L) > converged(2L) && converged(2L) > converged(3L))
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(g, "src", "dst", n => n === 99L,
        iterations = 1)
    }
  }

  test("personalized + weighted compose: seed-confined teleport with " +
    "proportional mass split matches the merged integer reference") {
    // weighted edges, seed = node 1: heavy (1,2) pulls more mass than
    // light (1,3); both features must act in the same run
    val wEdges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 1L, 2L),
      (3L, 1L, 2L), (2L, 4L, 1L))
    def ref(iterations: Int): Map[Long, Long] = {
      val e = wEdges
      val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val seeds = Set(1L)
      val s = nodes.count(seeds)
      val outw = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val teleport = Graph.Pico - Graph.Pico * 85L / 100L
      var r = nodes.map(v =>
        v -> (if (seeds(v)) Graph.Pico / s else 0L)).toMap
      for (_ <- 0 until iterations) {
        val dang = nodes.filterNot(outw.contains).map(r).sum
        val in = e.groupBy(_._2).view.mapValues(
          _.map { case (u, _, w) => r(u) * w / outw(u) }.sum).toMap
        r = nodes.map { v =>
          val recvIn = in.getOrElse(v, 0L) +
            (if (seeds(v)) dang / s else 0L)
          v -> ((if (seeds(v)) teleport / s else 0L) + 85L * recvIn / 100L)
        }.toMap
      }
      r
    }
    val g = df("src BIGINT, dst BIGINT, w BIGINT",
      wEdges.map(p => Row(p._1, p._2, p._3)): _*)
    for (iters <- Seq(1, 4)) {
      val got = Graph.pageRankRun(g, "src", "dst", iterations = iters,
          weightCol = "w", seedPred = Some(n => n === 1L))
        .ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(iters), s"iterations=$iters")
    }
  }

  test("pageRank convergence: a mixed graph stops early, matches the " +
    "fixed-iteration result at the stop point, and reports the delta") {
    // symmetric 2-cycle: uniform start IS the fixpoint, so iteration 1
    // has delta 0 and the loop must stop there
    val cyc = df("src BIGINT, dst BIGINT", Row(1L, 2L), Row(2L, 1L))
    val runConv = Graph.pageRankRun(cyc, "src", "dst", iterations = 10,
      convergeEpsPico = 0L + 1L)
    assert(runConv.iterationsRun == 1,
      s"expected early stop at 1, ran ${runConv.iterationsRun}")
    assert(runConv.finalDeltaPico.contains(0L))
    val fixed = Graph.pageRank(cyc, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val conv = runConv.ranks
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == fixed)
    // a non-trivial graph with a loose eps also exits before maxIter,
    // and the result equals running exactly iterationsRun fixed rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
    val g = df("src BIGINT, dst BIGINT", edges.map(p => Row(p._1, p._2)): _*)
    val r2 = Graph.pageRankRun(g, "src", "dst", iterations = 50,
      convergeEpsPico = Graph.Pico / 100L) // 1% of total mass
    assert(r2.iterationsRun < 50, "loose eps should converge well before 50")
    assert(r2.ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == refPageRank(edges, r2.iterationsRun))
    // eps off (default 0) keeps the fixed-iteration contract: no delta
    // action, all iterations run
    val r3 = Graph.pageRankRun(g, "src", "dst", iterations = 7)
    assert(r3.iterationsRun == 7 && r3.finalDeltaPico.isEmpty)
  }

  test("kCore: maxIter exhaustion before the fixpoint is loud, never a " +
    "silent superset") {
    // path 1-2-3-4-5-6-7: k=2 peels both ends each round, needs 3+ peels
    val path = (1L to 6L).map(i => (i, i + 1))
    val g = df("src BIGINT, dst BIGINT", path.map(p => Row(p._1, p._2)): _*)
    val e = intercept[IllegalStateException] {
      Graph.kCore(g, "src", "dst", k = 2, maxIter = 1)
    }
    assert(e.getMessage.contains("fixpoint"))
    // with room to finish, the same graph converges to the empty core
    assert(Graph.kCore(g, "src", "dst", k = 2).count() == 0)
  }

  test("driver fast path reproduces the distributed pico loop " +
    "bit-identically: unweighted, weighted, personalized, convergence " +
    "(r20 differential)") {
    import org.apache.spark.sql.functions.{lit, pmod}
    val rnd = new scala.util.Random(11)
    val edges = (Seq.fill(300)((rnd.nextInt(60).toLong,
        rnd.nextInt(60).toLong)) ++
      (0L until 20L).map(i => i -> (i + 40L)) ++   // dangling sinks
      Seq((200L, 201L), (201L, 200L)))             // detached 2-cycle
      .filter(e => e._1 != e._2)
    val g = df("src BIGINT, dst BIGINT",
      edges.map(p => Row(p._1, p._2)): _*)
    val wG = df("src BIGINT, dst BIGINT, w BIGINT",
      edges.zipWithIndex.map { case ((s, d), i) =>
        Row(s, d, (i % 5 + 1).toLong) }: _*)
    def snap(r: Graph.PageRankRun): (Seq[(Long, Long, Double)], Int,
        Option[Long]) =
      (r.ranks.collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .sortBy(_._1).toSeq, r.iterationsRun, r.finalDeltaPico)
    def all() = Seq(
      snap(Graph.pageRankRun(g, "src", "dst", iterations = 6)),
      snap(Graph.pageRankRun(wG, "src", "dst", iterations = 4,
        weightCol = "w")),
      snap(Graph.pageRankRun(g, "src", "dst", iterations = 5,
        seedPred = Some(n => pmod(n, lit(7L)) === 0L))),
      snap(Graph.pageRankRun(g, "src", "dst", iterations = 40,
        convergeEpsPico = Graph.Pico / 50L)),
      (Graph.kCore(g, "src", "dst", k = 3).collect()
        .map(x => (x.getLong(0), x.getLong(1), 0.0)).sortBy(_._1).toSeq,
        0, None))
    val fast = all() // default: small input takes the driver path
    val dist =
      try {
        System.setProperty("graft.noSmallInputFastPaths", "1")
        all()
      } finally System.clearProperty("graft.noSmallInputFastPaths")
    assert(fast == dist)
  }

  test("pageRank: all-dangling graph (no second-hop edges) keeps " +
    "uniform ranks; degenerate inputs rejected") {
    // 1->2, 3->4: sources never receive, sinks only receive — symmetric
    val got = run(Seq((1L, 2L), (3L, 4L)), 5)
    assert(got(1L) == got(3L) && got(2L) == got(4L))
    assert(got(2L) > got(1L))
    intercept[IllegalArgumentException] {
      Graph.pageRank(df("src BIGINT, dst BIGINT", Row(1L, 2L)),
        "src", "dst", iterations = -1)
    }
  }
}
