package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._
import Shared._

/** Graph gates over the trade and co-purchase graphs: PageRank
  * variants, triangles, k-core and neighbourhood statistics. */
object GraphGates {

  /** Unrolled integer-PageRank oracle chain (DuckDB twin of
    * [[graft.operators.Graph.pageRank]] on the customer<->supplier
    * trade graph). `edgeCte` must define `e(src, dst, w)` on top of the
    * provided `er` pair CTE; all arithmetic is BIGINT `//`, bit-matching
    * the engine's LONG steps. `seedWhere` (a predicate over `node`)
    * switches to the PERSONALIZED chain: teleport, dangling share, and
    * the initial mass go to the seed set only, divided by the seed
    * count — the twin of [[graft.operators.Graph.personalizedPageRank]]. */
  private def PageRankSql(edgeCte: String, iters: Int,
                          seedWhere: Option[String] = None): String = {
    val pico = graft.operators.Graph.Pico
    // receiver count: all N nodes, or the |S| seeds (rc CTE)
    val rc = seedWhere.fold("(SELECT n FROM nn)")(_ => "(SELECT s FROM ss)")
    def seeded(term: String): String =
      seedWhere.fold(term)(w => s"CASE WHEN $w THEN $term ELSE 0 END")
    val base = seeded(s"($pico - $pico * 85 // 100) // $rc")
    val iterCtes = (1 to iters).map { i =>
      val p = i - 1
      val dangShare = seeded(s"(SELECT dang FROM d$i) // $rc")
      s"""d$i AS MATERIALIZED (
         |  SELECT COALESCE(CAST(SUM(r) AS BIGINT), 0) AS dang
         |  FROM r$p WHERE node NOT IN (SELECT src FROM od)),
         |in$i AS MATERIALIZED (SELECT e.dst AS node,
         |    CAST(SUM(r.r * e.w // od.outw) AS BIGINT) AS ins
         |  FROM e JOIN od USING (src) JOIN r$p r ON r.node = e.src
         |  GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT nd.node, $base
         |    + 85 * (COALESCE(i.ins, 0)
         |      + $dangShare) // 100
         |    AS r
         |  FROM nodes nd LEFT JOIN in$i i USING (node))""".stripMargin
    }.mkString(",\n")
    val seedCte = seedWhere.fold("")(w =>
      s",\nss AS MATERIALIZED (SELECT COUNT(*) AS s FROM nodes WHERE $w)")
    // every iteration CTE is referenced more than once downstream —
    // MATERIALIZED stops plain-CTE inlining from re-expanding the chain
    // exponentially (2^iters scans)
    s"""WITH er AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |$edgeCte,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)$seedCte,
       |od AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS outw
       |  FROM e GROUP BY 1),
       |r0 AS MATERIALIZED (
       |  SELECT node, ${seeded(s"$pico // $rc")} AS r FROM nodes),
       |$iterCtes
       |SELECT node, r AS rank_pico FROM r$iters""".stripMargin
  }

  /** DuckDB twin of [[Fixtures.coPurchasePairs]] as the CTE `e(u, v)`:
    * part pairs co-ordered at least twice. `materialized` pins it for
    * the oracles that read it more than once. */
  private def CoPurchaseEdgeCte(materialized: Boolean): String =
    s"""e AS ${if (materialized) "MATERIALIZED " else ""}(
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  val gates: Seq[Gate] = Seq(

    // --- graph: PageRank over the customer<->supplier trade graph
    //     (who-trades-with-whom importance). Integer pico-grid power
    //     iteration — every step LONG-exact, so the DuckDB twin replays
    //     the same 5 iterations bit-for-bit ---
    Gate("q_pagerank", (s, dir) => {
      // edge prep shared across the three PageRank-family gates (r18);
      // the projection drops the line counts — the unweighted contract
      // deduplicates, and the fixture is already one row per edge
      val fwd = tradeGraphEdges(s, dir).select(col("src"), col("dst"))
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"), col("rank_pico"))
    },
      // PageRank: the SAME integer pico-grid power iteration, unrolled —
      // BIGINT `//` everywhere (SUMs cast back from HUGEINT), so every
      // iteration is bit-identical to the engine's LONG arithmetic
      PageRankSql(
      """e AS MATERIALIZED (SELECT src, dst, 1 AS w FROM (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM er
        |    UNION ALL SELECT dst AS src, src AS dst FROM er)))""".stripMargin,
      iters = 5)),

    // --- graph: PERSONALIZED PageRank — teleport/dangling mass to a
    //     seed set only (every 10th customer: node % 20 = 0 — even ids
    //     are customers, and the modulus keeps seeds present down to
    //     sf0.001). Rank = importance relative to the seeds; same
    //     pico-grid chain, replayed by the seeded oracle variant ---
    Gate("q_ppr", (s, dir) => {
      // same shared edge fixture as q_pagerank (r18)
      val fwd = tradeGraphEdges(s, dir).select(col("src"), col("dst"))
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.personalizedPageRank(edges, "src", "dst",
          n => pmod(n, lit(20L)) === 0L, iterations = 5)
        .select(col("node"), col("rank_pico"))
    },
      // personalized PageRank: the same unrolled chain with teleport,
      // dangling share, and initial mass confined to the seed predicate
      PageRankSql(
      """e AS MATERIALIZED (SELECT src, dst, 1 AS w FROM (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM er
        |    UNION ALL SELECT dst AS src, src AS dst FROM er)))""".stripMargin,
      iters = 5, seedWhere = Some("node % 20 = 0"))),

    // --- graph: WEIGHTED PageRank — same trade graph, mass split
    //     proportional to the pair's co-order line count ---
    Gate("q_pagerank_weighted", (s, dir) => {
      // shared fixture carries w = co-order line count per edge (r18):
      // the operator's duplicate-edge contract (weights SUM) sees one
      // pre-summed row per directed edge — identical sums to the old
      // per-line w=1 input, since forward and reversed key spaces are
      // disjoint (even→odd vs odd→even node ids)
      val fwd = tradeGraphEdges(s, dir)
      val edges = fwd.union(fwd.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      Graph.pageRank(edges, "src", "dst", iterations = 5,
          weightCol = "w")
        .select(col("node"), col("rank_pico"))
    },
      // weighted PageRank: mass splits proportionally to the co-order
      // line count — same chain, contributions (r * w) // out_w
      PageRankSql(
      """ew AS MATERIALIZED (
        |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM er GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT src, dst, w FROM ew
        |  UNION ALL SELECT dst AS src, src AS dst, w FROM ew)""".stripMargin,
      iters = 5)),

    // --- graph: exact per-node triangle counts over the REPEAT
    //     co-purchase part graph (part pairs sharing >= 2 orders — the
    //     affinity threshold that keeps a uniform-assignment graph from
    //     going complete, the way a raw co-order graph does here).
    //     Degree orientation bounds the wedge join at O(m^1.5) total ---
    Gate("q_triangles", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.triangleCounts(pairs, "src", "dst")
    },
      // triangles: exact enumeration over the same repeat-co-purchase
      // edge set (u < v is already canonical; counts are exact
      // regardless of enumeration order)
      s"""WITH ${CoPurchaseEdgeCte(false)},
         |t AS (
         |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
         |  FROM e e1
         |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |c AS (
         |  SELECT n1 AS node FROM t
         |  UNION ALL SELECT n2 FROM t
         |  UNION ALL SELECT n3 FROM t)
         |SELECT node, COUNT(*) AS n_triangles FROM c GROUP BY 1""".stripMargin),

    // --- graph: common-neighbor link prediction on the repeat
    //     co-purchase graph — top-50 non-adjacent pairs by shared
    //     neighbors, with neighborhood Jaccard ---
    Gate("q_link_pred", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.linkPredictions(pairs, "src", "dst", topK = 50)
        .select(col("x"), col("y"), col("common"), col("deg_x"),
          col("deg_y"), r6(col("jaccard")).as("jaccard_micro"),
          r6(col("adamic_adar")).as("adamic_adar_micro"))
    },
      // link prediction: wedge join at the shared neighbor over the same
      // repeat-co-purchase edges, NOT EXISTS anti vs the edge set
      s"""WITH ${CoPurchaseEdgeCte(true)},
         |adj AS MATERIALIZED (SELECT u AS c, v AS n FROM e
         |  UNION ALL SELECT v AS c, u AS n FROM e),
         |deg AS MATERIALIZED (
         |  SELECT n AS node, COUNT(*) AS deg FROM adj GROUP BY 1),
         |centers AS MATERIALIZED (
         |  SELECT a.c, a.n, d.deg AS cdeg
         |  FROM adj a JOIN deg d ON d.node = a.c
         |  WHERE d.deg <= 1000),
         |pairs AS (
         |  SELECT w1.n AS x, w2.n AS y, COUNT(*) AS common,
         |    SUM(CAST(1.0 / ln(w1.cdeg) AS DECIMAL(18,8))) AS aa
         |  FROM centers w1 JOIN centers w2
         |    ON w1.c = w2.c AND w1.n < w2.n
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT p.* FROM pairs p
         |  WHERE NOT EXISTS (SELECT 1 FROM e
         |    WHERE e.u = p.x AND e.v = p.y))
         |SELECT x, y, common, dx.deg AS deg_x, dy.deg AS deg_y,
         |  ${R6("CAST(common AS DOUBLE) / (dx.deg + dy.deg - common)")} AS jaccard_micro,
         |  ${R6("CAST(aa AS DOUBLE)")} AS adamic_adar_micro
         |FROM cand JOIN deg dx ON dx.node = x JOIN deg dy ON dy.node = y
         |ORDER BY common DESC, x, y LIMIT 50""".stripMargin),

    // --- graph: 2-core of the repeat-co-purchase part graph — the
    //     dense nucleus after iterative peel (fixpoint in 4 rounds at
    //     sf0.01; the oracle unrolls 8, safely past it) ---
    Gate("q_kcore", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.kCore(pairs, "src", "dst", k = 2)
    }, {
      // 2-core: 8 unrolled peels (fixpoint reached in 4 on this graph —
      // extra peels are no-ops since the k-core is the unique fixpoint).
      // Each peel references its predecessor TWICE (degree filter + edge
      // restriction), so every CTE is MATERIALIZED — plain CTE inlining
      // would re-expand the chain 2^8 times
      val k = 2
      val peels = (1 to 8).map { i =>
        val p = i - 1
        s"""k$i AS MATERIALIZED (SELECT a FROM (
           |  SELECT a, COUNT(*) AS n FROM c$p GROUP BY 1)
           |  WHERE n >= $k),
           |c$i AS MATERIALIZED (SELECT c.a, c.b FROM c$p c
           |  JOIN k$i x ON c.a = x.a JOIN k$i y ON c.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${CoPurchaseEdgeCte(true)},
         |c0 AS MATERIALIZED (SELECT u AS a, v AS b FROM e
         |  UNION ALL SELECT v AS a, u AS b FROM e),
         |$peels
         |SELECT a AS node, COUNT(*) AS degree FROM c8 GROUP BY 1""".stripMargin
    }),

    // --- graph: degree distribution of the repeat-co-purchase graph
    //     (log2-binned via integer bit-length — no libm log2 parity
    //     risk) ---
    Gate("q_degree_dist", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.degreeDistribution(pairs, "src", "dst")
    },
      // degree distribution: log2 bin via integer bit-length (bin()
      // string), never libm log2 — exact cross-engine
      s"""WITH ${CoPurchaseEdgeCte(false)},
         |adj AS (SELECT u AS c, v AS n FROM e
         |  UNION ALL SELECT v AS c, u AS n FROM e),
         |deg AS (SELECT c AS node, COUNT(*) AS degree
         |  FROM adj GROUP BY 1),
         |g AS (SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1)
         |SELECT degree, n_nodes,
         |  CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bin
         |FROM g""".stripMargin),

    // --- graph: local clustering coefficient — community density per
    //     node over the oriented-wedge triangle counts ---
    Gate("q_clustering_coef", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.clusteringCoefficients(pairs, "src", "dst")
        .select(col("node"), col("degree"), col("n_triangles"),
          r6(col("clustering_coef")).as("clustering_micro"))
    },
      // local clustering coefficient: 2T / (d(d-1)) over the same exact
      // triangle enumeration + degree count; deg-1 nodes report 0
      s"""WITH ${CoPurchaseEdgeCte(true)},
         |t AS (
         |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
         |  FROM e e1
         |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |tc AS (
         |  SELECT node, COUNT(*) AS n_triangles FROM (
         |    SELECT n1 AS node FROM t
         |    UNION ALL SELECT n2 FROM t
         |    UNION ALL SELECT n3 FROM t) GROUP BY 1),
         |deg AS (
         |  SELECT node, COUNT(*) AS degree FROM (
         |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
         |  GROUP BY 1)
         |SELECT d.node, d.degree,
         |  COALESCE(tc.n_triangles, 0) AS n_triangles,
         |  ${R6("CASE WHEN d.degree >= 2 THEN CAST(COALESCE(tc.n_triangles, 0) * 2 AS DOUBLE) / (d.degree * (d.degree - 1)) ELSE 0.0 END")} AS clustering_micro
         |FROM deg d LEFT JOIN tc ON tc.node = d.node""".stripMargin),

    // --- graph: 2-hop neighborhood reach + truncated harmonic
    //     centrality — the scalable (bounded-k) centrality face ---
    Gate("q_khop", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.kHopNeighborhood(pairs, "src", "dst", maxHops = 2)
        .select(col("node"), col("n_reachable"),
          r6(col("harmonic")).as("harmonic_micro"))
    },
      // 2-hop neighborhood: distance-1 pairs are the adjacency, distance-2
      // pairs the frontier join minus self minus known — first (minimal)
      // distance kept, per-term 1/d DECIMAL-quantized
      s"""WITH ${CoPurchaseEdgeCte(true)},
         |adj AS MATERIALIZED (SELECT u AS c, v AS n FROM e
         |  UNION ALL SELECT v AS c, u AS n FROM e),
         |d1 AS MATERIALIZED (SELECT c AS node, n AS other FROM adj),
         |n2 AS MATERIALIZED (
         |  SELECT DISTINCT d1.node, a.n AS other
         |  FROM d1 JOIN adj a ON a.c = d1.other
         |  WHERE a.n <> d1.node),
         |d2 AS (
         |  SELECT node, other FROM n2
         |  WHERE NOT EXISTS (SELECT 1 FROM d1
         |    WHERE d1.node = n2.node AND d1.other = n2.other)),
         |k AS (
         |  SELECT node, 1 AS d FROM d1
         |  UNION ALL SELECT node, 2 AS d FROM d2)
         |SELECT node, COUNT(*) AS n_reachable,
         |  ${R6("CAST(SUM(CAST(1.0 / d AS DECIMAL(18,8))) AS DOUBLE)")} AS harmonic_micro
         |FROM k GROUP BY 1""".stripMargin),

    // --- graph: degree assortativity — do hubs link to hubs? The
    //     one-number health check for hub-cap defenses ---
    Gate("q_assortativity", (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      Graph.degreeAssortativity(pairs, "src", "dst")
        .select(col("n_pairs"),
          r6(col("assortativity")).as("assortativity_micro"))
    },
      // assortativity: Pearson corr of endpoint degrees over the
      // both-orientations edge list
      s"""WITH ${CoPurchaseEdgeCte(false)},
         |adj AS (SELECT u AS c, v AS n FROM e
         |  UNION ALL SELECT v AS c, u AS n FROM e),
         |deg AS (SELECT c AS node, COUNT(*) AS deg
         |  FROM adj GROUP BY 1),
         |p AS (
         |  SELECT da.deg AS dx, db.deg AS dy
         |  FROM adj a JOIN deg da ON da.node = a.c
         |  JOIN deg db ON db.node = a.n)
         |SELECT COUNT(*) AS n_pairs,
         |  ${R6("corr(dx, dy)")} AS assortativity_micro
         |FROM p""".stripMargin),
  )
}
