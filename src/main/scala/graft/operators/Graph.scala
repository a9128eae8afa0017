package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PageRank by integer power iteration — link-graph
  * importance for dedup-cluster canonicalization, seed-URL scoring, and
  * citation-weighted corpus curation (rank-weighted sampling wants a
  * principled per-document weight, and the link graph supplies one).
  *
  * Rank mass lives on a LONG "pico" grid (1e12 units = total mass 1.0):
  * every per-edge contribution is the integer division `rank div
  * outdeg`, every combine a LONG sum, and the damping step an integer
  * multiply-divide — so each iteration is EXACT, order-independent, and
  * bit-portable to any engine with 64-bit integer arithmetic (the DuckDB
  * oracle replays the same iterations verbatim). Floor division leaks
  * < 1 pico-unit per edge per iteration — bounded and identical
  * everywhere, never a float-summation-order ambiguity.
  *
  * Scale shape per iteration: ONE shuffle of the rank frame onto the
  * edge partitioning (join on src), ONE partial-aggregated shuffle of
  * contributions (groupBy dst — map-side combine absorbs hub in-degree
  * skew), and a 1-row dangling-mass aggregate to the driver. The edge
  * frame (with out-degrees attached) is built once and persisted;
  * lineage is truncated every iteration via localCheckpoint, the same
  * discipline as [[DupClusters.connectedComponents]]. Nothing
  * node-count-sized ever reaches the driver.
  */
object Graph {

  /** 1.0 of rank mass, in integer pico-units. */
  val Pico: Long = 1000000000000L

  /** Edge-count ceilings for the PageRank and k-core driver fast paths
    * (sizing arithmetic at each use). */
  private val PrDriverMaxEdges: Long = 1L << 21
  private val KcoreDriverMaxEdges: Long = 1L << 21

  /** Result of a [[pageRankRun]]: the rank frame plus how many
    * iterations actually ran (== the requested count unless convergence
    * stopped it early) and the final L1 rank delta in pico-units (None
    * when convergence tracking was off or zero iterations ran). */
  final case class PageRankRun(ranks: DataFrame, iterationsRun: Int,
                               finalDeltaPico: Option[Long])

  /** PageRank over a directed edge list (node ids must be integral).
    * Unweighted (`weightCol` empty): duplicate edges collapse and mass
    * splits uniformly over out-edges. Weighted: duplicate edges SUM
    * their weights (positive longs; per-edge weight capped at 4·10⁶ so
    * `rank · w` stays inside signed-64 — checked at setup) and mass
    * splits proportionally, `contrib = (rank · w) div out_w` — the
    * unweighted case is exactly w = 1, one code path. Dangling-node
    * mass is redistributed uniformly each iteration, per the standard
    * formulation. Returns one row per node: `node`, `rank_pico` (LONG,
    * grid units) and `rank` (double view).
    *
    * rank_{t+1}(v) = (100-d)%·1/N + d%·( Σ_{u→v} (rank_t(u)·w) div
    *                 out_w(u) + dangling_t div N )
    * with every step in LONG arithmetic, d = `dampingPct`.
    *
    * `convergeEpsPico > 0` enables convergence-based early exit: the L1
    * rank delta Σ|r_t+1 − r_t| (EXACT on the pico grid — no float
    * tolerance ambiguity) is read off the just-checkpointed frame each
    * iteration, and the loop stops once delta ≤ eps. At 100 TB the
    * iteration count IS the cost (each is a join + partial-agg shuffle
    * round over the full edge set), so stopping three iterations early
    * on an already-mixed graph saves three full shuffle rounds; the
    * delta scan itself reads the checkpointed rank frame (O(nodes), no
    * shuffle beyond a partial agg). Default 0 keeps the fixed-iteration
    * contract the DuckDB oracle's unrolled CTE chain replays. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, dampingPct: Int = 85,
               weightCol: String = "", convergeEpsPico: Long = 0L)
      : DataFrame =
    pageRankRun(edges, srcCol, dstCol, iterations, dampingPct, weightCol,
      convergeEpsPico).ranks

  /** Personalized PageRank: teleport and dangling mass flow to the
    * `seedPred` node set ONLY (uniformly over the |S| seeds) instead of
    * the whole graph — rank becomes "importance relative to the seeds",
    * the standard tool for seed-expansion curation (grow a trusted
    * domain list), topic-conditioned dedup canonicalization, and
    * related-entity retrieval. Initial mass sits entirely on the seeds.
    * Same integer pico-grid, same one-join + one-partial-agg iteration
    * shape, same oracle replayability as [[pageRank]]; nodes unreachable
    * from the seed set converge to rank 0. `seedPred` is a Column
    * predicate over the node id (e.g. `n => pmod(n, lit(20)) === 0`) so
    * seed membership is evaluated row-local — a seed TABLE instead would
    * be one extra broadcast join per iteration; pass a predicate on a
    * precomputed tag when the seed set is extensional. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seedPred: Column => Column,
                           iterations: Int = 10, dampingPct: Int = 85,
                           weightCol: String = "",
                           convergeEpsPico: Long = 0L): DataFrame =
    pageRankRun(edges, srcCol, dstCol, iterations, dampingPct, weightCol,
      convergeEpsPico, Some(seedPred)).ranks

  /** [[pageRank]] with run metadata (iterations actually executed, final
    * L1 delta) — see the scaladoc there for the convergence contract,
    * and [[personalizedPageRank]] for `seedPred`. */
  def pageRankRun(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int = 10, dampingPct: Int = 85,
                  weightCol: String = "", convergeEpsPico: Long = 0L,
                  seedPred: Option[Column => Column] = None)
      : PageRankRun = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(convergeEpsPico >= 0L,
      s"convergeEpsPico must be >= 0, got $convergeEpsPico")
    val e =
      if (weightCol.isEmpty)
        edges.select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .na.drop().distinct().withColumn("w", lit(1L))
      else
        edges.select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"),
            col(weightCol).cast("long").as("w"))
          .na.drop().filter(col("w") > 0)
          .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    // node discovery and the STATIC dangling flag in ONE aggregation
    // (r18): a node is non-dangling iff it ever appears as a src, so
    // max(__out) over the tagged union gives the node set AND the flag
    // in a single shuffle — the former shape (union+distinct, then a
    // separate distinct of eDeg's src set, then a left join to attach
    // the flag) paid three shuffles at setup for the same frame
    val nodes = e.select(col("src").as("node"), lit(true).as("__out"))
      .union(e.select(col("dst").as("node"), lit(false).as("__out")))
      .groupBy("node").agg(max(col("__out")).as("__out"))
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // out-weight attach as ONE window over a single exchange on src —
    // the former self-join (e ⋈ e.groupBy(src).agg(sum)) shuffled the
    // edge frame twice and held the SMJ pairing's sort buffers for both
    // faces concurrently, which made this the one memory-marginal stage
    // in the repo (reproducibly exhausted the execution pool at x64
    // under an 8g heap, 3/3 — SCALE.md 16g-protocol section). The
    // window shape shuffles e ONCE and buffers per src group only
    // (bounded by out-degree), identical LONG sums either way.
    val eDeg = e
      .withColumn("outw", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint() // static across iterations: compute + pin once
    if (weightCol.nonEmpty) {
      val maxW = eDeg.agg(max(col("w"))).head().getLong(0)
      require(maxW <= 4000000L,
        s"pageRank weights must be <= 4e6 (rank*w must fit signed-64); " +
          s"max seen $maxW")
    }
    // teleport mass (100-d)% of Pico: spread over all N nodes, or — in
    // the personalized case — over the |S| seed nodes only
    val teleport = Pico - Pico * dampingPct / 100L
    // small-graph driver fast path (r20): the rank grid is pure LONG
    // arithmetic — integer division, integer sums, integer damping — so
    // a driver loop over the collected (already checkpointed) edge frame
    // reproduces every iteration BIT-identically (GraphSpec
    // differential), while the distributed loop's per-iteration
    // join+agg+checkpoint rounds are pure scheduler machinery at this
    // edge count (~5 jobs x iterations for a graph that fits in one
    // task). Same bounded size-probed pattern as the CC union-find and
    // ANN brute-path guards; `graft.noSmallInputFastPaths=1`
    // (ScaleBench) disables it, so committed growth laws keep
    // measuring the 100 TB code shape. The
    // count probe reads the checkpointed blocks — no recompute. Cap:
    // 2^21 edges hold 4 longs each in primitive arrays (~64 MB steady,
    // ~200 MB transient during the collect) — bounded well under the
    // 8g bench / 16g protocol heaps, while a graph this size fits in
    // ONE task and pays ~5 scheduler jobs per iteration distributed.
    if (!graft.core.Par.fastPathsOff && eDeg.count() <= PrDriverMaxEdges) {
      val isSeedCol = seedPred.map(p => p(col("node"))).getOrElse(lit(true))
      val nodeRows = nodes
        .select(col("node"), col("__out"), isSeedCol.as("__seed"))
        .collect()
      val edgeRows = eDeg.select(col("src"), col("dst"), col("w"),
        col("outw")).collect()
      graft.core.Lineage.unpersistCheckpoint(nodes)
      graft.core.Lineage.unpersistCheckpoint(eDeg)
      val nN = nodeRows.length
      val idx = new java.util.HashMap[Long, Integer](nN * 2)
      val ids = new Array[Long](nN)
      val dangF = new Array[Boolean](nN)
      val seedF = new Array[Boolean](nN)
      var i = 0
      while (i < nN) {
        val row = nodeRows(i)
        ids(i) = row.getLong(0)
        dangF(i) = !row.getBoolean(1)
        // a null seed predicate value behaves as false, exactly as the
        // distributed when(isSeed, ...) does
        seedF(i) = !row.isNullAt(2) && row.getBoolean(2)
        idx.put(ids(i), i)
        i += 1
      }
      val recv: Long = seedPred match {
        case None => n
        case Some(_) =>
          val s = seedF.count(identity).toLong
          require(s > 0, "personalized pageRank: seed predicate " +
            "matches no node in the graph")
          s
      }
      val nE = edgeRows.length
      val eSrc = new Array[Int](nE); val eDst = new Array[Int](nE)
      val eW = new Array[Long](nE); val eOutW = new Array[Long](nE)
      i = 0
      while (i < nE) {
        val row = edgeRows(i)
        eSrc(i) = idx.get(row.getLong(0))
        eDst(i) = idx.get(row.getLong(1))
        eW(i) = row.getLong(2)
        eOutW(i) = row.getLong(3)
        i += 1
      }
      var r = Array.tabulate(nN)(v =>
        if (seedF(v)) Pico / recv else 0L)
      var it = 0
      var lastDelta: Option[Long] = None
      var converged = false
      while (it < iterations && !converged) {
        var dm = 0L
        i = 0
        while (i < nN) { if (dangF(i)) dm += r(i); i += 1 }
        val in = new Array[Long](nN)
        i = 0
        while (i < nE) {
          // exactly the distributed `(r * w) div outw` (operands are
          // non-negative, so SQL div == Java /)
          in(eDst(i)) += r(eSrc(i)) * eW(i) / eOutW(i)
          i += 1
        }
        val dmShare = dm / recv
        val next = new Array[Long](nN)
        i = 0
        while (i < nN) {
          val recvMass = in(i) + (if (seedF(i)) dmShare else 0L)
          next(i) = (if (seedF(i)) teleport / recv else 0L) +
            dampingPct.toLong * recvMass / 100L
          i += 1
        }
        if (convergeEpsPico > 0L) {
          var delta = 0L
          i = 0
          while (i < nN) { delta += math.abs(next(i) - r(i)); i += 1 }
          lastDelta = Some(delta)
          converged = delta <= convergeEpsPico
        }
        r = next
        it += 1
      }
      val spark = edges.sparkSession
      import org.apache.spark.sql.types.{DoubleType, LongType,
        StructField, StructType}
      val out = (0 until nN).map(v => org.apache.spark.sql.Row(
        ids(v), r(v), r(v).toDouble / Pico.toDouble))
      val ranksDf = spark.createDataFrame(
        spark.sparkContext.parallelize(out,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            1 + nN / 4096))),
        StructType(Seq(StructField("node", LongType),
          StructField("rank_pico", LongType),
          StructField("rank", DoubleType))))
      return PageRankRun(ranksDf, it, lastDelta)
    }
    // mass receivers: (isSeed flag column, receiver count) — the flag is
    // row-local, so personalization adds ZERO joins per iteration
    val (isSeed, recv) = seedPred match {
      case None => (lit(true), n)
      case Some(p) =>
        val s = nodes.filter(p(col("node"))).count()
        require(s > 0, "personalized pageRank: seed predicate matches " +
          "no node in the graph")
        (p(col("node")), s)
    }
    // dangling-ness is STATIC (a node either has out-edges or it never
    // does), so the flag rides along from the node-discovery
    // aggregation above and is carried in the rank frame; the
    // alternative — an anti-join of ranks against the src set inside
    // the loop — is a second N-vs-N shuffle join in every iteration at
    // cluster scale
    var ranks = nodes
      .select(col("node"), (!col("__out")).as("__dang"),
        when(isSeed, lit(Pico / recv)).otherwise(lit(0L)).as("r"))
      .localCheckpoint()
    // superseded-round hygiene (graft.core.Lineage): each eager
    // checkpoint's last reader is the NEXT round's materialization, so
    // the previous round frees the moment `next` exists — in-flight
    // checkpoint storage is O(1) rank frames, not O(iterations)
    var prevCp = ranks
    var it = 0
    var lastDelta: Option[Long] = None
    var converged = false
    while (it < iterations && !converged) {
      // the dangling mass rides into the update as a broadcast 1-row
      // aggregate instead of a driver collect: ONE action per iteration
      // (the localCheckpoint), not two — and the static __dang flag
      // makes it a row-local filter over the checkpointed rank frame,
      // no join at all
      val dang = ranks.filter(col("__dang"))
        .agg(coalesce(sum(col("r")), lit(0L)).as("__dm"))
      val inSums = eDeg
        .join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("(r * w) div outw").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__in"))
      // join FROM ranks (same node universe as `nodes`) so the previous
      // rank and the dangling flag ride along for the next round
      // without a second join
      val next = ranks
        .select(col("node"), col("__dang"), col("r").as("__prev"))
        .join(inSums, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .withColumn("__recv",
          when(isSeed, coalesce(col("__in"), lit(0L))
            + expr(s"__dm div $recv"))
          .otherwise(coalesce(col("__in"), lit(0L))))
        .select(col("node"), col("__dang"),
          (when(isSeed, lit(teleport / recv)).otherwise(lit(0L)) +
            expr(s"($dampingPct * __recv) div 100")).as("r"),
          col("__prev"))
        .localCheckpoint()
      if (convergeEpsPico > 0L) {
        // scan of the just-materialized checkpoint (O(nodes) partial agg,
        // no shuffle rounds) — exact on the integer grid
        val delta = next.agg(
          coalesce(sum(abs(col("r") - col("__prev"))), lit(0L)))
          .head().getLong(0)
        lastDelta = Some(delta)
        converged = delta <= convergeEpsPico
      }
      graft.core.Lineage.unpersistCheckpoint(prevCp)
      prevCp = next
      ranks = next.select("node", "__dang", "r")
      it += 1
    }
    // static per-run frames: every reader ran inside the loop; the
    // returned projection reads only the LAST round's checkpoint
    graft.core.Lineage.unpersistCheckpoint(nodes)
    graft.core.Lineage.unpersistCheckpoint(eDeg)
    PageRankRun(
      ranks.select(col("node"), col("r").as("rank_pico"),
        (col("r").cast("double") / lit(Pico.toDouble)).as("rank")),
      it, lastDelta)
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k —
    * the standard "dense nucleus" extraction (spam/community cores,
    * graph-sampling seeds). Iterative peeling: drop nodes below k,
    * recompute degrees, repeat; the k-core is UNIQUE regardless of peel
    * order, so the fixpoint is deterministic. Returns the surviving
    * nodes with their in-core degree (empty frame when the core is
    * empty).
    *
    * Per peel: one partial-aggregated degree count + two semi-joins of
    * the adjacency against the O(nodes) keep-set + a count action for
    * the fixpoint test, with localCheckpoint lineage cuts — the
    * [[DupClusters.connectedComponents]] discipline. Peels needed =
    * longest chain of cascading removals (typically a handful; hard
    * stop at `maxIter`). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val e0 = edges
      .select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .na.drop().filter(col("x") =!= col("y"))
    val und = e0
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
    var adj = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    var nEdges = adj.count()
    // small-graph driver fast path (r20): the peel is pure integer set
    // arithmetic (degree counts, threshold filters) with a UNIQUE
    // fixpoint, so a driver loop over the collected (already
    // checkpointed and counted) adjacency reproduces the result
    // exactly — while each distributed peel round pays a
    // groupBy + two semi-joins + checkpoint of scheduler machinery.
    // Same bounded probed pattern and switch as the PageRank and CC
    // fast paths; ScaleBench pins it off.
    if (!graft.core.Par.fastPathsOff && nEdges > 0L &&
        nEdges <= KcoreDriverMaxEdges) {
      val rows = adj.collect()
      graft.core.Lineage.unpersistCheckpoint(adj)
      var cur: Array[(Long, Long)] =
        rows.map(r => (r.getLong(0), r.getLong(1)))
      var itD = 0
      var convD = false
      while (!convD && itD < maxIter) {
        val deg = new java.util.HashMap[Long, Long]()
        cur.foreach(p => deg.merge(p._1, 1L, _ + _))
        val next = cur.filter(p =>
          deg.get(p._1) >= k && deg.get(p._2) >= k)
        convD = next.length == cur.length
        cur = next
        itD += 1
      }
      if (!convD)
        throw new IllegalStateException(
          s"kCore did not reach the peel fixpoint in $maxIter " +
            s"iterations (${cur.length} directed edges still changing); " +
            "raise maxIter")
      val spark = edges.sparkSession
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val degOut = new java.util.HashMap[Long, Long]()
      cur.foreach(p => degOut.merge(p._1, 1L, _ + _))
      val out = new Array[org.apache.spark.sql.Row](degOut.size)
      val itr = degOut.entrySet().iterator()
      var j = 0
      while (itr.hasNext) {
        val e = itr.next()
        out(j) = org.apache.spark.sql.Row(e.getKey, e.getValue)
        j += 1
      }
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            1 + out.length / 4096))),
        StructType(Seq(StructField("node", LongType),
          StructField("degree", LongType))))
    }
    var it = 0
    var converged = nEdges == 0L
    while (!converged && it < maxIter) {
      val keep = adj.groupBy("a").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= k).select(col("a").as("__keep"))
      val next = adj
        .join(keep, adj("a") === keep("__keep"), "left_semi")
        .join(keep, adj("b") === keep("__keep"), "left_semi")
        .localCheckpoint()
      val m = next.count()
      // the peeled frame's last reader was next's materialization —
      // free it now (Lineage: O(1) in-flight frames, not O(peels))
      graft.core.Lineage.unpersistCheckpoint(adj)
      converged = m == nEdges
      adj = next
      nEdges = m
      it += 1
    }
    // a partial (non-fixpoint) peel is a SUPERSET of the k-core, not the
    // k-core — returning it silently would poison every consumer, so a
    // maxIter exhaustion is loud (raise maxIter for adversarially deep
    // cascades; each peel strictly removes >= 1 edge, so maxIter bounds
    // only pathological chains, not normal graphs)
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not reach the peel fixpoint in $maxIter iterations " +
          s"($nEdges directed edges still changing); raise maxIter")
    adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Common-neighbor link prediction: for every non-adjacent node pair
    * sharing ≥ 1 neighbor, the shared-neighbor count and the Jaccard of
    * their neighborhoods — the classic "who should be connected"
    * features (recommendation candidates, knowledge-graph completion,
    * entity-resolution hints).
    *
    * Wedges are generated AT the shared neighbor, so a pair's count
    * needs every center — the degree-orientation trick of
    * [[triangleCounts]] does not apply, and an uncapped wedge join is
    * Σ deg(c)²: quadratic in the biggest hub. `maxCenterDeg` drops
    * super-hub centers from wedge generation (the LSH maxBucket rule's
    * graph analog, and the hard version of Adamic–Adar's 1/ln(deg)
    * down-weighting): a neighbor shared by everyone predicts nothing,
    * and one viral node must not turn the job quadratic. Counts are
    * then "common neighbors of degree ≤ maxCenterDeg" — deterministic
    * and documented, with Jaccard over the FULL degrees. The
    * Adamic–Adar score Σ_c 1/ln(deg(c)) rides the same wedge aggregate
    * (the SOFT version of the hub rule — a rare shared neighbor is
    * worth more than a common one; shared centers always have deg ≥ 2,
    * so ln never hits 0): per-center terms are quantized to
    * DECIMAL(18,8) before summing, making the sum exact and
    * order-independent (the NDCG gain rule), engine-portable at a 1e-8
    * truncation. Existing edges are anti-joined out; ordering ties
    * break on the pair. */
  def linkPredictions(edges: DataFrame, srcCol: String, dstCol: String,
                      maxCenterDeg: Int = 1000,
                      topK: Int = 100): DataFrame = {
    require(maxCenterDeg >= 2, s"maxCenterDeg must be >= 2")
    require(topK > 0, s"topK must be positive")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("c"), col("v").as("n"))
      .union(und.select(col("v").as("c"), col("u").as("n")))
    val deg = adj.groupBy(col("n").as("node"))
      .agg(count(lit(1)).as("deg"))
    val centers = adj
      .join(deg.select(col("node").as("c"), col("deg").as("cdeg")), "c")
      .filter(col("cdeg") <= maxCenterDeg)
    val w1 = centers.select(col("c"), col("n").as("x"), col("cdeg"))
    val w2 = centers.select(col("c"), col("n").as("y"))
    val pairs = w1.join(w2, Seq("c"))
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"),
        sum((lit(1.0) / log(col("cdeg").cast("double")))
          .cast("decimal(18,8)")).as("__aa"))
      .join(und, col("x") === col("u") && col("y") === col("v"),
        "left_anti")
    pairs
      .join(deg.select(col("node").as("x"), col("deg").as("deg_x")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("deg_y")), "y")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("deg_x") + col("deg_y") - col("common")).cast("double"))
      .select(col("x"), col("y"), col("common"), col("deg_x"),
        col("deg_y"), col("jaccard"),
        col("__aa").cast("double").as("adamic_adar"))
      .sort(col("common").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Degree distribution of the undirected graph: one row per distinct
    * degree with its node count plus the log₂ bin (power-law graphs are
    * read on log-log axes; the bin is `length(bin(degree)) - 1` — pure
    * integer arithmetic, so no libm log2 whose last-ulp rounding could
    * flip a floor at exact powers of two across engines). Two partial-agg
    * shuffles total (degree count, then degree histogram — the second is
    * over ≤ distinct-degree rows). The shape every corpus/link-graph
    * health check starts from: spot super-hubs, disconnected dust, and
    * truncation artifacts before running the expensive operators. */
  def degreeDistribution(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .withColumn("log2_bin", (length(bin(col("degree"))) - 1).cast("long"))
  }

  /** Local clustering coefficient per node: 2·T / (deg·(deg−1)) — the
    * fraction of a node's neighbor pairs that are themselves connected
    * (community density; near-1 inside tight clusters, near-0 for
    * star/broadcast hubs). Triangle counts come from the O(m^1.5)
    * oriented wedge join of [[triangleCounts]]; degree-1 nodes (no
    * neighbor pair to close) are reported with coefficient 0, matching
    * the usual convention. One extra broadcast-friendly join over the
    * triangle pass. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(edges, srcCol, dstCol)
    deg
      .join(tri, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering_coef",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the (both-orientations) edge list — positive means hubs link
    * to hubs (social-style), negative means hubs link to leaves
    * (web/infrastructure-style). THE one-number summary of whether
    * hub-cap style defenses ([[linkPredictions]], LSH maxBucket) will
    * bite on this graph. One degree aggregate + two broadcast-friendly
    * joins + a single-row corr aggregate; nothing collected. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("c"), col("v").as("n"))
      .union(und.select(col("v").as("c"), col("u").as("n")))
    val deg = adj.groupBy(col("c").as("node"))
      .agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select(col("node").as("c"), col("deg").as("dx")), "c")
      .join(deg.select(col("node").as("n"), col("deg").as("dy")), "n")
      .agg(count(lit(1)).as("n_pairs"),
        // degree-regular graphs have zero degree variance: Spark corr
        // yields NaN there while DuckDB yields NULL — align on NULL.
        // (Residual ulp risk from partial-agg co-moment order remains;
        // the gate quantizes through r6 like the other graph metrics.)
        nanvl(corr(col("dx").cast("double"), col("dy").cast("double")),
          lit(null).cast("double")).as("assortativity"))
  }

  /** Bounded-k-hop neighborhood stats per node: how many nodes sit
    * within ≤ `maxHops` (excluding self) and the harmonic-centrality
    * partial sum Σ 1/dist over them — the truncated version of the
    * classic centrality that IS the scalable one (full closeness needs
    * all-pairs distances; bounded-k is the standard web/social-scale
    * substitute, and k ∈ {2, 3} already separates cores from periphery).
    *
    * Level-synchronous BFS: per hop ONE frontier×adjacency equi-join,
    * a distinct, and an anti-join against the known set (so each pair
    * keeps its FIRST — minimal — distance), with localCheckpoint
    * lineage cuts per level. The known set is Σ_v |B_k(v)| pairs —
    * linear in the answer, never materializing anything the result
    * doesn't need; per-term 1/d is quantized to DECIMAL(18,8) so the
    * harmonic sum is exact, order-independent, and engine-portable. */
  def kHopNeighborhood(edges: DataFrame, srcCol: String, dstCol: String,
                       maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"maxHops must be in [1, 8] (the pair set grows with the k-ball " +
        s"volume), got $maxHops")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("c"), col("v").as("n"))
      .union(und.select(col("v").as("c"), col("u").as("n")))
      .localCheckpoint()
    var known = adj.select(col("c").as("node"), col("n").as("other"))
      .withColumn("d", lit(1))
      .localCheckpoint()
    var frontier = known
    for (h <- 2 to maxHops) {
      val nxt = frontier
        .join(adj, frontier("other") === adj("c"))
        .select(frontier("node").as("node"), adj("n").as("other"))
        .filter(col("other") =!= col("node"))
        .distinct()
        .join(known.select("node", "other"), Seq("node", "other"),
          "left_anti")
        .withColumn("d", lit(h))
        .localCheckpoint()
      val grown = known.union(nxt).localCheckpoint()
      // prior level's frames are fully consumed once `grown` exists
      // (at h=2 frontier IS known — double-unpersist is a no-op)
      graft.core.Lineage.unpersistCheckpoint(known)
      graft.core.Lineage.unpersistCheckpoint(frontier)
      known = grown
      frontier = nxt
    }
    graft.core.Lineage.unpersistCheckpoint(adj)
    // the final frontier is superseded too — unless maxHops == 1, where
    // it IS the returned `known`
    if (!(frontier eq known)) graft.core.Lineage.unpersistCheckpoint(frontier)
    known.groupBy("node").agg(
      count(lit(1)).as("n_reachable"),
      sum((lit(1.0) / col("d").cast("double")).cast("decimal(18,8)"))
        .cast("double").as("harmonic"))
  }

  /** Exact per-node triangle counts (clustering-coefficient numerator,
    * community-density signal). Degree-ordered orientation: each
    * undirected edge points from its (degree, id)-smaller endpoint to
    * the larger, so every node's oriented out-degree is O(√m) and the
    * wedge self-join generates Σ outdeg² = O(m^1.5) candidates TOTAL —
    * the standard bound that keeps a power-law hub from exploding the
    * join (an unoriented wedge join is Σ deg², quadratic in the hub
    * degree). Every triangle is generated exactly once (at its
    * rank-smallest corner).
    *
    * Shuffles: degree aggregate, two rank-attach joins, the wedge
    * self-join on the oriented source (both sides share the exchange),
    * the closing-edge join on the (x, y) pair, and the final corner
    * count — all equi-joins and partial aggregates, nothing windowed,
    * nothing collected. Self-loops are dropped; duplicate and
    * both-direction inputs collapse to one undirected edge. Nodes in no
    * triangle are absent from the output (count rows, not the node
    * universe). */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): strict total order, no ties
    val withDeg = und
      .join(deg.withColumnRenamed("node", "u")
        .withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v")
        .withColumnRenamed("deg", "dv"), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddeg"))
    // wedges at the rank-smallest corner; (x, y) ordered by dst rank so
    // the closing edge is probed in its oriented direction
    val o1 = oriented.select(col("src").as("c"), col("dst").as("x"),
      col("ddeg").as("dx"))
    val o2 = oriented.select(col("src").as("c"), col("dst").as("y"),
      col("ddeg").as("dy"))
    val wedges = o1.join(o2, Seq("c"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val triangles = wedges.join(
        oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"))
      .select(col("c"), col("x"), col("y"))
    triangles
      .select(explode(array(col("c"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
