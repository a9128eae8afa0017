package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Clustering

/** Empirical scale-slope gate: measures how the top-cost operator
  * families actually GROW with data size, instead of asserting it from
  * plan shape (SCALE.md's reasoning is necessary but not sufficient —
  * a constant can hide an O(n²) the plan audit never sees).
  *
  * Method: synthesize inflated copies of the sf0.1 tables at 4x and 16x
  * under `target/scalebench/` (TESTDATA itself is read-only), run each
  * selected query at 1x/4x/16x (min of `SPARK_GRAFT_SCALE_REPS`, default
  * 2, after one warm-up), and fit the least-squares slope of
  * log(time) vs log(scale). Fixed per-query overhead (scheduler, plan,
  * JIT) biases the slope DOWN at these sizes, so a reading above the
  * 1.3 gate is strong evidence of super-linear growth, not noise.
  *
  * Inflation preserves within-copy structure and decorrelates across
  * copies, so outputs and candidate sets grow LINEARLY by construction
  * (what real corpus growth looks like) and any super-linear time is
  * the ENGINE's fault:
  *   - events: ids/users shifted per copy, times unchanged (k× density
  *     on the same span — slices/windows get k× rows each);
  *   - documents: doc_id shifted; every token suffixed with the copy tag
  *     (within-copy shingle structure identical, cross-copy near-dup
  *     candidates impossible); n_chars recomputed;
  *   - embeddings: vec_id shifted; a per-(copy, position) deterministic
  *     sign flip — s∘x · s∘y = x·y, so within-copy cosines are EXACTLY
  *     preserved while cross-copy vectors decorrelate;
  *   - lineitem/orders: join/node keys shifted per copy (the trade graph
  *     becomes k disjoint copies — k× nodes and edges, same degree
  *     distribution).
  *
  * Two deliberate faces of SemDeDup: `q_semdedup_fixedk` runs the gate's
  * fixed k=4 (cell size grows with n ⇒ within-cell pairs grow n²/k —
  * EXPECTED super-linear, exempted and documented: that is a
  * configuration property, the SemDeDup paper scales cluster count with
  * corpus size) and `semdedup_scaledk` scales k with the corpus (cell
  * size constant — gated linear like everything else).
  *
  * Output: SCALE_SLOPES.json (per-query times at each scale + slope +
  * verdict) and one stdout JSON line; exit 1 if any non-exempt slope
  * exceeds 1.3.
  */
object ScaleBench {

  /** Gate sizes; override with SPARK_GRAFT_SCALE_SIZES (e.g. "1,64" +
    * SPARK_GRAFT_SCALE_BUILD_ONLY=1 builds the x64 tables for the
    * strong-scaling probe, tools/core_scaling.py, without timing).
    * Default runs through 64x (r15): a slope fitted over 1.8 decades is
    * much harder to fake with amortizing fixed overhead than 1.2. */
  private def Sizes: Seq[Int] = sys.env.get("SPARK_GRAFT_SCALE_SIZES")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16, 64))

  /** Per-entry size cap: q_semdedup_fixedk is the DOCUMENTED
    * super-linear face (fixed k=4 -> within-cell pairs ~ n²/k by
    * design); at 64x its pair set is ~16x the 16x one and the exempt
    * entry would dominate the whole run's wall-clock to demonstrate a
    * property already measured at 4x/16x. Capped, not dropped: its
    * slope still fits over the sizes it runs at. */
  private val MaxSize: Map[String, Int] = Map(
    "q_semdedup_fixedk" -> 16,
    // both documented-superlinear exempt faces stop at 64x: their
    // quadratics are measured and explained (see the entry comments);
    // the x256 decade belongs to their linear twins
    // (q_pq_ann_fixedq / semdedup_sharded)
    "q_pq_ann" -> 64,
    "semdedup_scaledk" -> 64)

  /** Exempt entries are NOT free passes: each one still carries a
    * declared slope CEILING so the exemption can never silently hide a
    * regression that makes the entry worse than its documented growth
    * law. q_semdedup_fixedk's law is ~n²/k (quadratic pairs at fixed
    * k); 2.3 = quadratic + fitting margin. A floor is deliberately NOT
    * asserted: at the capped sizes (≤16x) the quadratic pair term is
    * not yet dominant over per-query fixed cost (measured slope 0.38
    * in r15) — the cap exists precisely to stop the entry before the
    * n² face takes over the run's wall-clock. Every exempt entry MUST
    * appear here (looked up without a default). */
  private val ExemptMaxSlope: Map[String, Double] = Map(
    "q_semdedup_fixedk" -> 2.3,
    "q_pq_ann" -> 2.2,
    "semdedup_scaledk" -> 2.1)
  /** Entries that run ONLY when explicitly named via SPARK_GRAFT_ONLY:
    * wide-decade adjudication faces that duplicate a gated entry's
    * work under an alternative configuration — permanently available
    * for probes, never silently padding the committed full refit. */
  private val ProbeOnly: Set[String] =
    Set("q_pagerank_scaledparts", "q_kcore_scaledparts")

  private def buildOnly: Boolean =
    sys.env.get("SPARK_GRAFT_SCALE_BUILD_ONLY")
      .exists(v => Set("1", "true", "yes").contains(v.trim.toLowerCase))
  private val SlopeGate = 1.3

  /** The widest-segment gate (same threshold as the overall fit). The
    * least-squares fit alone has misled three separate times (fixedq
    * 0.24→1.01 at the next decade; dedup_jaccard's one-off 1.39 top
    * segment; the r17 inflated-x1 rows): overhead-dominated small
    * sizes depress the fit and can hide a super-linear top decade, so
    * the steepest ADJACENT-pair segment is now a committed, gated
    * number of its own (r18 verdict item 3). */
  private val SegGate = SlopeGate

  /** Absolute-time floor for widest-segment gating: a segment with an
    * endpoint below this is overhead-dominated (scheduler + planning
    * alone swing 0.1-0.4 s run-to-run), and its slope is noise — a
    * 0.2→0.9 s step reads 1.08 with no data term at all. Segments
    * with BOTH endpoints >= the floor participate. */
  private val SegTimeFloorSec = 1.0

  /** name -> (query(spark, dir, scale), exemption reason or null). */
  /** Per-dir memoized replay fixture for the streaming scale entries:
    * the events table normalized to (ts_ns, event_id, event_type,
    * value, event_time) and written as four TIME-QUARTILE files, oldest
    * first with modification-time gaps, so a maxFilesPerTrigger=1
    * replay runs a CONSTANT four micro-batches at every inflation —
    * rows per batch grow k-fold while batch count does not — and each
    * batch's closing watermark trails the next file's minimum event
    * time (quartiles are disjoint time ranges), so no row is ever
    * dropped as late and the measured state work is the full input.
    * The warm-up rep pays this build; min-of-reps discards it. */
  private val streamFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def streamScaleFixture(s: SparkSession, dir: String): String =
    streamFixtureCache.computeIfAbsent(dir, d => {
      val root = graft.gates.Fixtures.scratchRoot("scale_stream", d)
      val ev = Tables.tsToNs(Tables.events(s, d))
        .select(col("ts").as("ts_ns"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
      val cuts = ev.stat
        .approxQuantile("ts_ns", Array(0.25, 0.5, 0.75), 0.001)
        .map(_.toLong)
      val slices = Seq(
        col("ts_ns") < cuts(0),
        col("ts_ns") >= cuts(0) && col("ts_ns") < cuts(1),
        col("ts_ns") >= cuts(1) && col("ts_ns") < cuts(2),
        col("ts_ns") >= cuts(2))
      slices.zipWithIndex.foreach { case (p, i) =>
        ev.filter(p).coalesce(1).write
          .mode(if (i == 0) "overwrite" else "append").parquet(root)
        Thread.sleep(15) // file-source replay order = modification time
      }
      root
    })

  private def withShufflePartitions[A](s: SparkSession, n: Int)
                                      (f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  private[graft] def entries: Seq[(String, (SparkSession, String, Int) => DataFrame,
      String)] = {
    def q(name: String): (SparkSession, String, Int) => DataFrame =
      (s, dir, _) => SparkEntry.queries(name)(s, dir)
    Seq(
      // O1 two-level global sort (events)
      ("q_o1_sort", q("q_o1_sort"), null),
      // purged k-fold CV (events; ordinal + k-row extents, 5x fan-out
      // output — must stay linear in n)
      ("q_purged_cv", q("q_purged_cv"), null),
      // dedup family (documents)
      ("q_dedup_exact", q("q_dedup_exact"), null),
      ("q_dedup_jaccard", q("q_dedup_jaccard"), null),
      ("q_minhash_lsh_pairs", q("q_minhash_lsh_pairs"), null),
      ("q_dup_clusters", q("q_dup_clusters"), null),
      ("q_curate_jaccard", q("q_curate_jaccard"), null),
      // BPE training (documents; the r12 defect family)
      ("q_bpe_train", q("q_bpe_train"), null),
      // packing (documents)
      ("q_pack_chunks", q("q_pack_chunks"), null),
      // ANN family (embeddings; fixed query set, corpus grows)
      ("q_ann_cosine", q("q_ann_cosine"), null),
      // the GATE query's probe set is every 25th vector, so its scored
      // frame is |Q|x|C| ~ n^2/25 BY WORKLOAD CONSTRUCTION — a batch
      // all-pairs-flavored job, not an engine defect. Measured r16: the
      // x256 run's 10.5e9-pair frame drove ObjectHashAggregate into its
      // sort-based fallback and filled the disk with sorter spill. The
      // r15 'cache residency' adjudication of this entry's 0.89 slope
      // was WRONG — it was the pair term emerging. Kept (capped ≤64x,
      // exempt with a quadratic ceiling) as the documented batch face;
      // the corpus-scale serving contract is q_pq_ann_fixedq below.
      ("q_pq_ann", q("q_pq_ann"),
        "gate workload scales queries with corpus (n/25 probes) => " +
          "scored pairs ~ n^2/25 by construction; serving contract is " +
          "q_pq_ann_fixedq (fixed probes, growing corpus)"),
      ("q_pq_ann_fixedq", (s, dir, _) => {
        val e = graft.core.Tables.embeddings(s, dir).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vec"))
        // codebooks train on a BOUNDED deterministic sample (the 1x
        // copy), not the whole corpus: the r17 x64→x1024 probe
        // stage-attributed ~2/3 of this entry's cost to re-training on
        // all n rows per invocation (26.6→101.8 s over one 4x step —
        // linear, but pure waste at serving time). PQ codebooks are
        // trained offline on a representative sample (Jegou et al.
        // 2011 §V trains on learning sets far smaller than the
        // corpus); what must scale with the corpus is encode + ADC
        // search, which is exactly what this entry now measures.
        val books = graft.operators.Pq.train(
          e.filter(col("vec_id") < 1000000000L), "vec_id", "vec",
          m = 8, k = 8, maxIter = 2)
        val codes = graft.operators.Pq.encode(e, "vec", books)
        // FIXED probe set: the 1x copy's every-25th vector (inflated
        // copies shift vec_id by 1e9) — per-query cost linear in the
        // corpus, which is what an ANN index serves at 100 TB
        val queries = e.filter(col("vec_id") < 1000000000L &&
          pmod(col("vec_id"), lit(25L)) === 0)
        graft.operators.Pq.searchTopK(queries, codes, "vec_id", "vec_id",
          "vec", books, k = 3)
      }, null),
      // PCA (embeddings; r19 verdict item 5: the #2 bench query was the
      // only top-5 entry with neither a committed slope nor a floor
      // adjudication). Design reads scan-dominated — the covariance is
      // a distributed exact-decimal upper-triangle partial combiner
      // (O(d²) driver state, never O(n)), the power iteration runs on
      // the d×d covariance alone, and the projection is one broadcast
      // map — so the gate asserts the design argument with a measured
      // growth law like everything else on the board.
      ("q_pca", q("q_pca"), null),
      // graph family (lineitem + orders; k disjoint graph copies)
      ("q_pagerank", q("q_pagerank"), null),
      // stage attribution for q_pagerank (r19, the r18 verdict's
      // widest-segment adjudication): the gate's cost = uncached
      // trade-edge prep (lineitem⋈orders SMJ + groupBy — the
      // memory-marginal stage the 16g protocol exists for) + 5
      // pageRank iterations. Measuring the prep ALONE makes any
      // super-linear top segment attributable to the right stage
      // instead of adjudicated by guesswork, and gates the prep's own
      // growth law permanently.
      ("q_pagerank_prep",
        (s, dir, _) => SparkEntry.tradeGraphEdges(s, dir), null),
      // partitions-scale-with-data face (r19 adjudication probe): the
      // gate holds shuffle.partitions at 32 ACROSS scales, so per-task
      // sort/agg volume grows k-fold and the iteration loop crosses
      // into the spill regime at the top decade (x256: OOM at 16g,
      // segment 1.38 at 48g). A real cluster sizes partitions with the
      // data (SCALE.md partitioning doctrine — constant rows per
      // partition); this face applies that rule FROM THE GATE'S BASE:
      // max(32, scale) equals the gate's fixed 32 at x4/x16 (the face
      // only diverges at x64+), and per-task volume still grows ~8x
      // from x1 to x64 rather than holding constant (true constant
      // rows-per-partition would be 32*scale = 2048 partitions at x64
      // — task-overhead-dominated on one 32-thread JVM). What the
      // probe isolates is therefore the TOP-DECADE spill regime, which
      // is where the gate's super-linear segment lives; the committed
      // r19 adjudication readings (segment 1.38→1.13 / 1.40→1.16) were
      // measured under exactly this configuration (r19 ADVICE). The
      // eager count INSIDE the override is required: shuffle.partitions
      // is read at planning time, which a lazily-returned frame would
      // defer until after the conf is restored.
      ("q_pagerank_scaledparts", (s, dir, scale) =>
        withShufflePartitions(s, math.max(32, scale)) {
          val n = SparkEntry.queries("q_pagerank")(s, dir).count()
          s.range(n).limit(1).toDF()
        }, null),
      // same face for the k-core/co-purchase family (its prep is the
      // heaviest graph prep on the board: a lineitem SELF-join)
      ("q_kcore_scaledparts", (s, dir, scale) =>
        withShufflePartitions(s, math.max(32, scale)) {
          val n = SparkEntry.queries("q_kcore")(s, dir).count()
          s.range(n).limit(1).toDF()
        }, null),
      ("q_kcore", q("q_kcore"), null),
      // stage attribution for q_kcore (r19): its cost = the
      // co-purchase pair prep (lineitem SELF-join + pair-count agg —
      // the heaviest graph prep on the board) + the peel loop.
      // Disjoint inflation copies keep peel rounds CONSTANT, so any
      // super-linear segment must be attributed prep-vs-peel before
      // it is adjudicated.
      ("q_kcore_prep",
        (s, dir, _) => SparkEntry.coPurchasePairs(s, dir), null),
      // retrieval (documents; vocab grows k-fold with the copy tags)
      ("q_tfidf", q("q_tfidf"), null),
      // decontamination (documents vs fixed benchmark gram set)
      ("q_decontam", q("q_decontam"), null),
      // SimHash Hamming pairs (documents; chunk-blocked, never all-pairs)
      ("q_simhash_pairs", q("q_simhash_pairs"), null),
      // exact-substring dedup (documents; grouped segment hashing)
      ("q_substr_dedup", q("q_substr_dedup"), null),
      // stateful event-order analytics (events; gaps-and-islands)
      ("q_sessionize", q("q_sessionize"), null),
      // sketch rollup (events; fixed-width HLL registers per cell)
      ("q_hll_rollup", q("q_hll_rollup"), null),
      // finance core (events is the 100 TB table; copies are disjoint
      // user populations — per-user event counts unchanged, k× users)
      ("q_j3_asof", q("q_j3_asof"), null),       // as-of join (union+window)
      ("q_a1_oi", q("q_a1_oi"), null),           // OI panel (map-side agg)
      ("q_w3_rolling", q("q_w3_rolling"), null), // per-key feature window
      ("q_m8_rolling_refit", q("q_m8_rolling_refit"), null), // rolling OLS
      ("q_ep2_full", q("q_ep2_full"), null),     // full M8→M11→M10 chain
      // EP1/EP3 (r15): the reference's PRIMARY workload composed through
      // Pipelines.ep1/ep3ClOpSignal. Inflated events multiply rows per
      // (ticker, day, bin) while the panel surface stays fixed, so the
      // chains must stay scan/partial-agg-dominated — a regression to a
      // bin-level window or a non-broadcast dim join would show here
      ("q_ep1_full", q("q_ep1_full"), null),
      ("q_ep3_full", q("q_ep3_full"), null),
      // SemDeDup both faces (embeddings)
      ("q_semdedup_fixedk", q("q_semdedup"),
        "fixed k=4 configuration: cell size grows with n, within-cell " +
          "pairs grow ~n^2/k by design; the scale path is k ∝ n " +
          "(semdedup_scaledk below) — SemDeDup paper uses 50k clusters " +
          "at corpus scale"),
      // k ∝ n keeps CELLS constant (linear pair work) but makes flat
      // Lloyd assignment O(n·k) = O(n²) by algebra — measured r16 at
      // slope 1.61 over the 64x→256x decade (939 s at x256; the r15
      // 'cache residency' adjudication of the 0.74 reading was WRONG —
      // the assignment quadratic was emerging). Kept (capped, exempt
      // with a quadratic ceiling) as the documented flat face; the
      // linear corpus-scale face is semdedup_sharded below.
      ("semdedup_scaledk", (s, dir, scale) =>
        Clustering.semDedup(Tables.embeddings(s, dir), "vec_id",
            "embedding", k = 4 * scale, maxIter = 2, minCosine = 0.4)
          .select(col("vec_id"), col("label")),
        "flat Lloyd assignment is O(n·k); with k ∝ n that is O(n²) by " +
          "algebra (slope 1.61 measured over 64x→256x) — the linear " +
          "corpus-scale face is semdedup_sharded"),
      // the corpus-scale SemDeDup: O(n) SRP pre-shard (constant target
      // shard size), constant cells per shard, same deterministic
      // k-means inside — every stage linear; blocking recall tradeoff
      // documented on the operator (Clustering.semDupPairsSharded)
      ("semdedup_sharded", (s, dir, _) =>
        Clustering.semDedupSharded(Tables.embeddings(s, dir), "vec_id",
            "embedding", shardSizeTarget = 2000, cellsPerShard = 4,
            maxIter = 2, minCosine = 0.4)
          .select(col("vec_id"), col("label")), null),
      // streaming THROUGHPUT face (events): the complete-mode OI
      // aggregation replayed over the inflated events table in a
      // CONSTANT four micro-batches (time-quartile files). State is
      // O(bins) — constant, because inflation multiplies density on the
      // same time span — while rows per batch grow k-fold, so the entry
      // measures the stateful-agg shuffle + state-store THROUGHPUT path.
      // Complements StreamingStateSoakSpec, which pins state SIZE.
      ("stream_oi_replay", (s, dir, _) => {
        val root = streamScaleFixture(s, dir)
        val schema = s.read.parquet(root).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(root)
        val hourNs = 3600L * 1000L * 1000L * 1000L
        val oi = graft.operators.Imbalance.orderImbalance(
          stream.withColumn("bin_ns",
            graft.operators.TimeBins.ceilNs(col("ts_ns"), hourNs)),
          Seq(col("bin_ns")),
          when(col("event_type").isin("click", "view", "purchase"), -1)
            .otherwise(1),
          col("value"))
        withShufflePartitions(s, 8) {
          graft.streaming.StreamingOi.replayComplete(oi,
            "graft_scale_stream_oi_" +
              graft.streaming.StreamingOi.nextSinkId())
        }
      }, null),
      // streaming STATE-GROWTH face (events): first-copy-wins dedup on
      // the copy-shifted event id — live state per watermark horizon
      // grows k-fold (k× distinct keys on the same time span), eviction
      // runs at every batch boundary, and the counting sink keeps the
      // driver's O(output) collection out of the measurement. The
      // 100 TB streaming question this gates: per-key state machinery
      // must stay linear in keys.
      ("stream_dedup_replay", (s, dir, _) => {
        val root = streamScaleFixture(s, dir)
        val schema = s.read.parquet(root).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(root)
        val kept = graft.streaming.StreamingDedup.firstCopy(
          stream, "event_id", "event_time", "10 minutes")
        withShufflePartitions(s, 8) {
          graft.streaming.StreamingOi.replayCounted(
            kept.select(col("event_id")),
            "graft_scale_stream_dedup_" +
              graft.streaming.StreamingOi.nextSinkId())
        }
      }, null))
  }

  /** Write the k-times inflated sf0.1 tables under `outDir` (same file
    * names Tables.load expects). Idempotent via a _BUILT marker.
    * Package-visible so ScaleBenchSpec can pin the inflation invariants
    * (exact k-times counts, within-copy cosine/shingle preservation,
    * cross-copy decorrelation) at sf0.001. */
  /** Every table [[inflate]] knows how to scale. */
  private[graft] val AllTables: Set[String] =
    Set("events", "documents", "embeddings", "lineitem", "orders")

  private[graft] def inflate(spark: SparkSession, srcDir: String,
                             outDir: String, k: Int,
                             tables: Set[String] = AllTables): Unit = {
    require(tables.nonEmpty && tables.subsetOf(AllTables),
      s"inflate: unknown tables ${(tables -- AllTables).mkString(",")}")
    // marker records WHAT was built (source + factor + table set): a
    // dir left over from a different SPARK_GRAFT_SF_DIR would otherwise
    // be silently reused against a mismatched 1x baseline and every
    // slope would compare different datasets. A build is reused when
    // its recorded table set COVERS the requested one (a full build
    // serves any subset probe; a subset build never serves a fuller
    // request).
    val marker = new java.io.File(s"$outDir/_BUILT")
    // v2: user-id copy shift moved to 10^12 (streaming-probe range fix);
    // the version in the tag forces stale v1 builds to regenerate
    val base = s"src=${new java.io.File(srcDir).getAbsolutePath} k=$k v2"
    // a same-base marker's recorded set stays VALID on disk when we add
    // more tables to the dir — the final tag must be the UNION, or
    // building {embeddings} then {documents} would record only
    // tables=documents and force a pointless embeddings rebuild on the
    // next embeddings request (r16 ADVICE)
    val priorTables: Set[String] =
      if (!marker.exists()) Set.empty
      else {
        val stored = new String(java.nio.file.Files.readAllBytes(
          marker.toPath), "UTF-8").trim
        if (!stored.startsWith(base)) Set.empty // different src/k: dir invalid
        else if (stored.contains(" tables="))
          stored.split(" tables=").last.split(",").toSet
        else AllTables // pre-r16 markers were always full builds
      }
    if (tables.subsetOf(priorTables)) return
    val allAfterBuild = tables ++ priorTables
    val tag =
      if (allAfterBuild == AllTables) base
      else s"$base tables=${allAfterBuild.toSeq.sorted.mkString(",")}"
    val copies = 0 until k

    def unionCopies(mk: Int => DataFrame): DataFrame =
      copies.map(mk).reduce(_ unionByName _)

    if (tables("events")) {
      val ev = spark.read.parquet(s"$srcDir/events.parquet")
      // user copies shift by 10^12, NOT 10^6: the streaming join fixtures
      // reserve the 1,000,000+event_id user range as a disjoint synthetic
      // probe space, so a 10^6 shift would land inflated copies exactly in
      // it and let real rows match probe rows. The guard makes the
      // disjointness assumption loud instead of silently violated if the
      // driver ever regenerates testdata with bigger id ranges.
      val mx = ev.agg(max(col("event_id")), max(col("user_id"))).head
      require(mx.getLong(0) < 10000000000L && mx.getLong(1) < 1000000000000L,
        s"inflate: base ids (${mx.getLong(0)}, ${mx.getLong(1)}) exceed the " +
          "copy-shift constants; raise the shifts before inflating")
      unionCopies { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * 10000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000000000L))
      }.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    if (tables("documents")) {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      unionCopies { i =>
        if (i == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(i * 1000000000L))
          .withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              w => concat(w, lit(s"~$i")))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

    if (tables("embeddings")) {
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      unionCopies { i =>
        if (i == 0) emb
        else emb
          .withColumn("vec_id", col("vec_id") + lit(i * 1000000000L))
          .withColumn("embedding", transform(col("embedding"),
            (x, j) => when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x)
              .otherwise(-x)))
      }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }

    if (tables("lineitem")) {
      val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
      unionCopies { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
      }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }

    if (tables("orders")) {
      val ord = spark.read.parquet(s"$srcDir/orders.parquet")
      unionCopies { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L))
      }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    }

    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, (tag + "\n").getBytes("UTF-8"))
    ()
  }

  /** The steepest adjacent-pair segment slope among segments whose
    * endpoint times BOTH clear `floor` seconds; None when no segment
    * qualifies or any time is an error sentinel (< 0). */
  private[graft] def widestSegment(times: Seq[(Int, Double)],
                                   floor: Double): Option[Double] =
    if (times.exists(_._2 < 0)) None
    else times.sliding(2).collect {
      case Seq((k1, t1), (k2, t2)) if t1 >= floor && t2 >= floor =>
        math.log(t2 / t1) / math.log(k2.toDouble / k1)
    }.maxOption

  /** Monotonicity repair (r18 verdict item 4): any size reading ABOVE
    * its larger neighbor is re-measured via `measure` (min kept —
    * contention only ever adds time); a cleaned midpoint can expose an
    * inversion one step earlier, so the scan backs up. Returns the
    * repaired series and the sizes re-measured. */
  private[graft] def resolveInversions(initial: Seq[(Int, Double)],
      measure: Int => Double): (Seq[(Int, Double)], List[Int]) = {
    var times = initial
    var remeasured = List.empty[Int]
    var i = 0
    while (i < times.size - 1) {
      val (k1, t1) = times(i)
      val (_, t2) = times(i + 1)
      if (t1 >= 0 && t2 >= 0 && t1 > t2 && !remeasured.contains(k1)) {
        // the re-measure can itself fail: measure returns the -1.0
        // error sentinel on a throw, and min(clean, -1.0) would replace
        // a VALID reading with an error, poisoning the whole entry
        // (slope null, ok=false): a re-measurement that throws must
        // never flag a size that already measured clean (r19 ADVICE)
        val r = measure(k1)
        times = times.updated(i, k1 -> (if (r >= 0) math.min(t1, r) else t1))
        remeasured ::= k1
        i = math.max(i - 1, 0)
      } else i += 1
    }
    (times, remeasured)
  }

  private[graft] def fitSlope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size.toDouble
    val xb = xs.sum / n
    val yb = ys.sum / n
    val num = xs.zip(ys).map { case (x, y) => (x - xb) * (y - yb) }.sum
    val den = xs.map(x => (x - xb) * (x - xb)).sum
    num / den
  }

  def main(args: Array[String]): Unit = {
    // bypass SparkEntry's per-run shared fixtures (trade-graph edge
    // prep): the scale gate must measure each entry's FULL uncached
    // cost at every scale and rep — a warm-rep cache would remove the
    // edge prep (the one memory-marginal stage, the reason for the 16g
    // protocol) from the measured growth law, and the pinned frames
    // would accumulate across inflated dirs
    System.setProperty("graft.noSharedFixtures", "1")
    // and the small-input fast paths (Par.fanOut, the CC driver
    // union-find): growth laws must measure the SCALE path — the code
    // shape that runs at 100 TB — not a curve that switches
    // implementation at the probe size where a fast path disengages
    System.setProperty("graft.noSmallInputFastPaths", "1")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpusFromEnv
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the x64 graph entries are memory-marginal at the 8g default heap
    // under local[32] (32 concurrent SMJ+hash-agg tasks exhausted the
    // execution pool late r17, on BOTH pre- and post-optimization code
    // — UNABLE_TO_ACQUIRE_MEMORY in the edge-prep distinct, and a
    // higher AQE initialPartitionNum did not relieve it). The gate
    // protocol heap is therefore 16g (SPARK_DRIVER_MEM=16g), the r14
    // core-scaling lesson applied here, and the artifact stamps
    // heap_gb so an off-protocol refit is visible instead of silent.
    // stamp rounds to nearest GiB; the FLOOR check runs on raw bytes
    // with a survivor-space slack so a true 11.5-11.99g heap can't
    // round up past it, and an uncapped JVM (maxMemory=Long.MaxValue)
    // stamps -1 instead of an overflowed negative (r18 ADVICE)
    val maxHeapBytes = Runtime.getRuntime.maxMemory()
    val heapGb = Bench.heapGbStamp(maxHeapBytes)
    if (Bench.heapBelowFloor(maxHeapBytes, 12))
      System.err.println(s"[scale] WARNING: heap ${heapGb}g " +
        s"($maxHeapBytes bytes) is below the " +
        "16g gate protocol (SPARK_DRIVER_MEM=16g) — x64 graph entries " +
        "can exhaust the execution pool at 8g")

    // SPARK_GRAFT_SCALE_TABLES limits the inflation to the listed
    // tables (e.g. "embeddings" for the wide-decade ANN probes, where
    // a full x256 events build would dwarf the measurement) — the
    // _BUILT marker records the set, so a partial build is never
    // silently reused for entries needing other tables
    val scaleTables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllTables)
    val sizes = Sizes
    val dirs: Map[Int, String] = sizes.map { k =>
      if (k == 1) k -> srcDir
      else {
        val out = s"target/scalebench/x$k"
        System.err.println(s"[scale] building x$k under $out ...")
        inflate(spark, srcDir, out, k, scaleTables)
        k -> out
      }
    }.toMap
    if (buildOnly) {
      System.err.println(s"[scale] build-only: ${dirs.values.mkString(", ")}")
      spark.stop()
      return
    }
    require(sizes.size >= 2,
      s"need >= 2 sizes to fit a slope, got ${sizes.mkString(",")} " +
        "(single-size builds go through SPARK_GRAFT_SCALE_BUILD_ONLY)")

    // a typo'd SPARK_GRAFT_ONLY must fail loudly, not gate-pass an
    // empty run (same contract as Bench)
    val known = entries.map(_._1).toSet
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no entries")
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown entries: ${unknown.mkString(", ")}")
    }
    val chosen = entries.filter { case (n, _, _) =>
      only.fold(!ProbeOnly(n))(_(n)) }
    def fmt(v: Double): String = f"$v%.3f"
    var failures = List.empty[String]
    var skipped = List.empty[String]
    val results = chosen.flatMap { case (name, fn, exempt) =>
      // a broken entry must FAIL the gate with attribution and let the
      // rest of the run complete — not crash with no artifact. A failed
      // size records -1 and poisons the entry (slope null, ok false).
      val entrySizes = sizes.filter(_ <= MaxSize.getOrElse(name, Int.MaxValue))
      if (entrySizes.size < 2) {
        // a SIZES override entirely above this entry's cap would
        // otherwise "fit" a slope over <2 points (NaN) and ride its
        // exemption to ok=true with no timing run at all — skip LOUDLY
        // and record the skip in the artifact instead
        System.err.println(s"[scale] $name SKIPPED: only " +
          s"${entrySizes.size} of sizes ${sizes.mkString(",")} fit " +
          s"under its cap ${MaxSize(name)} — need >= 2 to fit a slope")
        skipped ::= name
        None
      } else Some {
      def measureAt(k: Int): Double = {
        val dir = dirs(k)
        // one warm-up materialization, then min-of-reps (Bench rationale)
        val t =
          try {
            fn(spark, dir, k).count()
            (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, dir, k).count()
              (System.nanoTime() - t0) / 1e9
            }.min
          } catch { case e: Throwable =>
            System.err.println(s"[scale] $name x$k FAILED: $e")
            -1.0
          }
        // full block hygiene (Bench discipline): clearCache misses
        // RDD-level localCheckpoint blocks, which otherwise accumulate
        // across the 27-entry x 4-size run and inflate late entries
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.err.println(s"[scale] $name x$k: ${fmt(t)} s")
        t
      }
      // in-run monotonicity check (r18 verdict item 4): the r18
      // "cleared window" artifact still carried two rows where a
      // smaller size read ABOVE a 4x-larger one (pack_chunks x16 2.44
      // vs x64 0.66) — mid-size contamination the window-clearing rule
      // (calib + small-size absolutes) provably cannot catch. Any such
      // inversion re-measures the SMALLER size once (min kept:
      // contention only ever adds time); a surviving inversion is
      // stamped nonmonotone so no fit silently rides a poisoned row.
      val (times, remeasured) = resolveInversions(
        entrySizes.map(k => k -> measureAt(k)),
        k => {
          System.err.println(s"[scale] $name NON-MONOTONE at x$k — " +
            "re-measuring")
          measureAt(k)
        })
      val nonmonotone = times.sliding(2).exists {
        case Seq((_, t1), (_, t2)) => t1 >= 0 && t2 >= 0 && t1 > t2
        case _ => false
      }
      val errored = times.exists(_._2 < 0)
      val slope =
        if (errored) Double.NaN
        else fitSlope(times.map(t => math.log(t._1.toDouble)),
          times.map(t => math.log(t._2)))
      // the steepest adjacent segment whose endpoints BOTH clear the
      // absolute-time floor (overhead-dominated sub-second readings
      // would false-flag); null when no segment qualifies
      val widestSeg: Option[Double] = widestSegment(times, SegTimeFloorSec)
      // exempt entries trade the linear gate for their DECLARED growth
      // ceiling (ExemptMaxSlope — worse-than-documented still fails);
      // the widest segment gates against the same threshold as the fit
      val gate = if (exempt == null) SlopeGate else ExemptMaxSlope(name)
      val segGate = if (exempt == null) SegGate else ExemptMaxSlope(name)
      val ok = !errored && slope <= gate && widestSeg.forall(_ <= segGate)
      if (!ok) failures ::= name
      System.err.println(f"[scale] $name slope = $slope%.2f" +
        widestSeg.fold("")(w => f" widest_seg = $w%.2f") + " " +
        (if (errored) "(ERROR)"
        else if (exempt != null)
          f"(EXEMPT, ceiling $gate%.1f${if (ok) "" else " EXCEEDED"})"
        else if (ok) "(ok)" else "(FAIL)"))
      (name, times, slope, widestSeg, nonmonotone, remeasured, exempt, ok)
      }
    }

    val json = results.map {
      case (name, times, slope, widestSeg, nonmonotone, remeasured,
          exempt, ok) =>
      val ts = times.map { case (k, t) => s""""x$k":${fmt(t)}""" }
        .mkString(",")
      val sl = if (slope.isNaN) "null" else fmt(slope)
      val ws = widestSeg.fold("null")(fmt)
      val rm = remeasured.sorted.mkString("[", ",", "]")
      val ex = if (exempt == null) "null"
        else "\"" + exempt.replace("\"", "'") + "\""
      val ceil = if (exempt == null) "null" else fmt(ExemptMaxSlope(name))
      s""""$name":{$ts,"slope":$sl,"widest_seg":$ws,"nonmonotone":$nonmonotone,"remeasured":$rm,"exempt":$ex,"exempt_ceiling":$ceil,"ok":$ok}"""
    }.mkString("{", ",", "}")
    val sk = skipped.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"scale_slopes","gate":$SlopeGate,"seg_gate":$SegGate,"seg_floor_sec":$SegTimeFloorSec,"reps":$reps,"cpus":"$cpus","heap_gb":$heapGb,"sizes":[${sizes.mkString(",")}],"sf":"$srcDir","n_fail":${failures.size},"skipped":$sk,"queries":$json}"""
    // same artifact discipline as Bench: a subset or off-default-sizes
    // probe must never clobber the committed full-gate artifact (the
    // r15/r16 probe sessions each had to hand-restore SCALE_SLOPES.json
    // after SPARK_GRAFT_ONLY runs)
    val slopesPath =
      if (only.isDefined || sys.env.contains("SPARK_GRAFT_SCALE_SIZES"))
        "SCALE_SLOPES_subset.json"
      else "SCALE_SLOPES.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(slopesPath),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[scale] SLOPE GATE FAILED: " +
        failures.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
