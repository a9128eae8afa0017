package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{RowFrame,
  SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
  WindowExpression}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-quality regression guards: the physical plans the 100 TB design
  * depends on (SCALE.md) must survive refactors. Checked against sf0.001
  * so the suite stays fast; the asserted properties are size-independent
  * (explicit broadcast hints, filter pushdown, map-side partial
  * aggregation). */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_p2: filters reach the parquet scan (PushedFilters)") {
    val p = plan("q_p2_filter_project")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
    // plan strings truncate long filter lists — match the stable prefix
    assert(p.contains("GreaterThanOrEqual(l_qu"), p.take(2000))
  }

  test("q_p2: scan reads only referenced columns") {
    val p = plan("q_p2_filter_project")
    // 16-column lineitem pruned to the 6 referenced ones
    assert(p.contains("ReadSchema"), p.take(500))
    assert(!p.contains("l_comment"), "unreferenced column not pruned")
    assert(!p.contains("l_shipdate"), "unreferenced column not pruned")
  }

  test("q_j2: dimension joins are broadcast hash joins, fact side streams") {
    val p = plan("q_j2_equi_join")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "small-dim join degraded to sort-merge:\n" + p.take(1500))
  }

  test("q_a1: aggregation is map-side partial before one exchange") {
    val p = plan("q_a1_oi")
    assert(p.contains("partial_sum"), p.take(1200))
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      "OI panel must shuffle exactly once:\n" + p.take(1500))
  }

  test("q_j6: all three dimension joins broadcast") {
    val p = plan("q_j6_dim_join")
    val n = p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin")
    assert(n == 3, s"expected 3 broadcast joins, saw $n:\n" + p.take(1500))
  }

  test("q_w1: all window columns share one Window operator (one sort)") {
    val p = plan("q_w1_lag_lead")
    val n = p.sliding("Window".length).count(_ == "Window") -
      p.sliding("WindowGroupLimit".length).count(_ == "WindowGroupLimit")
    assert(p.contains("lag") && p.contains("lead"))
    assert(n <= 2, s"window fan-out (saw $n Window nodes):\n" + p.take(1500))
  }

  private def occurrences(p: String, needle: String): Int =
    p.sliding(needle.length).count(_ == needle)

  test("rollingRefitSignals: panel aggregates map-side once; the day-level " +
    "betas broadcast back (no sort-merge join of the panel)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    val rows = for (d <- 10 to 16; b <- 1 to 3) yield
      Row("T", java.sql.Date.valueOf(s"2024-01-$d"), b.toLong,
        d * 0.1 + b, d * 0.2 - b)
    val panel = df(
      "ticker STRING, date DATE, bin_ns BIGINT, x DOUBLE, y DOUBLE", rows: _*)
    val p = graft.domain.Strategy
      .rollingRefitSignals(panel, "y", Seq("x"), lookback = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "betas must broadcast-join back onto the panel:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "panel side must not sort-merge:\n" + p.take(1500))
    assert(p.contains("partial_sum"),
      "day moments must combine map-side:\n" + p.take(1500))
  }

  test("trailingTopPerformers: two window shuffles, nothing else") {
    import org.apache.spark.sql.Row
    val rows = for (t <- Seq("A", "B"); d <- 1 to 5) yield
      Row(t, java.sql.Date.valueOf(s"2024-03-0$d"), d * 1.0)
    val pnl = df("ticker STRING, date DATE, pnl DOUBLE", rows: _*)
    val p = graft.domain.Strategy.trailingTopPerformers(pnl, 2, 1)
      .queryExecution.executedPlan.toString
    assert(occurrences(p, "Exchange hashpartitioning") == 2,
      "expected exactly the trailing-sum and rank shuffles:\n" + p.take(1500))
    assert(!p.contains("Join"), "no join belongs in this plan")
  }

  test("bernoulliSample / hashSplitTag: row-local, zero exchanges") {
    val docs = graft.core.Tables.documents(spark, sf)
    val pSample = graft.operators.Sampling
      .bernoulliSample(docs, "doc_id", 0.1)
      .queryExecution.executedPlan.toString
    assert(!pSample.contains("Exchange"),
      "a Bernoulli hash sample must not shuffle:\n" + pSample.take(1000))
    val pSplit = graft.operators.Sampling
      .hashSplitTag(docs, "doc_id", 0.25)
      .queryExecution.executedPlan.toString
    assert(!pSplit.contains("Exchange"),
      "a hash split tag must not shuffle:\n" + pSplit.take(1000))
  }

  test("stratifiedExactN: exactly the one strata-window shuffle; " +
    "mixSources: zero shuffles") {
    val docs = graft.core.Tables.documents(spark, sf)
    val pStrat = graft.operators.Sampling
      .stratifiedExactN(docs, Seq("lang"), "doc_id", 5)
      .queryExecution.executedPlan.toString
    assert(occurrences(pStrat, "Exchange hashpartitioning") == 1,
      pStrat.take(1200))
    val pMix = graft.operators.Sampling
      .mixSources(docs, "source", Map("src0" -> 0.5), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!pMix.contains("Exchange"), pMix.take(1000))
  }

  test("concatChunks: the only full-data shuffle is the per-shard window; " +
    "shard offsets come back as a broadcast join") {
    val docs = graft.core.Tables.documents(spark, sf)
    val p = graft.operators.Packing
      .concatChunks(docs, "doc_id", "n_chars", budget = 4096L, nShards = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "shard offsets must broadcast, not shuffle the corpus:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // full-data exchanges: the per-shard window partitioning (the
    // offsets-side exchanges are over an nShards-row aggregate)
    assert(occurrences(p, "Exchange hashpartitioning(__shard") <= 2,
      p.take(2000))
  }

  test("nearDupPairs bucketed path: band-bucket equi-join, never a " +
    "cartesian / broadcast nested loop") {
    import org.apache.spark.sql.Row
    val vecs = df("id BIGINT, v ARRAY<DOUBLE>",
      (1 to 6).map(i => Row(i.toLong, Seq(i * 1.0, 1.0, 0.5))): _*)
    val p = graft.operators.Similarity
      .nearDupPairs(vecs, "id", "v", 0.95, broadcastLimit = 0L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("MinHash-LSH banding keys on slot values: no ArrayAggregate in the " +
    "band projection of minHashLshPairs, nearDupAgainst or q_curate") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate,
      PosExplode}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, IncrementalDedup}
    // the band projection is the posexplode over per-band keys; an
    // interpreted fold there (a hashed bucket built with `aggregate`)
    // leaves codegen for every band of every row
    def bandGenerators(d: DataFrame): Seq[Generate] =
      d.queryExecution.optimizedPlan.collect {
        case g: Generate if g.generator.isInstanceOf[PosExplode] => g
      }
    val docs = graft.core.Tables.documents(spark, sf)
    def sigs(d: DataFrame) = d.select(col("doc_id").as("id"),
      Dedup.minHashSignature(col("text"), n = 3, k = 32).as("sig"))
    val plans = Seq(
      "minHashLshPairs" -> Dedup.minHashLshPairs(docs, "doc_id", "text"),
      "nearDupAgainst" -> IncrementalDedup.nearDupAgainst(
        sigs(docs.filter(col("source") =!= "src0")),
        sigs(docs.filter(col("source") === "src0")), 8, 4),
      "q_curate" -> SparkEntry.queries("q_curate")(spark, sf))
    plans.foreach { case (name, d) =>
      val gens = bandGenerators(d)
      assert(gens.nonEmpty, s"$name: no band posexplode in the plan")
      gens.foreach(g => assert(
        g.generator.find(_.isInstanceOf[ArrayAggregate]).isEmpty,
        s"$name: interpreted fold in the band projection:\n$g"))
    }
  }

  test("q_bm25: corpus stats broadcast, top-k is TakeOrdered (no global " +
    "sort), nothing sort-merges") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort:\n" + p.take(1500))
    assert(p.contains("BroadcastExchange"),
      "1-row stats frame must broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q_decontam: bench n-gram set broadcasts into a left-semi probe") {
    val p = plan("q_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "decontam must probe a broadcast bench set map-side:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("embedding normalize is row-local (zero exchanges); mean pooling " +
    "partial-aggregates before its one exchange") {
    val pn = plan("q_embed_normalize")
    assert(!pn.contains("Exchange hashpartitioning"),
      "normalization must not shuffle:\n" + pn.take(1500))
    val pm = plan("q_embed_meanpool")
    assert(pm.contains("partial_sum"), pm.take(1500))
    assert(occurrences(pm, "Exchange hashpartitioning") == 1,
      "mean pooling must shuffle exactly once:\n" + pm.take(2000))
  }

  test("q_seg_dedup: corpus segment counts partial-aggregate map-side; " +
    "no corpus-wide window, no sort-merge join on the segment stats") {
    val p = plan("q_seg_dedup_drop")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "segment stats must combine map-side:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the min(struct) winner must come from the aggregate, not a
    // window over the exploded corpus
    assert(!p.contains("RunningWindowFunction"), p.take(1500))
  }

  test("q_substr_dedup: window counts partial-aggregate map-side; " +
    "no corpus-wide window, no cartesian product") {
    val p = plan("q_substr_dedup")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "window counts must combine map-side:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("RunningWindowFunction"), p.take(1500))
  }

  test("q_repetition: Gopher signals are one row-local projection " +
    "(zero exchanges)") {
    val p = plan("q_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      "repetition signals must not shuffle:\n" + p.take(1500))
  }

  /** Every `Exchange SinglePartition` in the plan must feed from an
    * aggregate, never directly from a scan: in the two-level-scan idiom
    * the only single-partitioned frame is the tiny post-HashAggregate
    * offsets branch (Catalyst constant-folds the lit(0) partition key,
    * so the exchange DOES appear — the invariant is what it carries).
    * In the tree string a node's input subtree is printed below it, so
    * an aggregated input shows "HashAggregate" between the exchange and
    * the branch's leaf scan. */
  private def assertSinglePartitionOnlyOverAggregates(
      q: String, p: String): Unit = {
    val needle = "Exchange SinglePartition"
    var i = p.indexOf(needle)
    while (i >= 0) {
      val rest = p.substring(i + needle.length)
      val agg = rest.indexOf("HashAggregate")
      val scan = rest.indexOf("FileScan")
      assert(agg >= 0 && (scan < 0 || agg < scan),
        s"$q single-partitions a non-aggregated (corpus-sized) branch:\n" +
          p.substring(i).take(2000))
      i = p.indexOf(needle, i + needle.length)
    }
  }

  test("q_balanced_shard / q_group_pct: the corpus-side window is " +
      "partitioned; any single-partition exchange carries only the " +
      "post-aggregate offsets frame, which arrives via broadcast") {
    for (q <- Seq("q_balanced_shard", "q_group_pct")) {
      val p = plan(q)
      assert(p.contains("Exchange hashpartitioning"),
        s"$q corpus window lost its partitioning:\n" + p.take(2000))
      assert(p.contains("BroadcastHashJoin"),
        s"$q offsets frame not broadcast:\n" + p.take(2000))
      assertSinglePartitionOnlyOverAggregates(q, p)
    }
  }

  test("q_bloom_incr_dedup: one exact verify join total — the bloom-miss " +
      "branch contributes a join-free row-local filter") {
    val p = plan("q_bloom_incr_dedup")
    // both branches of the union are in this one plan: the candidates
    // branch carries the single anti-join, the miss branch only the
    // getbit probe filter
    assert(occurrences(p, "LeftAnti") == 1,
      "expected exactly one anti-join:\n" + p.take(2000))
    assert(p.contains("getbit"), "bloom probe not in the plan:\n" + p.take(2000))
  }

  test("q_mixture_apply: plan joins broadcast; replication is a " +
    "row-local Generate, no shuffle after the plan aggregation") {
    val p = plan("q_mixture_apply")
    assert(p.contains("BroadcastHashJoin"),
      "mixture plan must broadcast onto the corpus:\n" + p.take(1500))
    assert(p.contains("Generate"),
      "epoch replication must be a Generate:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_hll_distinct: registers partial-aggregate map-side (partial_max " +
    "before the register exchange); tiny frames join broadcast") {
    val p = plan("q_hll_distinct")
    assert(p.contains("partial_max"),
      "register max must combine map-side:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q_cms_counts: sketch cells partial-aggregate; the probe joins " +
    "the broadcast sketch, never sort-merges") {
    val p = plan("q_cms_counts")
    assert(p.contains("partial_sum"),
      "cell counts must combine map-side:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "sketch probe must broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_weighted_topk: selection is TakeOrdered (bounded per-partition " +
    "heaps), not a global sort exchange") {
    val p = plan("q_weighted_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "A-ES top-k must be TakeOrdered:\n" + p.take(1500))
  }

  test("q_unimax_plan / q_unimax_apply: windows only over the per-source " +
    "aggregate; apply broadcasts the plan and replicates row-locally") {
    val pp = plan("q_unimax_plan")
    assertSinglePartitionOnlyOverAggregates("q_unimax_plan", pp)
    val pa = plan("q_unimax_apply")
    assert(pa.contains("BroadcastHashJoin"),
      "unimax plan must broadcast onto the corpus:\n" + pa.take(1500))
    assert(pa.contains("Generate"),
      "epoch replication must be a Generate:\n" + pa.take(1500))
    assert(!pa.contains("SortMergeJoin"), pa.take(1500))
  }

  test("q_cms_join_size: both sketches partial-aggregate; the cell join " +
    "is tiny-frame (no sort-merge)") {
    val p = plan("q_cms_join_size")
    assert(p.contains("partial_sum"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_hist_quantile_fixed: one partial-aggregated pass to the cells " +
    "(no range pre-pass scan join)") {
    val p = plan("q_hist_quantile_fixed")
    assert(p.contains("partial_count"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // fixed grid: exactly one scan of documents
    assert(occurrences(p, "FileScan") == 1,
      "fixed-range sketch must scan the corpus once:\n" + p.take(2000))
  }

  test("q_stream_hll shape (batch face): the register frame is a plain " +
    "two-phase aggregate — bounded state per group on a stream") {
    // the streaming gate replays this same aggregation; pin the batch
    // plan's partial max so the streaming state stays register-bounded
    val regs = graft.operators.Sketches.hllSketch(
      graft.core.Tables.events(spark, sf), Seq("event_type"), "user_id",
      p = 10, seed = 4L)
    val p = regs.queryExecution.executedPlan.toString
    assert(p.contains("partial_max"), p.take(2000))
  }

  test("q_mad_outliers: both stats frames join broadcast; no " +
    "sort-merge join anywhere in the tagging plan") {
    val p = plan("q_mad_outliers")
    // 3 = outer MAD join + outer median join + the median join repeated
    // inside the MAD aggregation's subtree (the documented second scan)
    assert(occurrences(p, "BroadcastHashJoin") == 3,
      "stats frames must broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_session_paths: transition counts partial-aggregate after " +
    "ONE per-key window exchange — no (key, session) re-exchange") {
    val p = plan("q_session_paths")
    assert(p.contains("partial_count"), p.take(2000))
    assert(occurrences(p, "Exchange hashpartitioning") == 2,
      "expected window exchange + count exchange only:\n" + p.take(2000))
  }

  test("q_calibration: the reliability table is one two-phase " +
    "aggregation (partial sums before a single exchange)") {
    val p = plan("q_calibration")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      p.take(2000))
    assert(occurrences(p, "Exchange hashpartitioning") == 1,
      "calibration must shuffle exactly once:\n" + p.take(2000))
  }

  test("q_twap: one key-window exchange + one partial-agg bin count; " +
    "decimal partial sums present") {
    val p = plan("q_twap")
    assert(p.contains("partial_sum"), p.take(2000))
    // the (key, bin) groupBy is satisfied by the lead-window's
    // hash(user_id) distribution — the whole TWAP is ONE exchange
    assert(occurrences(p, "Exchange hashpartitioning") == 1,
      "TWAP must reuse the window exchange for the bin aggregate:\n" +
        p.take(2000))
  }

  test("q_mutual_info / q_chi_square: ONE corpus-frame exchange (the " +
    "joint count); marginals join broadcast, never sort-merge") {
    for (q <- Seq("q_mutual_info", "q_chi_square")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n" + p.take(2000))
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q:\n" + p.take(2000))
    }
  }

  test("q_ndcg: per-pool plans are TakeOrdered (no global sort " +
    "exchange for the top-k cut)") {
    val p = plan("q_ndcg")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("pageRank iteration: contribution counts partial-aggregate; " +
    "the dangling probe is an aggregate, not a collect of ranks") {
    // one manual iteration over a tiny edge frame — the per-iteration
    // plan is what survives at 100 TB
    import org.apache.spark.sql.functions._
    val e = df("src BIGINT, dst BIGINT",
      org.apache.spark.sql.Row(1L, 2L), org.apache.spark.sql.Row(2L, 3L),
      org.apache.spark.sql.Row(3L, 1L))
    val out = graft.operators.Graph.pageRank(e, "src", "dst",
      iterations = 2)
    val p = out.queryExecution.executedPlan.toString
    // the returned frame is the checkpointed final ranks — assert the
    // operator ran to a bounded plan (scan of the checkpoint, no joins
    // left in the result lineage: iteration work was cut per round)
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_mm_features: header synthesis + parse is one row-local " +
    "projection — zero exchanges, no UDF, scan pruned to (doc_id, text)") {
    val p = plan("q_mm_features")
    assert(!p.contains("Exchange"),
      "image-header parse must not shuffle:\n" + p.take(1500))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "parse must stay inside codegen'd built-ins:\n" + p.take(1500))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("source"),
      "scan must prune to the two referenced columns: " + read)
  }

  test("timeOrderSeq: per-slice window + broadcast offsets — the only " +
    "single-partition exchange carries the per-slice count aggregate") {
    val p = plan("q_o1_sort")
    assert(p.contains("BroadcastHashJoin"),
      "slice offsets must broadcast back, not shuffle the corpus:\n" +
        p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assertSinglePartitionOnlyOverAggregates("q_o1_sort", p)
  }

  test("q_purged_cv: ordinal + fold machinery all broadcast onto the " +
    "corpus (n frame, fold extents); no sort-merge join, no corpus " +
    "window without partitioning") {
    val p = plan("q_purged_cv")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the 1-row n frame and k-row extents must broadcast:\n" +
        p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "fold fan-out must be a BROADCAST cross join:\n" + p.take(2000))
    assertSinglePartitionOnlyOverAggregates("q_purged_cv", p)
  }

  test("q_pca projection plan: centered corpus joins the broadcast " +
    "component frame; iteration lineage is cut (no join pyramid, " +
    "one corpus scan + the literal components)") {
    val p = plan("q_pca")
    assert(p.contains("BroadcastHashJoin"),
      "components must broadcast onto the corpus:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // the power-iteration work ran eagerly (aggregates collected to the
    // driver, components re-entering as literals); the RETURNED plan
    // must scan the corpus exactly once (the projection pass) — a
    // cov-lineage leak would re-embed the scan per iteration
    assert(occurrences(p, "FileScan") == 1,
      "projection must be one corpus scan:\n" + p.take(2000))
  }

  test("codegen-fallback tripwire armed; q_bpe_train compiles under it") {
    // the shared session must keep fallback disabled so ANY gate query
    // whose generated code fails to compile throws loudly (SparkEntrySpec
    // runs them all); and the BPE trainer — the one confirmed r12
    // fallback — must execute under that regime
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false",
      "test session lost the codegen-fallback tripwire")
    val out = SparkEntry.queries("q_bpe_train")(spark, sf)
    assert(out.count() > 0)
    val seg = SparkEntry.queries("q_bpe_segment")(spark, sf)
    assert(seg.count() > 0)
  }

  /** Every gate's pre-AQE physical plan, built once for the plan walks
    * below. */
  private lazy val gatePlans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.sparkPlan
    }

  /** Window frames that end at the partition end but start after the
    * partition start, such as `[current+k, +inf)`. Spark re-aggregates
    * such a shrinking frame for every row, so its cost grows with the
    * square of the rows in one window partition; the same lookup over the
    * reversed order is a growing frame Spark evaluates in one pass. A
    * whole-partition frame is fine. */
  private def shrinkingFrames(plan: SparkPlan): Seq[String] =
    plan.collect { case w: WindowExec => w.windowExpression }.flatten
      .flatMap(_.collect {
        case we: WindowExpression => we.windowSpec.frameSpecification
      })
      .collect {
        case f @ SpecifiedWindowFrame(RowFrame, lower, UnboundedFollowing)
            if lower != UnboundedPreceding => f.sql
      }

  test("no shrinking window frame in any gate plan, the feature frame or " +
    "the iceberg tag; features shuffle once on (ticker, date) and sort " +
    "once per event order") {
    import scala.jdk.CollectionConverters._
    // a small prepped ticker-day as a local relation, so the plans hold
    // only what the code under test adds
    val d = graft.fixtures.LobsterFixture.preppedDay(spark, nEvents = 400)
    val localDay = spark.createDataFrame(d.collect().toSeq.asJava, d.schema)
    val features = graft.domain.Features.hiddenExecFeatures(localDay)
    val icebergs = graft.domain.Oi.tagIcebergs(localDay)
    val plans = gatePlans ++ Seq(
      "Features.hiddenExecFeatures" -> features.queryExecution.sparkPlan,
      "Oi.tagIcebergs" -> icebergs.queryExecution.sparkPlan)
    val offenders = plans.flatMap { case (name, plan) =>
      shrinkingFrames(plan).map(f => s"$name: $f")
    }
    assert(offenders.isEmpty,
      "shrinking frames (quadratic per window partition):\n" +
        offenders.mkString("\n"))
    val p = features.queryExecution.executedPlan.toString
    val byTickerDate =
      "Exchange hashpartitioning\\(ticker#\\d+, date#\\d+,".r
    assert(byTickerDate.findAllIn(p).size == 1,
      "every feature window must reuse ONE (ticker, date) exchange:\n" + p)
    assert(occurrences(p, "Exchange") == 1,
      "the feature frame must shuffle nothing else:\n" + p)
    assert(occurrences(p, "Sort [") == 2,
      "one sort per event order (ascending and descending):\n" + p)
  }

  test("gate-plan WindowExec audit: no unpartitioned window outside " +
    "the whitelisted bounded sites (COVERAGE.md inventory)") {
    // COVERAGE.md's r14 inventory documents every INTENDED
    // single-partition window (all over tiny post-aggregate frames —
    // O(days), O(groups), O(shards), top-k rows); the constant lit(k)
    // partition keys documenting the intent in source are
    // constant-folded out by Catalyst, so the executed node really is
    // unpartitioned and nothing FAILED if a future operator added an
    // unbounded one (r17 verdict item 6). This walk makes the
    // inventory executable: every gate plan is scanned for
    // WindowExec nodes with an empty partitionSpec, and any gate
    // exceeding its whitelisted count — or any NEW gate with one —
    // goes red and must either partition the window or justify a
    // whitelist entry with the bounded frame it runs over.
    // gate -> allowed unpartitioned-WindowExec count; the bounded frame
    // is noted per entry (sites: COVERAGE.md "WindowExec warning
    // inventory"). Counts are per PLAN NODE in the pre-AQE sparkPlan,
    // which does not dedup reused subtrees — so one bounded source
    // site can legitimately appear several times (q_purged_cv's single
    // timeOrderSeq offsets window shows up 4x because the `folded`
    // frame feeds both the fold-extent aggregate and the role
    // projection, each carrying its own copy of the ordinal subtree;
    // AQE's ReusedExchange collapses them at runtime).
    val allowed: Map[String, Int] = Map(
      // Prep.timeOrderSeq offsets: O(time-slices) per-slice counts
      "q_o1_sort" -> 1,
      "q_purged_cv" -> 4, // same site, subtree duplicated (see above)
      // Curation.tokenYieldCurve cumulative walk: <= `buckets` rows
      "q_token_yield" -> 1,
      // CorpusDiff drift shares: O(groups) count pairs
      "q_dist_drift" -> 1,
      "q_psi_drift" -> 1,
      // Strategy.rollingRefitSignals day-moment offsets: O(days) rows
      "q_ep2_full" -> 1,
      // Sharding balanced-shard offsets: O(buckets x slices) counts
      "q_balanced_shard" -> 1,
      // Packing shard offsets (ungrouped call): O(shards) counts
      "q_pack_chunks" -> 1,
      // Sampling.unimaxPlan caps/ordering: O(sources) rows (two
      // windows in plan + one duplicated subtree copy)
      "q_unimax_plan" -> 3,
      "q_unimax_apply" -> 3,
      // hybrid RRF ranking: <= 20-row fused top-k frame
      "q_hybrid_rrf" -> 1)
    val offenders = gatePlans
      .flatMap { case (name, plan) =>
        val n = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.size
        val cap = allowed.getOrElse(name, 0)
        if (n > cap) Some(s"$name: $n unpartitioned WindowExec " +
          s"(whitelisted $cap)")
        else None
      }
    assert(offenders.isEmpty,
      "unpartitioned windows outside the audited inventory:\n" +
        offenders.mkString("\n"))
  }

  test("personalized pageRank: seed confinement is row-local — the " +
    "per-iteration plan has exactly the exchanges of the global variant") {
    import org.apache.spark.sql.functions._
    val e = df("src BIGINT, dst BIGINT",
      org.apache.spark.sql.Row(1L, 2L), org.apache.spark.sql.Row(2L, 3L),
      org.apache.spark.sql.Row(3L, 1L), org.apache.spark.sql.Row(1L, 4L))
    def exchanges(p: String): Int =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // capture the UPDATE plan (not the checkpointed result): run one
    // iteration over a seeded and an unseeded run and compare the query
    // plans of the frames built the same way
    val global = graft.operators.Graph.pageRankRun(e, "src", "dst",
      iterations = 1)
    val seeded = graft.operators.Graph.pageRankRun(e, "src", "dst",
      iterations = 1, seedPred = Some(n => pmod(n, lit(2L)) === 0L))
    // both results are checkpoint scans; the invariant that matters is
    // that personalization added no join anywhere in the lineage — the
    // iteration internals are identical modulo the row-local seed flag
    val pg = global.ranks.queryExecution.executedPlan.toString
    val ps = seeded.ranks.queryExecution.executedPlan.toString
    assert(exchanges(ps) == exchanges(pg),
      s"seeding must not add exchanges:\n$ps")
    assert(!ps.contains("SortMergeJoin") && !ps.contains("BroadcastHash"),
      "seed membership must be a predicate, not a join:\n" + ps.take(1500))
  }
}
