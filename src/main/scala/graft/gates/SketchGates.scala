package graft
package gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._

import Shared._

/** Sketch and aggregation gates: HyperLogLog, count-min, histogram
  * quantiles, weighted top-k, rollups, salting and drift tests. */
object SketchGates {

  val gates: Seq[Gate] = Seq(

    // --- A14b: Anderson-Darling k-sample across event types per user ---
    Gate("q_ad_ksample", (s, dir) => {
      DistTests.andersonDarlingK(eventsNs(s, dir), Seq("user_id"),
          "event_type", "value", "event_id")
        .select(col("user_id"), r6(col("a2kn")).as("a2kn_micro"),
          col("n_pooled"), col("k_samples"))
    },
      // M_ij via lexicographic (value, event_id) comparison — identical
      // tie semantics to the Spark side's positional running counts
      s"""WITH e AS ($EventsNs),
         |pos AS (
         |  SELECT user_id, event_type, value, event_id,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value, event_id) AS j,
         |    COUNT(*) OVER (PARTITION BY user_id) AS N
         |  FROM e),
         |ni AS (SELECT user_id, event_type, COUNT(*)::DOUBLE AS n_i
         |  FROM e GROUP BY 1, 2),
         |m AS (
         |  SELECT p.user_id, p.j, p.N, r.event_type,
         |    COUNT(CASE WHEN r.value < p.value OR
         |      (r.value = p.value AND r.event_id <= p.event_id)
         |      THEN 1 END)::DOUBLE AS m_ij
         |  FROM pos p JOIN e r ON p.user_id = r.user_id
         |  WHERE p.j < p.N
         |  GROUP BY 1, 2, 3, 4),
         |terms AS (
         |  SELECT m.user_id,
         |    (m.N * m.m_ij - m.j * ni.n_i) * (m.N * m.m_ij - m.j * ni.n_i) /
         |      (m.j * (m.N - m.j)) / ni.n_i AS term, m.N
         |  FROM m JOIN ni ON m.user_id = ni.user_id
         |    AND m.event_type = ni.event_type)
         |SELECT user_id, ${R6("SUM(term) / ANY_VALUE(N)")} AS a2kn_micro,
         |  CAST(ANY_VALUE(N) AS BIGINT) AS n_pooled,
         |  (SELECT COUNT(DISTINCT event_type) FROM e x
         |    WHERE x.user_id = terms.user_id) AS k_samples
         |FROM terms GROUP BY user_id""".stripMargin),

    // --- LLM ops: mixture drift between releases — per-source share
    //     shift + Jensen-Shannon contribution (finite on appearing /
    //     disappearing sources, unlike KL) ---
    Gate("q_dist_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
      CorpusDiff.distributionDrift(old, neu, "source")
        .select(col("source"), col("n_old"), col("n_new"),
          r6(col("old_share")).as("old_share_micro"),
          r6(col("new_share")).as("new_share_micro"),
          r6(col("js_contrib") * lit(1000.0)).as("js_milli_micro"))
    },
      s"""WITH o AS (
         |  SELECT source, COUNT(*) AS n_old FROM documents
         |  WHERE doc_id % 7 <> 0 GROUP BY 1),
         |n AS (
         |  SELECT source, COUNT(*) AS n_new FROM documents
         |  WHERE doc_id % 5 <> 0 GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(o.source, n.source) AS source,
         |    CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         |    CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
         |  FROM o FULL OUTER JOIN n ON o.source = n.source),
         |s AS (
         |  SELECT source, n_old, n_new,
         |    n_old::DOUBLE / SUM(n_old) OVER () AS old_share,
         |    n_new::DOUBLE / SUM(n_new) OVER () AS new_share
         |  FROM j)
         |SELECT source, n_old, n_new,
         |  ${R6("old_share")} AS old_share_micro,
         |  ${R6("new_share")} AS new_share_micro,
         |  ${R6(
        """((CASE WHEN old_share > 0 THEN
          |      old_share * ln(old_share / ((old_share + new_share) / 2))
          |      ELSE 0 END
          |    + CASE WHEN new_share > 0 THEN
          |      new_share * ln(new_share / ((old_share + new_share) / 2))
          |      ELSE 0 END) / 2) * 1000""".stripMargin)} AS js_milli_micro
         |FROM s""".stripMargin),

    // --- LLM ops: PSI drift — the model-monitoring industry's number
    //     next to q_dist_drift's JS: same shares, eps-floored, weight
    //     is the share DIFFERENCE so every term is >= 0 ---
    Gate("q_psi_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
      CorpusDiff.psiDrift(old, neu, "source")
        .select(col("source"), col("n_old"), col("n_new"),
          r6(col("psi_contrib") * lit(1000.0)).as("psi_milli_micro"))
    },
      // q_psi_drift twin: the q_dist_drift share CTEs + the eps-floored
      // PSI functional (GREATEST against the 1e-6 floor on both sides)
      s"""WITH o AS (
         |  SELECT source, COUNT(*) AS n_old FROM documents
         |  WHERE doc_id % 7 <> 0 GROUP BY 1),
         |n AS (
         |  SELECT source, COUNT(*) AS n_new FROM documents
         |  WHERE doc_id % 5 <> 0 GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(o.source, n.source) AS source,
         |    CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         |    CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
         |  FROM o FULL OUTER JOIN n ON o.source = n.source),
         |s AS (
         |  SELECT source, n_old, n_new,
         |    GREATEST(n_old::DOUBLE / SUM(n_old) OVER (), 1e-6) AS p,
         |    GREATEST(n_new::DOUBLE / SUM(n_new) OVER (), 1e-6) AS q
         |  FROM j)
         |SELECT source, n_old, n_new,
         |  ${R6("(q - p) * ln(q / p) * 1000")} AS psi_milli_micro
         |FROM s""".stripMargin),

    Gate("q_corpus_churn", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusDiff.churn(old, neu, "doc_id", "text", "source")
    },
      s"""WITH old AS (
         |  SELECT doc_id, source, md5(text) AS old_md5 FROM documents
         |  WHERE doc_id % 7 <> 0),
         |neu AS (
         |  SELECT doc_id, source,
         |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
         |      ELSE text END) AS new_md5
         |  FROM documents WHERE doc_id % 5 <> 0),
         |d AS (
         |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |    COALESCE(n.source, o.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |      WHEN n.doc_id IS NULL THEN 'removed'
         |      WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
         |      ELSE 'changed' END AS status
         |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
         |SELECT source, status, COUNT(*) AS n FROM d GROUP BY 1, 2""".stripMargin),

    // --- OLAP: hierarchical subtotals in one pass (ROLLUP — Catalyst
    //     Expand feeds one shuffle for all levels; gid is the standard
    //     grouping bitmask both engines share) ---
    Gate("q_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("gid"), col("n"), col("qty"))
    },
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // --- OLAP: full cross-tab subtotals (CUBE: all 2^k grouping sets
    //     from one Expand + one shuffle) ---
    Gate("q_cube", (s, dir) => {
      Tables.documents(s, dir)
        .cube(col("lang"), col("source"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .select(col("lang"), col("source"), col("gid"), col("n"),
          col("chars"))
    },
      s"""SELECT lang, source,
         |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
         |FROM documents GROUP BY CUBE(lang, source)""".stripMargin),

    // --- OLAP sketches: HLL distinct estimate per group (engine-portable
    //     registers; est is deterministic, so the DuckDB twin computes
    //     the identical sketch and the gate hash-matches) ---
    Gate("q_hll_distinct", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val est = Sketches.hllDistinct(li, Seq("l_returnflag"),
        "l_orderkey", p = 10, seed = 0L)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      est.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          r6(col("distinct_est")).as("est_micro"),
          col("exact_distinct"))
    },
      // HLL estimator bit-reproducible in SQL — see HllChainSql.
      s"""WITH hkeys AS (
         |  SELECT l_returnflag AS g, l_orderkey AS k FROM lineitem),
         |${HllChainSql(seed = 0L)}
         |SELECT hll.g AS l_returnflag, ${R6("est")} AS est_micro,
         |  x.exact_distinct
         |FROM hll JOIN (
         |  SELECT l_returnflag AS g,
         |    COUNT(DISTINCT l_orderkey) AS exact_distinct
         |  FROM lineitem GROUP BY 1) x USING (g)""".stripMargin),

    // --- OLAP sketches: HLL set overlap by inclusion-exclusion —
    //     registers union losslessly, so cross-corpus intersection
    //     comes without joining the corpora ---
    // --- LLM ops: HLL partition rollup — the incremental-maintenance
    //     story at 100 TB: per-DAY register sketches (what a pipeline
    //     stores per ingest partition) merged by max-rho into a global
    //     estimate that must EQUAL the direct corpus-wide sketch.
    //     Registers are set-semantics, so the rollup is partitioning-
    //     independent; the oracle emits the direct estimate for both
    //     columns — the hash match proves merged == direct ---
    Gate("q_hll_rollup", (s, dir) => {
      val ev = eventsNs(s, dir)
      val withDay = ev.withColumn("day",
        expr("ts_ns div 86400000000000"))
      val daily = Sketches.hllSketch(withDay, Seq("day"), "user_id",
        p = 10, seed = 0L)
      val merged = Sketches.hllMerge(Seq(daily), Nil)
      val mergedEst = Sketches.hllEstimate(merged, Nil)
        .select(r6(col("distinct_est")).as("merged_micro"))
      val direct = Sketches.hllDistinct(ev, Nil, "user_id", p = 10,
          seed = 0L)
        .select(r6(col("distinct_est")).as("direct_micro"))
      val parts = withDay.agg(countDistinct(col("day")).as("n_parts"))
      val exact = ev.agg(
        countDistinct(col("user_id")).as("exact_distinct"))
      mergedEst.crossJoin(direct).crossJoin(parts).crossJoin(exact)
    },
      // HLL rollup: registers are set-semantics, so the per-day rollup is
      // mathematically the direct sketch — the oracle computes the direct
      // chain once and emits it for BOTH estimate columns; Spark's side
      // computing them via different plans (daily merge vs one pass) and
      // still hashing equal is the proof
      s"""WITH e AS ($EventsNs),
         |hkeys AS (SELECT 1 AS g, user_id AS k FROM e),
         |${HllChainSql(seed = 0L)}
         |SELECT ${R6("est")} AS merged_micro, ${R6("est")} AS direct_micro,
         |  (SELECT COUNT(DISTINCT ts_ns // 86400000000000) FROM e)
         |    AS n_parts,
         |  (SELECT COUNT(DISTINCT user_id) FROM e) AS exact_distinct
         |FROM hll""".stripMargin),

    Gate("q_hll_overlap", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def sk(flag: String) = Sketches.hllSketch(
        li.filter(col("l_returnflag") === flag), Nil, "l_orderkey",
        p = 10, seed = 0L)
      Sketches.hllOverlap(sk("A"), sk("R"), Nil)
        .select(r6(col("est_a")).as("est_a_micro"),
          r6(col("est_b")).as("est_b_micro"),
          r6(col("est_union")).as("est_union_micro"),
          r6(col("est_intersect")).as("est_intersect_micro"),
          r6(col("jaccard_est")).as("jaccard_micro"))
    },
      // HLL overlap: three estimator instances (A, B, register-union) and
      // the same inclusion-exclusion doubles.
      s"""WITH hkeysa AS (
         |  SELECT 1 AS g, l_orderkey AS k FROM lineitem
         |  WHERE l_returnflag = 'A'),
         |hkeysb AS (
         |  SELECT 1 AS g, l_orderkey AS k FROM lineitem
         |  WHERE l_returnflag = 'R'),
         |${HllRegsSql(0L, 10, "a")},
         |${HllRegsSql(0L, 10, "b")},
         |hru AS (
         |  SELECT g, register, MAX(rho) AS rho FROM (
         |    SELECT * FROM hra UNION ALL SELECT * FROM hrb)
         |  GROUP BY 1, 2),
         |${HllEstSql(10, "a")},
         |${HllEstSql(10, "b")},
         |${HllEstSql(10, "u")},
         |x AS (
         |  SELECT hlla.est AS ea, hllb.est AS eb, hllu.est AS eu,
         |    GREATEST(hlla.est + hllb.est - hllu.est, 0.0e0) AS ei
         |  FROM hlla, hllb, hllu)
         |SELECT ${R6("ea")} AS est_a_micro, ${R6("eb")} AS est_b_micro,
         |  ${R6("eu")} AS est_union_micro,
         |  ${R6("ei")} AS est_intersect_micro,
         |  ${R6("CASE WHEN eu > 0 THEN ei / eu ELSE 0.0e0 END")}
         |    AS jaccard_micro
         |FROM x""".stripMargin),

    // --- OLAP sketches: FIXED-range histogram quantiles (the
    //     streamable/mergeable face: pinned grid, no range pre-pass) ---
    Gate("q_hist_quantile_fixed", (s, dir) => {
      Sketches.histogramQuantiles(
          Sketches.histogramSketchFixed(Tables.documents(s, dir),
            Seq("lang"), "n_chars", lo = 0.0, hi = 4000.0, buckets = 40),
          Seq("lang"), qs = Seq(0.5, 0.9), buckets = 40)
        .select(col("lang"), (col("q") * 100).cast("int").as("q_pct"),
          r6(col("est")).as("est_micro"))
    },
      // Fixed-range histogram: pinned grid (rail clamps), n derived from
      // the cells, same interpolation.
      s"""WITH ${HistSrcCte("documents", "lang", "n_chars")},
         |h AS (
         |  SELECT g, 0.0e0 AS lo, 4000.0e0 AS hi,
         |    LEAST(GREATEST(CAST(floor((v - 0.0e0) / 100.0e0) AS BIGINT),
         |      0), 39) AS bucket, COUNT(*) AS cnt
         |  FROM src GROUP BY 1, 2, 3, 4),
         |sized AS (
         |  SELECT *, SUM(cnt) OVER (PARTITION BY g) AS n FROM h),
         |c AS (
         |  SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY bucket)
         |    AS cum FROM sized),
         |${HistWalkCtes(Seq(0.5, 0.9))}
         |SELECT g AS lang, CAST(q * 100 AS INT) AS q_pct,
         |  ${R6(HistEstSql(40))} AS est_micro
         |FROM p WHERE rn = 1""".stripMargin),

    // --- OLAP sketches: equi-width histogram quantiles — one bounded
    //     shuffle vs the exact operator's multi-pass refinement; error
    //     bounded by one bucket width ---
    Gate("q_hist_quantile", (s, dir) => {
      Sketches.approxQuantiles(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag"), col("l_extendedprice")),
          Seq("l_returnflag"), "l_extendedprice",
          qs = Seq(0.5, 0.95, 0.99), buckets = 64)
        .select(col("l_returnflag"),
          (col("q") * 100).cast("int").as("q_pct"),
          r6(col("est")).as("est_micro"))
    },
      // Histogram quantiles: identical bucket grid (same IEEE steps in
      // the same order), integer cumulative walk, one interpolation.
      s"""WITH ${HistSrcCte("lineitem", "l_returnflag",
           "l_extendedprice")},
         |${HistEquiWidthCtes(64)},
         |${HistWalkCtes(Seq(0.5, 0.95, 0.99))}
         |SELECT g AS l_returnflag, CAST(q * 100 AS INT) AS q_pct,
         |  ${R6(HistEstSql(64))} AS est_micro
         |FROM p WHERE rn = 1""".stripMargin),

    // --- OLAP sketches: equi-join size estimate via the CM inner
    //     product — the join-planning cardinality probe without
    //     touching either table ---
    Gate("q_cms_join_size", (s, dir) => {
      val ev = Tables.events(s, dir)
      def keyed(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"))
      val est = Sketches.cmsJoinSize(
        Sketches.cmsSketch(keyed("click"), "user_id", depth = 4,
          width = 256, seed = 7L),
        Sketches.cmsSketch(keyed("view"), "user_id", depth = 4,
          width = 256, seed = 7L))
      val exact = keyed("click").groupBy(col("user_id"))
        .agg(count(lit(1)).as("na"))
        .join(keyed("view").groupBy(col("user_id"))
          .agg(count(lit(1)).as("nb")), Seq("user_id"))
        .agg(sum(col("na") * col("nb")).as("exact_join_size"))
      est.crossJoin(exact)
    }, {
      // CM inner product: integer cell products, min over rows.
      val bucket = s"(${Mix31Sql("user_id", "7 + row * 1000003")}) % 256"
      s"""WITH d AS (SELECT * FROM range(0, 4) t(row)),
         |ca AS (
         |  SELECT row, $bucket AS bucket, COUNT(*) AS cnt
         |  FROM events CROSS JOIN d WHERE event_type = 'click'
         |  GROUP BY 1, 2),
         |cb AS (
         |  SELECT row, $bucket AS bucket, COUNT(*) AS cnt
         |  FROM events CROSS JOIN d WHERE event_type = 'view'
         |  GROUP BY 1, 2),
         |ip AS (
         |  SELECT ca.row, SUM(ca.cnt * cb.cnt) AS ip
         |  FROM ca JOIN cb USING (row, bucket) GROUP BY 1),
         |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS join_size_est FROM ip),
         |exact AS (
         |  SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_join_size FROM (
         |    SELECT user_id, COUNT(*) AS na FROM events
         |    WHERE event_type = 'click' GROUP BY 1) a
         |  JOIN (
         |    SELECT user_id, COUNT(*) AS nb FROM events
         |    WHERE event_type = 'view' GROUP BY 1) b USING (user_id))
         |SELECT est.join_size_est, exact.exact_join_size
         |FROM est, exact""".stripMargin
    }),

    // --- OLAP sketches: Count-Min point estimates + heavy-hitter flag
    //     (est >= true always; deterministic cells → hash gate) ---
    Gate("q_cms_counts", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val sk = Sketches.cmsSketch(ev, "user_id", depth = 4, width = 256,
        seed = 5L)
      val est = Sketches.cmsLookup(sk, ev.distinct(), "user_id",
        depth = 4, width = 256, seed = 5L)
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, Seq("user_id"))
        .select(col("user_id"), col("est"), col("exact_cnt"),
          (col("est") >= lit(80L)).as("is_heavy"))
    }, {
      // CMS: deterministic cells (mix31 per-row seeds), COUNT sums, min
      // over depth rows — all integer arithmetic, bit-exact.
      val bucket = s"(${Mix31Sql("user_id", "5 + row * 1000003")}) % 256"
      s"""WITH d AS (SELECT * FROM range(0, 4) t(row)),
         |cells AS (
         |  SELECT row, $bucket AS bucket, COUNT(*) AS cnt
         |  FROM events CROSS JOIN d GROUP BY 1, 2),
         |probe AS (
         |  SELECT user_id, MIN(COALESCE(c.cnt, 0)) AS est
         |  FROM (
         |    SELECT user_id, row, $bucket AS bucket
         |    FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN d) k
         |  LEFT JOIN cells c USING (row, bucket) GROUP BY 1),
         |exact AS (
         |  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1)
         |SELECT user_id, est, exact_cnt, est >= 80 AS is_heavy
         |FROM probe JOIN exact USING (user_id)""".stripMargin
    }),

    // --- OLAP sketches: per-lang vocabulary-size HLL estimate over
    //     string-keyed words (stringKey31 fold) — the tiny synthetic
    //     vocab lands in the LINEAR-COUNTING branch, the complement of
    //     q_hll_distinct's harmonic-mean branch ---
    Gate("q_hll_vocab", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .withColumn("wkey", Sampling.stringKey31(col("word")))
      val est = Sketches.hllDistinct(words, Seq("lang"), "wkey",
        p = 10, seed = 2L)
      val exact = words.groupBy(col("lang"))
        .agg(countDistinct(col("word")).as("exact_distinct"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), r6(col("distinct_est")).as("est_micro"),
          col("exact_distinct"))
    },
      // Word-level HLL through the portable string key; tiny vocab lands
      // in the linear-counting branch (the other estimator face).
      s"""WITH words AS (
         |  SELECT lang, word FROM (
         |    SELECT lang,
         |      unnest(string_split_regex(trim(text), '\\s+')) AS word
         |    FROM documents) WHERE length(word) > 0),
         |hkeys AS (
         |  SELECT lang AS g, ${StringKey31Sql("word")} AS k FROM words),
         |${HllChainSql(seed = 2L)}
         |SELECT hll.g AS lang, ${R6("est")} AS est_micro,
         |  x.exact_distinct
         |FROM hll JOIN (
         |  SELECT lang AS g, COUNT(DISTINCT word) AS exact_distinct
         |  FROM words GROUP BY 1) x USING (g)""".stripMargin),

    // --- OLAP sketches: Count-Min word frequencies via the portable
    //     string key; heavy flag from the est upper bound ---
    Gate("q_cms_words", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .withColumn("wkey", Sampling.stringKey31(col("word")))
      val sk = Sketches.cmsSketch(words, "wkey", depth = 4, width = 256,
        seed = 3L)
      val est = Sketches.cmsLookup(sk,
        words.select(col("wkey")).distinct(), "wkey",
        depth = 4, width = 256, seed = 3L)
      val exact = words.groupBy(col("word"), col("wkey"))
        .agg(count(lit(1)).as("exact_cnt"))
      exact.join(est, Seq("wkey"))
        .select(col("word"), col("est"), col("exact_cnt"),
          (col("est") >= lit(940L)).as("is_heavy"))
    }, {
      // CMS over string-keyed words: integer cells, bit-exact.
      val bucket = s"(${Mix31Sql("wkey", "3 + row * 1000003")}) % 256"
      s"""WITH words AS (
         |  SELECT word, ${StringKey31Sql("word")} AS wkey FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |    FROM documents) WHERE length(word) > 0),
         |d AS (SELECT * FROM range(0, 4) t(row)),
         |cells AS (
         |  SELECT row, $bucket AS bucket, COUNT(*) AS cnt
         |  FROM words CROSS JOIN d GROUP BY 1, 2),
         |probe AS (
         |  SELECT wkey, MIN(COALESCE(c.cnt, 0)) AS est
         |  FROM (
         |    SELECT wkey, row, $bucket AS bucket
         |    FROM (SELECT DISTINCT wkey FROM words) CROSS JOIN d) k
         |  LEFT JOIN cells c USING (row, bucket) GROUP BY 1),
         |exact AS (
         |  SELECT word, wkey, COUNT(*) AS exact_cnt
         |  FROM words GROUP BY 1, 2)
         |SELECT word, est, exact_cnt, est >= 940 AS is_heavy
         |FROM exact JOIN probe USING (wkey)""".stripMargin
    }),

    // --- LLM ops: deterministic weighted sample without replacement
    //     (Efraimidis-Spirakis): quality-weighted top-k selection as a
    //     TakeOrdered heap, no global sort ---
    Gate("q_weighted_topk", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("w", col("n_chars").cast("double") / lit(1000.0))
      Sampling.weightedTopK(docs, "doc_id", "w", k = 60, seed = 21L)
        .select(col("doc_id"), col("source"), col("es_rank_nano"))
    },
      // A-ES weighted top-k: identical u and w doubles; the only libm
      // call is pow, absorbed by the nano-rounded rank (a selection flip
      // needs two ranks within 1e-9 of each other and of the cut).
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS w,
         |    (CAST(${HashSql("doc_id", 21L)} AS DOUBLE) + 1.0e0)
         |      / 1048576.0e0 AS u
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(floor(pow(u, 1.0e0 / w) * 1e9 + 0.5) AS BIGINT)
         |    AS es_rank_nano
         |FROM r WHERE w > 0
         |ORDER BY es_rank_nano DESC, doc_id LIMIT 60""".stripMargin),

    // --- LLM ops: per-language A-ES draw — best k docs per lang,
    //     stochastically by length-weight ---
    Gate("q_weighted_topk_group", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("w", col("n_chars").cast("double") / lit(1000.0))
      Sampling.weightedTopKPerGroup(docs, Seq("lang"), "doc_id", "w",
          k = 10, seed = 21L)
        .select(col("lang"), col("doc_id"), col("es_rank_nano"))
    },
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |    CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS w,
         |    (CAST(${HashSql("doc_id", 21L)} AS DOUBLE) + 1.0e0)
         |      / 1048576.0e0 AS u
         |  FROM documents),
         |s AS (
         |  SELECT lang, doc_id,
         |    CAST(floor(pow(u, 1.0e0 / w) * 1e9 + 0.5) AS BIGINT)
         |      AS es_rank_nano
         |  FROM r WHERE w > 0),
         |p AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY es_rank_nano DESC, doc_id) AS rk FROM s)
         |SELECT lang, doc_id, es_rank_nano FROM p WHERE rk <= 10""".stripMargin),

    // --- W4+W5 composition: trailing top-performer selection
    //     (ClOp_analysis.ipynb cells 8-10 shape: top-N by trailing PnL,
    //     exclusive window — no lookahead) ---
    Gate("q_trailing_topk", (s, dir) => {
      val daily = eventsNs(s, dir)
        .withColumn("day", expr(s"ts_ns div $DAY"))
        .groupBy(col("user_id"), col("day"))
        .agg(moneySum(col("value")).as("pnl"))
      val panel = daily.select(col("user_id").as("ticker"),
        col("day").as("date"), col("pnl"))
      graft.domain.Strategy.trailingTopPerformers(panel, lookback = 3, n = 2)
        .select(col("ticker").as("user_id"), col("date").as("day"),
          r6(col("trailing_pnl")).as("trailing_micro"), col("rank"))
    },
      s"""WITH e AS ($EventsNs),
         |daily AS (SELECT user_id, ts_ns // ${DAY} AS day,
         |  ${MoneySum("value")} AS pnl FROM e GROUP BY 1, 2),
         |t AS (SELECT user_id, day,
         |  SUM(pnl) OVER w AS trailing_pnl, COUNT(*) OVER w AS n_w
         |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
         |r AS (SELECT user_id, day, trailing_pnl,
         |  ROW_NUMBER() OVER (PARTITION BY day
         |    ORDER BY trailing_pnl DESC, user_id) AS rank
         |  FROM t WHERE n_w = 3)
         |SELECT user_id, day, ${R6("trailing_pnl")} AS trailing_micro,
         |  CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 2""".stripMargin),

    // --- LLM ops: per-source quantile rank — the normalization that
    //     makes one global quality threshold fair across sources with
    //     different score distributions; two-level scan, no group-wide
    //     window ---
    Gate("q_group_pct", (s, dir) => {
      Quantiles.groupQuantileRank(Tables.documents(s, dir), Seq("source"),
          "n_chars", "doc_id")
        .select(col("doc_id"), col("source"),
          r6(col("quantile_rank")).as("pct_micro"))
    },
      // One group-wide window in SQL vs the Spark side's two-level scan —
      // equality proves the bucketed construction IS the group rank.
      s"""SELECT doc_id, source,
         |  ${R6("(ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY CAST(n_chars AS DOUBLE), doc_id) - 1)::DOUBLE " +
        "/ COUNT(*) OVER (PARTITION BY source)")} AS pct_micro
         |FROM documents""".stripMargin),

    // --- LLM ops: size-balanced deterministic sharding — round-robin
    //     deal over a (size-magnitude DESC, hash) order via the two-level
    //     scan; per-shard byte totals concentrate, no global window ---
    Gate("q_balanced_shard", (s, dir) => {
      Sharding.balancedShardTag(Tables.documents(s, dir), "doc_id",
          "n_chars", nShards = 8, seed = 5L)
        .select(col("doc_id"), col("shard"))
    },
      // One global ROW_NUMBER over the same (bucket DESC, h, id) order the
      // Spark side computes with the two-level scan — equality proves the
      // sharded construction IS the global rank.
      s"""WITH b AS (
         |  SELECT doc_id,
         |    length(CAST(n_chars AS VARCHAR)) AS bucket,
         |    ${HashSql("doc_id", 5L)} AS h
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bucket DESC, h, doc_id) - 1 AS rk
         |  FROM b)
         |SELECT doc_id, rk % 8 AS shard FROM r""".stripMargin),

    // --- Skew machinery: two-stage salted aggregation must equal the
    //     plain groupBy it spreads (decomposable aggregates over an
    //     integral column — exact, so a full hash-match, with the salt
    //     column's nondeterminism erased by the stage-2 recombine) ---
    Gate("q_salted_agg", (s, dir) => {
      SkewTools.saltedSumCount(Tables.documents(s, dir), Seq("lang"),
        "n_chars", salts = 8)
    },
      // the salted two-stage aggregation equals this plain GROUP BY
      s"""SELECT lang, COUNT(*) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
         |  MIN(n_chars) AS min_n_chars, MAX(n_chars) AS max_n_chars
         |FROM documents GROUP BY 1""".stripMargin),

    // --- Skew: salt-REPLICATED join (the JOIN half of the skew story —
    //     q_salted_agg covers aggregation): the big side salted, the
    //     small dim exploded x8 so a hot key spreads over 8 reducers;
    //     the salt is provably erased — the result hash-matches the
    //     plain join ---
    Gate("q_salted_join", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val dim = docs.groupBy(col("lang"))
        .agg(avg(col("n_chars")).as("__a"))
      SkewTools.withSalt(docs, 8)
        .join(SkewTools.explodeSalt(dim, 8), Seq("lang", "__salt"))
        .select(col("doc_id"), col("lang"),
          r6(col("__a")).as("avg_chars_micro"))
    },
      // the salted join vs the PLAIN join — equality proves the salt is
      // pure physical spreading, zero semantic residue
      s"""WITH d AS (SELECT lang, AVG(n_chars) AS a
         |  FROM documents GROUP BY 1)
         |SELECT doc_id, documents.lang, ${R6("a")} AS avg_chars_micro
         |FROM documents JOIN d USING (lang)""".stripMargin),
  )
}
