package graft
package gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

import Shared._

/** Corpus curation gates: quality scores and filters, hash sampling
  * and splits, mixtures, packing and the composed curate pipelines. */
object CurationGates {

  /** Shared CTE chain of the two DSIR gates: target model (every 31st
    * doc), raw model, per-token add-0.5 LLR, DECIMAL per-doc sums —
    * mirrors [[graft.operators.Dsir.importanceScores]] exactly. */
  private val DsirCtes =
    s"""tgt AS (
       |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |    AS term
       |  FROM documents WHERE doc_id % 31 = 0),
       |tc AS (SELECT term, COUNT(*) AS ct FROM tgt GROUP BY term),
       |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, COUNT(*) AS vt
       |       FROM tc),
       |rawt AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents WHERE doc_id % 31 <> 0),
       |rc AS (SELECT term, COUNT(*) AS cr FROM rawt GROUP BY term),
       |rt AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, COUNT(*) AS vr
       |       FROM rc),
       |sc AS (
       |  SELECT r.doc_id,
       |    ln((COALESCE(t.ct, 0) + 0.5) / (nt + 0.5 * vt)) -
       |    ln((COALESCE(c.cr, 0) + 0.5) / (nr + 0.5 * vr)) AS llr_t
       |  FROM rawt r
       |  LEFT JOIN tc t ON r.term = t.term
       |  LEFT JOIN rc c ON r.term = c.term, tt, rt),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CAST(llr_t AS DECIMAL(18,9))) AS DOUBLE) AS llr
       |  FROM sc GROUP BY 1)""".stripMargin

  /** DuckDB twin of [[Sampling.unimaxPlan]]: water-filling CTE chain
    * ending in relation `uplan`(source, n_tokens, quota, epochs). The
    * arithmetic mirrors the Spark plan operation-for-operation (same
    * IEEE double steps in the same order), so both engines take the
    * same capped/uncapped branches and produce identical doubles. */
  private def UnimaxPlanSql(table: String, srcCol: String,
                            tokCol: String, budget: Long,
                            maxEpochs: Double): String =
    s"""c AS (
       |  SELECT $srcCol AS source,
       |    COALESCE(CAST(SUM($tokCol) AS BIGINT), 0) AS n_tokens
       |  FROM $table WHERE $srcCol IS NOT NULL GROUP BY 1),
       |w AS (
       |  SELECT source, n_tokens,
       |    CAST(n_tokens AS DOUBLE) * CAST($maxEpochs AS DOUBLE) AS cap,
       |    ROW_NUMBER() OVER (
       |      ORDER BY CAST(n_tokens AS DOUBLE) * CAST($maxEpochs AS DOUBLE),
       |        source) AS rn,
       |    SUM(CAST(n_tokens AS DOUBLE) * CAST($maxEpochs AS DOUBLE)) OVER (
       |      ORDER BY CAST(n_tokens AS DOUBLE) * CAST($maxEpochs AS DOUBLE),
       |        source) AS cum,
       |    COUNT(*) OVER () AS n
       |  FROM c),
       |f AS (
       |  SELECT *,
       |    cap * CAST(n - rn + 1 AS DOUBLE)
       |      <= CAST($budget AS DOUBLE) - (cum - cap) AS capped
       |  FROM w),
       |g AS (
       |  SELECT *,
       |    CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT)
       |      AS k,
       |    SUM(CASE WHEN capped THEN cap ELSE 0.0e0 END) OVER () AS cumcap
       |  FROM f),
       |uplan AS (
       |  SELECT source, n_tokens, quota,
       |    CASE WHEN n_tokens > 0
       |      THEN quota / CAST(n_tokens AS DOUBLE) ELSE 0.0e0 END AS epochs
       |  FROM (
       |    SELECT source, n_tokens,
       |      CASE WHEN k = n THEN cap
       |        WHEN capped THEN cap
       |        ELSE LEAST(cap, GREATEST(
       |          (CAST($budget AS DOUBLE) - cumcap) / CAST(n - k AS DOUBLE),
       |          0.0e0)) END AS quota
       |    FROM g))""".stripMargin

  /** DuckDB twin of the first three stages shared by the q_curate*
    * oracles: md5 dedup winner `d`, quality score `q`, then the seed-5
    * hash sample of quality >= 0.2 as `s(doc_id, lang, n_chars,
    * quality, [ltoks,] h)`. `keepTokens` carries the lower-cased tokens
    * through for a later near-dup stage. */
  private def CurateSampleCtes(keepTokens: Boolean): String = {
    val (mCarry, qCarry) =
      if (keepTokens) (" text, ltoks,", " ltoks,") else ("", "")
    s"""w AS (
       |  SELECT doc_id, lang, n_chars, text,
       |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
       |      AS rk
       |  FROM documents),
       |d AS (SELECT doc_id, lang, n_chars, text FROM w WHERE rk = 1),
       |t AS (
       |  SELECT doc_id, lang, n_chars, text,
       |    string_split_regex(trim(text), '\\s+') AS toks,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ltoks
       |  FROM d),
       |m AS (
       |  SELECT doc_id, lang, n_chars,$mCarry
       |    ${QualityFeatureCols()}
       |  FROM t),
       |q AS (
       |  SELECT doc_id, lang, n_chars,$qCarry
       |    $QualityScoreExpr AS quality
       |  FROM m),
       |s AS (
       |  SELECT doc_id, lang, n_chars, quality,$qCarry
       |    ${HashSql("doc_id", 5L)} AS h
       |  FROM q
       |  WHERE quality >= 0.2
       |    AND ${HashSql("doc_id", 5L)} < ${Sampling.threshold(0.9)})""".stripMargin
  }

  /** The q_curate* packing tail: per-lang prefix sums of n_chars over
    * `src` in sample-hash order, cut into 16384-char chunks. */
  private def CuratePackSql(src: String): String =
    s"""p AS (
       |  SELECT doc_id, lang, quality,
       |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS pfx
       |  FROM $src)
       |SELECT doc_id, lang, pfx // 16384 AS chunk_id,
       |  pfx % 16384 AS chunk_offset, ${R6("quality")} AS quality_micro
       |FROM p""".stripMargin

  /** Oracle of q_sample_bernoulli, shared with its replay twins. */
  private[gates] val SampleBernoulliSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${HashSql("doc_id", 1L)} < ${Sampling.threshold(0.1)}""".stripMargin

  /** Oracle of q_quality_score, shared with its replay twins. */
  private[gates] val QualityScoreSql: String =
    s"""WITH ${QualityScoreCtes()}
       |SELECT doc_id, ${R6("quality")} AS quality_micro FROM q""".stripMargin

  val gates: Seq[Gate] = Seq(

    // --- LLM ops: sqrt-temperature token-budget mixture plan (one
    //     aggregation pass; integer-exact driver math over #sources
    //     rows; epochs capped at 4) ---
    Gate("q_mixture_plan", (s, dir) => {
      Sampling.mixturePlan(Tables.documents(s, dir), "source", "n_chars",
        budgetTokens = 50000L, alpha = 0.5, maxEpochs = 4.0)
    },
      // Integer-exact mixture-plan twin: s_micro = floor(sqrt(n)*1e6+0.5)
      // (sqrt is IEEE-correctly-rounded on both engines), then HUGEINT
      // round-half-up division (2*B*s*1e6 + n*S) // (2*n*S), capped at 4
      // epochs — bit-identical to the BigInt driver math.
      s"""WITH c AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |s AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(n_tokens) * 1e6 + 0.5) AS HUGEINT) AS sm
         |  FROM c),
         |tot AS (SELECT SUM(sm) AS stot FROM s)
         |SELECT source, n_tokens,
         |  CAST(CASE WHEN n_tokens <= 0 OR stot = 0 THEN 0
         |    ELSE LEAST(
         |      (2 * CAST(50000 AS HUGEINT) * sm * 1000000
         |        + CAST(n_tokens AS HUGEINT) * stot)
         |      // (2 * CAST(n_tokens AS HUGEINT) * stot),
         |      CAST(4000000 AS HUGEINT)) END AS BIGINT) AS rate_micro
         |FROM s, tot""".stripMargin),

    // --- LLM ops: the plan applied — deterministic epoch replication
    //     per source (broadcast plan join + portable-hash fractional
    //     copy; zero shuffles beyond the one-pass plan aggregation) ---
    Gate("q_mixture_apply", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val plan = Sampling.mixturePlan(docs, "source", "n_chars",
        budgetTokens = 50000L, alpha = 0.5, maxEpochs = 4.0)
      Sampling.applyMixture(docs, "source", "doc_id", plan, seed = 9L)
        .select(col("doc_id"), col("epoch_copy"))
    },
      s"""WITH c AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |s AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(n_tokens) * 1e6 + 0.5) AS HUGEINT) AS sm
         |  FROM c),
         |tot AS (SELECT SUM(sm) AS stot FROM s),
         |plan AS (
         |  SELECT source,
         |    CAST(CASE WHEN n_tokens <= 0 OR stot = 0 THEN 0
         |      ELSE LEAST(
         |        (2 * CAST(50000 AS HUGEINT) * sm * 1000000
         |          + CAST(n_tokens AS HUGEINT) * stot)
         |        // (2 * CAST(n_tokens AS HUGEINT) * stot),
         |        CAST(4000000 AS HUGEINT)) END AS BIGINT) AS rate_micro
         |  FROM s, tot),
         |r AS (
         |  SELECT doc_id, p.rate_micro / 1000000.0 AS w
         |  FROM documents d JOIN plan p USING (source)),
         |cp AS (
         |  SELECT doc_id,
         |    CAST(floor(w) AS BIGINT) +
         |    CASE WHEN ${HashSql("doc_id", 9L)} <
         |      CAST(floor((w - floor(w)) * 1048576.0 + 0.5) AS BIGINT)
         |    THEN 1 ELSE 0 END AS copies
         |  FROM r)
         |SELECT doc_id,
         |  CAST(unnest(generate_series(1, copies)) AS BIGINT)
         |    AS epoch_copy
         |FROM cp WHERE copies >= 1""".stripMargin),

    // --- LLM ops: the full modern curation pipeline, end-to-end under
    //     one DuckDB hash-match: exact dedup -> corpus segment dedup ->
    //     repetition gate -> quality gate -> sqrt-temperature mixture ---
    Gate("q_curate_full", (s, dir) => {
      Curation.curateFull(Tables.documents(s, dir), "doc_id", "text",
          "source", Curation.FullConfig(segTokens = 3, segMinCopies = 2,
            maxDupTokenFrac = 0.6, minQuality = 0.3,
            budgetTokens = 50000L, alpha = 0.5, maxEpochs = 4.0,
            seed = 0L))
        .select(col("doc_id"), col("source"), col("epoch_copy"),
          md5(col("cleaned")).as("cleaned_md5"),
          r6(col("quality_score")).as("quality_micro"),
          col("n_tokens_clean"))
    },
      // The composed pipeline, stage by stage, in one WITH chain — each
      // CTE mirrors an operator whose standalone gate already matches.
      s"""WITH winners AS (
         |  SELECT doc_id, text, source FROM (
         |    SELECT doc_id, text, source, ROW_NUMBER() OVER (
         |      PARTITION BY md5(text) ORDER BY doc_id) AS rk
         |    FROM documents) WHERE rk = 1),
         |t AS (
         |  SELECT doc_id, source,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM winners),
         |segs AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0,
         |      CAST(floor((len(toks) - 1) / 3.0) AS INT))) AS pos,
         |    unnest(list_transform(generate_series(0,
         |      CAST(floor((len(toks) - 1) / 3.0) AS INT)),
         |      i -> array_to_string(toks[i*3+1 : i*3+3], ' '))) AS seg
         |  FROM t WHERE len(toks) > 0),
         |segrk AS (
         |  SELECT doc_id, pos, seg,
         |    COUNT(*) OVER (PARTITION BY seg) AS cnt
         |  FROM segs),
         |agg AS (
         |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS cleaned,
         |    COUNT(*) AS n_kept
         |  FROM segrk WHERE cnt < 2 GROUP BY doc_id),
         |cl AS (
         |  SELECT t.doc_id, t.source, a.cleaned
         |  FROM t JOIN agg a USING (doc_id) WHERE a.n_kept > 0),
         |ctoks AS (
         |  SELECT doc_id, source, cleaned,
         |    string_split_regex(trim(cleaned), '\\s+') AS ct,
         |    string_split_regex(trim(lower(cleaned)), '\\s+') AS lct
         |  FROM cl),
         |rep AS (
         |  SELECT * FROM ctoks
         |  WHERE len(ct) = 0 OR
         |    1.0 - len(list_distinct(ct))::DOUBLE / len(ct) <= 0.6),
         |qm AS (
         |  SELECT doc_id, source, cleaned, len(ct) AS ntc,
         |    ${QualityFeatureCols("cleaned", "ct", "lct")}
         |  FROM rep),
         |qs AS (
         |  SELECT doc_id, source, cleaned, ntc,
         |    $QualityScoreExpr AS quality
         |  FROM qm),
         |gated AS (SELECT * FROM qs WHERE quality >= 0.3),
         |c AS (
         |  SELECT source, CAST(SUM(ntc) AS BIGINT) AS n_tokens
         |  FROM gated GROUP BY 1),
         |s AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(n_tokens) * 1e6 + 0.5) AS HUGEINT) AS sm
         |  FROM c),
         |tot AS (SELECT SUM(sm) AS stot FROM s),
         |plan AS (
         |  SELECT source,
         |    CAST(CASE WHEN n_tokens <= 0 OR stot = 0 THEN 0
         |      ELSE LEAST(
         |        (2 * CAST(50000 AS HUGEINT) * sm * 1000000
         |          + CAST(n_tokens AS HUGEINT) * stot)
         |        // (2 * CAST(n_tokens AS HUGEINT) * stot),
         |        CAST(4000000 AS HUGEINT)) END AS BIGINT) AS rate_micro
         |  FROM s, tot),
         |rr AS (
         |  SELECT g.doc_id, g.source, g.cleaned, g.quality, g.ntc,
         |    p.rate_micro / 1000000.0 AS w
         |  FROM gated g JOIN plan p USING (source)),
         |cp AS (
         |  SELECT doc_id, source, cleaned, quality, ntc,
         |    CAST(floor(w) AS BIGINT) +
         |    CASE WHEN ${HashSql("doc_id", 0L)} <
         |      CAST(floor((w - floor(w)) * 1048576.0 + 0.5) AS BIGINT)
         |    THEN 1 ELSE 0 END AS copies
         |  FROM rr)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(1, copies)) AS BIGINT)
         |    AS epoch_copy,
         |  md5(cleaned) AS cleaned_md5,
         |  ${R6("quality")} AS quality_micro,
         |  CAST(ntc AS BIGINT) AS n_tokens_clean
         |FROM cp WHERE copies >= 1""".stripMargin),

    // --- LLM ops: deterministic training-shard assignment (pure
    //     function of the key — stable under reruns/retries/layout,
    //     unlike repartition's placement) ---
    Gate("q_shard_assign", (s, dir) => {
      Sharding.shardTag(Tables.documents(s, dir), "doc_id", 16,
          seed = 13L)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    },
      s"""SELECT (${HashSql("doc_id", 13L)}) % 16 AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1""".stripMargin),

    // --- LLM ops: the composite quality score alone (split/list/
    //     char-class regex only — no lookahead) ---
    Gate("q_quality_score", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        r6(TextFunctions.qualityScore(col("text"))).as("quality_micro"))
    },
      QualityScoreSql),

    // --- LLM ops: composite quality score + BPE-ish token count +
    //     sequence fingerprint: the BPE-ish count's lookahead-free
    //     closed form and the mix31-chain fingerprint are both
    //     SQL-expressible ---
    Gate("q_text_quality", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        r6(TextFunctions.qualityScore(col("text"))).as("quality_micro"),
        TextFunctions.nTokensBpeIsh(col("text")).cast("long")
          .as("n_tokens_bpeish"),
        TextFunctions.seqFingerprint(col("text"))
          .as("seq_fingerprint"))
    },
      // q_quality_score's chain + the lookahead-free BPE-ish count (every
      // non-alnum non-\s code point opens a piece, plus every alnum run
      // at start/after-\s — RE2-expressible, unlike the historical
      // lookahead split) + the mix31-fold fingerprint via list_reduce
      // (init 0 prepended; every step exact BIGINT)
      s"""WITH ${QualityScoreCtes()},
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(regexp_replace(text,
         |        '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) +
         |      len(regexp_extract_all(text,
         |        '(^|[ \\t\\n\\x0B\\f\\r])[A-Za-z0-9]')) AS BIGINT)
         |      AS n_tokens_bpeish,
         |    CASE WHEN text IS NULL THEN NULL ELSE
         |      list_reduce([0::BIGINT] || list_transform(
         |        string_split_regex(trim(lower(text)), '\\s+'),
         |        tk -> ${StringKey31Sql("tk")}),
         |      (a, b) -> ${Mix31Sql("xor(a, b)", "11")}) END
         |      AS seq_fingerprint
         |  FROM documents)
         |SELECT q.doc_id, ${R6("quality")} AS quality_micro,
         |  f.n_tokens_bpeish, f.seq_fingerprint
         |FROM q JOIN f USING (doc_id)""".stripMargin),

    // --- LLM ops: deterministic hash sampling — layout/rerun-stable
    //     Bernoulli sample (portable integer arithmetic; Sampling.scala) ---
    Gate("q_sample_bernoulli", (s, dir) => {
      Sampling.bernoulliSample(Tables.documents(s, dir), "doc_id", 0.1,
          seed = 1L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      SampleBernoulliSql),

    // --- LLM ops: exact-N-per-stratum deterministic reservoir ---
    Gate("q_sample_stratified", (s, dir) => {
      Sampling.stratifiedExactN(Tables.documents(s, dir), Seq("lang"),
          "doc_id", n = 10, seed = 2L)
        .select(col("doc_id"), col("lang"))
    },
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY ${HashSql("doc_id", 2L)}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 10""".stripMargin),

    // --- LLM ops / M4 scale path: deterministic train/test hash split ---
    Gate("q_split_hash", (s, dir) => {
      Sampling.hashSplitTag(Tables.documents(s, dir), "doc_id", 0.25,
          seed = 3L)
        .groupBy(col("is_test"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    },
      s"""SELECT ${HashSql("doc_id", 3L)} < ${Sampling.threshold(0.25)}
         |    AS is_test,
         |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
         |FROM documents GROUP BY 1""".stripMargin),

    // --- M4 extension: purged k-fold time-series CV with embargo
    //     (Lopez de Prado 2018 ch.7) — fold by the O1 global time
    //     ordinal, purge = exact LONG-ns label-window overlap with the
    //     test fold's label extent, embargo strip after it. The
    //     leakage-safe k-fold face of the reference's forward-horizon
    //     time split (prediction_ML_pipeline.py:183-204) ---
    Gate("q_purged_cv", (s, dir) => {
      graft.operators.PurgedSplit.purgedKFold(eventsNs(s, dir),
        "ts_ns", "event_id", k = 5, labelHorizonNs = H, embargoNs = M30)
    },
      // q_purged_cv twin: the same ordinal (the q_o1_sort contract), the
      // same integer fold arithmetic, the same LONG-ns role CASE — every
      // decision integer-exact, so the 5x-fanout role surface hash-matches
      s"""WITH e AS ($EventsNs),
         |ord AS (SELECT event_id, ts_ns,
         |    ROW_NUMBER() OVER (ORDER BY ts_ns NULLS FIRST, event_id) - 1
         |      AS pos,
         |    COUNT(*) OVER () AS n FROM e),
         |f AS (SELECT event_id, ts_ns, (pos * 5) // n AS fold FROM ord),
         |g AS (SELECT fold AS test_fold, MIN(ts_ns) AS lo,
         |        MAX(ts_ns) AS hi FROM f GROUP BY fold)
         |SELECT g.test_fold AS fold, f.event_id,
         |  CASE WHEN f.fold = g.test_fold THEN 'test'
         |    WHEN f.ts_ns <= g.hi + $H AND f.ts_ns + $H >= g.lo
         |      THEN 'purged'
         |    WHEN f.ts_ns > g.hi + $H AND f.ts_ns <= g.hi + $H + $M30
         |      THEN 'embargo'
         |    ELSE 'train' END AS role
         |FROM f CROSS JOIN g""".stripMargin),

    // --- Governance: declarative constraint audit (Deequ shape) —
    //     every row-local rule is one conditional sum in a SHARED
    //     aggregation pass; uniqueness rules get their own partial-agg
    //     groupBy. The per-ingest-batch quality gate ---
    Gate("q_audit", (s, dir) => {
      import graft.operators.Audit.Rule._
      graft.operators.Audit.audit(eventsNs(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        Seq(NotNull("user_id"), InRange("value", 0.0, 100.0),
          Matches("event_type", "[a-z]{4,6}"),
          AcceptedValues("event_type", Seq("click", "view", "purchase")),
          Unique(Seq("event_id")), Unique(Seq("user_id", "event_type"))))
    },
      // q_audit twin: one SELECT per rule UNION ALL'd; HUGEINT sums cast
      // to BIGINT; matches() replayed via regexp_full_match (the rule's
      // RE2-subset full-match contract)
      s"""WITH e AS ($EventsNs),
         |r AS (
         |  SELECT 'not_null(user_id)' AS rule,
         |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS violations,
         |    COUNT(*) AS total FROM e
         |  UNION ALL
         |  SELECT 'in_range(value,0.0,100.0)',
         |    CAST(SUM(CASE WHEN value IS NOT NULL
         |      AND NOT (value BETWEEN 0.0 AND 100.0) THEN 1 ELSE 0 END)
         |      AS BIGINT),
         |    COUNT(*) FROM e
         |  UNION ALL
         |  SELECT 'matches(event_type)',
         |    CAST(SUM(CASE WHEN event_type IS NOT NULL
         |      AND NOT regexp_full_match(event_type, '[a-z]{4,6}')
         |      THEN 1 ELSE 0 END) AS BIGINT),
         |    COUNT(*) FROM e
         |  UNION ALL
         |  SELECT 'accepted_values(event_type)',
         |    CAST(SUM(CASE WHEN event_type IS NOT NULL
         |      AND event_type NOT IN ('click', 'view', 'purchase')
         |      THEN 1 ELSE 0 END) AS BIGINT),
         |    COUNT(*) FROM e
         |  UNION ALL
         |  SELECT 'unique(event_id)',
         |    CAST(COALESCE(SUM(n - 1), 0) AS BIGINT),
         |    CAST(COALESCE(SUM(n), 0) AS BIGINT)
         |  FROM (SELECT COUNT(*) AS n FROM e GROUP BY event_id)
         |  UNION ALL
         |  SELECT 'unique(user_id,event_type)',
         |    CAST(COALESCE(SUM(n - 1), 0) AS BIGINT),
         |    CAST(COALESCE(SUM(n), 0) AS BIGINT)
         |  FROM (SELECT COUNT(*) AS n FROM e GROUP BY user_id, event_type))
         |SELECT rule, violations, total, violations = 0 AS pass
         |FROM r""".stripMargin),

    // --- LLM ops: per-row weighted acceptance sampling (quality-weighted
    //     downsampling; weight derived from doc length here) ---
    Gate("q_weighted_sample", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("w", least(col("n_chars") / lit(3000.0), lit(1.0)))
      Sampling.weightedSample(d, "doc_id", "w", seed = 6L)
        .select(col("doc_id"), col("n_chars"))
    },
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${HashSql("doc_id", 6L)} <
         |  CAST(floor(LEAST(GREATEST(n_chars / 3000.0, 0.0), 1.0)
         |    * 1048576.0 + 0.5) AS BIGINT)""".stripMargin),

    // --- LLM ops / M4: three-way train/val/test split from one draw ---
    Gate("q_split3", (s, dir) => {
      Sampling.hashSplit3Tag(Tables.documents(s, dir), "doc_id",
          testFraction = 0.1, valFraction = 0.2, seed = 7L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    },
      s"""SELECT CASE
         |    WHEN ${HashSql("doc_id", 7L)} < ${Sampling.threshold(0.1)}
         |      THEN 'test'
         |    WHEN ${HashSql("doc_id", 7L)} < ${Sampling.threshold(0.3)}
         |      THEN 'val'
         |    ELSE 'train' END AS split,
         |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
         |FROM documents GROUP BY 1""".stripMargin),

    // --- LLM ops: deterministic epoch replication counts (Llama-style
    //     data-mix upweighting; the explode itself is row-local) ---
    Gate("q_upsample", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("w", col("n_chars") / lit(2000.0))
      d.select(col("doc_id"),
        Sampling.epochCopies(col("doc_id"), col("w"), seed = 8L)
          .as("copies"))
    },
      s"""WITH w AS (SELECT doc_id, n_chars / 2000.0 AS w FROM documents)
         |SELECT doc_id,
         |  CAST(floor(GREATEST(w, 0.0)) AS BIGINT) +
         |  CASE WHEN ${HashSql("doc_id", 8L)} <
         |    CAST(floor((GREATEST(w, 0.0) - floor(GREATEST(w, 0.0)))
         |      * 1048576.0 + 0.5) AS BIGINT)
         |  THEN 1 ELSE 0 END AS copies
         |FROM w""".stripMargin),

    // --- LLM ops: weighted pretrain source mixing in one pass ---
    Gate("q_mix_sources", (s, dir) => {
      Sampling.mixSources(Tables.documents(s, dir), "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
          "doc_id", seed = 4L)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
    },
      s"""SELECT source, COUNT(*) AS n FROM documents
         |WHERE ${HashSql("doc_id", 4L)} < CASE source
         |  WHEN 'src0' THEN ${Sampling.threshold(1.0)}
         |  WHEN 'src1' THEN ${Sampling.threshold(0.5)}
         |  WHEN 'src2' THEN ${Sampling.threshold(0.25)}
         |  WHEN 'src3' THEN ${Sampling.threshold(0.1)}
         |  ELSE 0 END
         |GROUP BY 1""".stripMargin),

    // --- LLM ops: concat-then-chunk sequence packing (distributed
    //     two-level prefix sum; Packing.scala). n_chars stands in for the
    //     token count — any per-row cost column works ---
    Gate("q_pack_chunks", (s, dir) => {
      val packed = Packing.concatChunks(Tables.documents(s, dir), "doc_id",
        "n_chars", budget = 16384L, nShards = 16)
      Packing.chunkStats(packed, "n_chars", budget = 16384L)
    },
      s"""WITH k AS (SELECT doc_id, n_chars,
         |  ${HashSql("doc_id", 0L)} AS h FROM documents),
         |p AS (SELECT doc_id, n_chars,
         |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pfx
         |  FROM k)
         |SELECT pfx // 16384 AS chunk_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS tokens,
         |  GREATEST(0, CAST(MAX(pfx % 16384 + n_chars) AS BIGINT) - 16384)
         |    AS spill
         |FROM p GROUP BY 1""".stripMargin),

    // --- LLM ops: the composed curation pipeline (exact dedup -> quality
    //     gate -> deterministic sample -> MinHash-LSH near-dup removal ->
    //     group-scoped packing) with the LSH stage ON — signatures,
    //     slot-keyed band buckets, pair agreement, greedy drop, and
    //     packing all recomputed by the DuckDB oracle ---
    Gate("q_curate", (s, dir) => {
      Curation.curate(Tables.documents(s, dir), "doc_id", "text",
          "n_chars", Curation.Config(minQuality = 0.2, sampleRate = 0.9,
            nearDupJaccard = 0.9, packBudget = 16384L, seed = 5L, groupCols = Seq("lang")))
        .select(col("doc_id"), col("lang"), col("chunk_id"),
          col("chunk_offset"), r6(col("quality_score")).as("quality_micro"))
    },
      // the composed pipeline with the LSH stage ON:
      // q_curate_sql's dedup/quality/sample CTEs (ltoks carried through),
      // then mix31 MinHash signatures + band buckets over the SURVIVORS,
      // pairs at >= 29/32 slot agreement (= est_jaccard >= 0.9 exactly on
      // integers), greedy higher-id drop, same per-lang prefix packing
      s"""WITH ${CurateSampleCtes(keepTokens = true)},
         |surv AS (SELECT doc_id, ltoks AS t FROM s),
         |${MinhashSigCtesTok("surv", 32)},
         |$MinhashBandCtes,
         |mpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  $MinhashBandPairsFrom),
         |u AS (
         |  SELECT * FROM s WHERE doc_id NOT IN (
         |    SELECT id_b FROM mpairs
         |    WHERE len(list_filter(generate_series(1, 32),
         |      i -> sig_a[i] = sig_b[i])) >= 29)),
         |${CuratePackSql("u")}""".stripMargin),

    // --- LLM ops: curation sibling — the same composed pipeline with
    //     the near-dup stage OFF: md5 dedup winner, quality gate, hash
    //     sample and prefix-sum packing alone ---
    Gate("q_curate_sql", (s, dir) => {
      Curation.curate(Tables.documents(s, dir), "doc_id", "text",
          "n_chars", Curation.Config(minQuality = 0.2, sampleRate = 0.9,
            nearDupJaccard = 0.0, packBudget = 16384L, seed = 5L,
            groupCols = Seq("lang")))
        .select(col("doc_id"), col("lang"), col("chunk_id"),
          col("chunk_offset"), r6(col("quality_score")).as("quality_micro"))
    },
      // the full curation pipeline with the LSH stage off: every remaining
      // stage (md5 dedup winner, quality score, hash sample, per-lang
      // prefix-sum packing) has an exact DuckDB twin — quality-score CTEs
      // identical to q_quality_score's, sampling/packing hash identical to
      // q_sample_bernoulli/q_pack_by_lang's
      s"""WITH ${CurateSampleCtes(keepTokens = false)},
         |${CuratePackSql("s")}""".stripMargin),

    // --- LLM ops: the composed pipeline with the pairwise near-dup
    //     stage ON and deterministic — exact 3-gram Jaccard pairs
    //     (PPJoin-pruned) replace the MinHash estimates, so the ENTIRE
    //     five-stage composition (dedup -> quality -> sample -> near-dup
    //     anti-join -> packing) hash-matches a DuckDB twin.
    //     Threshold 0.8 (practical near-dup range): the PPJoin prefix is
    //     |A|(1-t)+1, so t=0.5 made every prefix HALF the doc — at 0.8
    //     the candidate join carries a fifth of the shingles for the
    //     same surviving pairs (planted near-dups sit at ~0.97) ---
    Gate("q_curate_jaccard", (s, dir) => {
      Curation.curate(Tables.documents(s, dir), "doc_id", "text",
          "n_chars", Curation.Config(minQuality = 0.2, sampleRate = 0.9,
            nearDupJaccard = 0.8, nearDupExact = true,
            packBudget = 16384L, seed = 5L, groupCols = Seq("lang")))
        .select(col("doc_id"), col("lang"), col("chunk_id"),
          col("chunk_offset"), r6(col("quality_score")).as("quality_micro"))
    },
      // the composed pipeline with the pairwise stage ON: q_curate_sql's
      // dedup/quality/sample CTEs (text carried through), then the exact
      // 3-gram Jaccard dup pairs over the SURVIVORS (q_dedup_jaccard's
      // shingle shape, unblocked, threshold 0.5), greedy higher-id drop,
      // and the same per-lang prefix-sum packing
      s"""WITH ${CurateSampleCtes(keepTokens = true)},
         |shs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      generate_series(1, len(ltoks) - 2),
         |      i -> array_to_string(ltoks[i:i+2], ' '))) AS shset
         |  FROM s),
         |sized AS (SELECT doc_id, shset, len(shset) AS sz FROM shs
         |          WHERE len(shset) > 0),
         |exsh AS (SELECT doc_id, sz, unnest(shset) AS shingle FROM sized),
         |jp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sz AS size_a, b.sz AS size_b, COUNT(*) AS inter
         |  FROM exsh a
         |  JOIN exsh b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         |dup_pairs AS (
         |  SELECT id_a, id_b FROM jp
         |  WHERE inter::DOUBLE / (size_a + size_b - inter)::DOUBLE >= 0.8),
         |u AS (
         |  SELECT * FROM s
         |  WHERE doc_id NOT IN (SELECT id_b FROM dup_pairs)),
         |${CuratePackSql("u")}""".stripMargin),

    // --- LLM ops: UniMax language-capped mixture plan (closed-form
    //     water-filling, all windows over the per-lang aggregate) ---
    Gate("q_unimax_plan", (s, dir) => {
      Sampling.unimaxPlan(Tables.documents(s, dir), "lang", "n_chars",
          budgetTokens = 200000L, maxEpochs = 2.0)
        .select(col("source"), col("n_tokens"),
          r6(col("quota_tokens")).as("quota_micro"),
          r6(col("epochs")).as("epochs_micro"))
    },
      s"""WITH ${UnimaxPlanSql("documents", "lang", "n_chars",
             200000L, 2.0)}
         |SELECT source, n_tokens, ${R6("quota")} AS quota_micro,
         |  ${R6("epochs")} AS epochs_micro
         |FROM uplan""".stripMargin),

    // --- LLM ops: the UniMax plan applied — per-lang epoch replication
    //     capped at maxEpochs, fractional epochs by portable hash ---
    Gate("q_unimax_apply", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val plan = Sampling.unimaxPlan(docs, "lang", "n_chars",
        budgetTokens = 200000L, maxEpochs = 2.0)
      Sampling.unimaxApply(docs, "lang", "doc_id", plan, seed = 23L)
        .select(col("doc_id"), col("lang"), col("epoch_copy"))
    },
      s"""WITH ${UnimaxPlanSql("documents", "lang", "n_chars",
             200000L, 2.0)},
         |r AS (
         |  SELECT doc_id, lang, epochs AS w
         |  FROM documents d JOIN uplan p ON d.lang = p.source),
         |cp AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(GREATEST(w, 0.0e0)) AS BIGINT) +
         |    CASE WHEN ${HashSql("doc_id", 23L)} <
         |      CAST(floor((GREATEST(w, 0.0e0) - floor(GREATEST(w, 0.0e0)))
         |        * 1048576.0 + 0.5) AS BIGINT)
         |    THEN 1 ELSE 0 END AS copies
         |  FROM r)
         |SELECT doc_id, lang,
         |  CAST(unnest(generate_series(1, copies)) AS BIGINT)
         |    AS epoch_copy
         |FROM cp WHERE copies >= 1""".stripMargin),

    // --- LLM ops: C4 page-level filter flags (Raffel et al. 2020 §2.2,
    //     document-level subset) ---
    Gate("q_c4_filters", (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__f", TextFunctions.c4Flags(col("text")))
        .select(col("doc_id"),
          col("__f.has_3_sentences").as("has_3_sentences"),
          col("__f.no_lorem").as("no_lorem"),
          col("__f.no_brace").as("no_brace"),
          col("__f.keep").as("keep"))
    },
      s"""SELECT doc_id,
         |  length(regexp_replace(text, '[^.!?]', '', 'g')) >= 3
         |    AS has_3_sentences,
         |  NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
         |  NOT contains(text, '{') AS no_brace,
         |  length(regexp_replace(text, '[^.!?]', '', 'g')) >= 3
         |    AND NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT contains(text, '{') AS keep
         |FROM documents""".stripMargin),

    // --- LLM ops: Gopher quality-filter flags (Rae et al. 2021 Table
    //     A1, document-level subset; minWords lowered to 10 for this
    //     short-doc corpus so both flag values occur) ---
    Gate("q_gopher_quality", (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__f",
          TextFunctions.gopherQualityFlags(col("text"), minWords = 10))
        .select(col("doc_id"),
          col("__f.word_count_ok").as("word_count_ok"),
          col("__f.mean_len_ok").as("mean_len_ok"),
          col("__f.symbol_ok").as("symbol_ok"),
          col("__f.alpha_ok").as("alpha_ok"),
          col("__f.stops_ok").as("stops_ok"),
          col("__f.keep").as("keep"))
    },
      // flag decisions divide exact integer counts, so raw comparisons
      // against the thresholds are engine-exact (no micro grid needed)
      s"""WITH ${TokensCte()},
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS nw,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g'))
         |      AS DOUBLE) AS nchars,
         |    CAST(length(regexp_replace(text, '[^#]', '', 'g'))
         |      AS DOUBLE) AS nhash,
         |    CAST((length(text) - length(regexp_replace(text,
         |      '\\.\\.\\.', '', 'g'))) / 3 AS DOUBLE) AS nell,
         |    CAST(len(list_filter(toks,
         |      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS nalpha,
         |    len(list_filter(
         |      ['the','a','an','and','or','of','to','in','is','are',
         |       'was','it','that','this','for','on','with','as','at',
         |       'by','be'],
         |      w -> list_contains(ltoks, w))) AS nstops
         |  FROM t)
         |SELECT doc_id,
         |  nw >= 10 AND nw <= 100000 AS word_count_ok,
         |  nchars / nw >= 3.0 AND nchars / nw <= 10.0 AS mean_len_ok,
         |  (nhash + nell) / nw <= 0.1 AS symbol_ok,
         |  nalpha / nw >= 0.8 AS alpha_ok,
         |  nstops >= 2 AS stops_ok,
         |  (nw >= 10 AND nw <= 100000)
         |    AND (nchars / nw >= 3.0 AND nchars / nw <= 10.0)
         |    AND ((nhash + nell) / nw <= 0.1)
         |    AND (nalpha / nw >= 0.8) AND (nstops >= 2) AS keep
         |FROM m""".stripMargin),

    // --- LLM ops: DSIR importance scoring (Xie et al. 2023) — per-doc
    //     add-k unigram log-likelihood ratio of a trusted target slice
    //     (every 31st doc) vs the raw corpus ---
    Gate("q_dsir", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dsir.importanceScores(
          docs.filter(pmod(col("doc_id"), lit(31L)) =!= 0), "doc_id",
          "text",
          docs.filter(pmod(col("doc_id"), lit(31L)) === 0)
            .select(col("text").as("q")), "q")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("llr")).as("llr_micro"))
    },
      s"""WITH $DsirCtes
         |SELECT doc_id, n_tokens, ${R6("llr")} AS llr_micro
         |FROM agg""".stripMargin),

    // --- LLM ops: DSIR importance RESAMPLING — survivors of the
    //     micro-rounded sigmoid(llr_per_token / T) portable-hash
    //     acceptance; deterministic, so the surviving set itself is the
    //     oracle surface ---
    Gate("q_dsir_resample", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dsir.resample(
          docs.filter(pmod(col("doc_id"), lit(31L)) =!= 0), "doc_id",
          "text",
          docs.filter(pmod(col("doc_id"), lit(31L)) === 0)
            .select(col("text").as("q")), "q",
          temperature = 0.25, seed = 11L)
        .select(col("doc_id"), col("n_tokens"),
          r6(col("llr")).as("llr_micro"))
    },
      // the resample face: micro-rounded sigmoid acceptance against the
      // same portable bucket hash the Spark sampler uses
      s"""WITH $DsirCtes,
         |p AS (
         |  SELECT doc_id, n_tokens, llr,
         |    floor((1.0 / (1.0 + exp(-((llr / n_tokens) / 0.25))))
         |      * 1e6 + 0.5) / 1e6 AS w
         |  FROM agg)
         |SELECT doc_id, n_tokens, ${R6("llr")} AS llr_micro FROM p
         |WHERE ${HashSql("doc_id", 11L)} <
         |  CAST(floor(w * 1048576 + 0.5) AS BIGINT)""".stripMargin),

    // --- LLM ops: group-scoped packing — chunks never mix languages,
    //     chunk ids restart per group ---
    Gate("q_pack_by_lang", (s, dir) => {
      Packing.concatChunks(Tables.documents(s, dir), "doc_id", "n_chars",
          budget = 16384L, nShards = 16, groupCols = Seq("lang"))
        .groupBy(col("lang"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tokens"))
    },
      s"""WITH k AS (SELECT doc_id, lang, n_chars,
         |  ${HashSql("doc_id", 0L)} AS h FROM documents),
         |p AS (SELECT doc_id, lang, n_chars,
         |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang
         |    ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pfx
         |  FROM k)
         |SELECT lang, pfx // 16384 AS chunk_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS tokens
         |FROM p GROUP BY 1, 2""".stripMargin),

    // --- LLM ops: the curation funnel audit as a declarative
    //     (stage, survivors) frame — LSH off, so every stage count has an
    //     exact DuckDB twin and the whole audit hash-matches ---
    Gate("q_funnel", (s, dir) => {
      Curation.funnelDf(Tables.documents(s, dir), "doc_id", "text",
        Curation.Config(minQuality = 0.2, sampleRate = 0.9,
          nearDupJaccard = 0.0, seed = 5L))
    },
      // funnel audit with LSH off: the near_dup/packed stages ARE the
      // sampled count (packing preserves rows)
      s"""WITH w AS (
         |  SELECT doc_id, text,
         |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
         |      AS rk
         |  FROM documents),
         |d AS (SELECT doc_id, text FROM w WHERE rk = 1),
         |${QualityScoreCtes("d")},
         |f AS (SELECT doc_id FROM q WHERE quality >= 0.2),
         |s AS (SELECT doc_id FROM f
         |  WHERE ${HashSql("doc_id", 5L)} < ${Sampling.threshold(0.9)})
         |SELECT 'input' AS stage,
         |  (SELECT COUNT(*) FROM documents) AS survivors
         |UNION ALL SELECT 'exact_dedup', (SELECT COUNT(*) FROM d)
         |UNION ALL SELECT 'quality_gate', (SELECT COUNT(*) FROM f)
         |UNION ALL SELECT 'sampled', (SELECT COUNT(*) FROM s)
         |UNION ALL SELECT 'near_dup', (SELECT COUNT(*) FROM s)
         |UNION ALL SELECT 'packed', (SELECT COUNT(*) FROM s)""".stripMargin),

    // --- LLM ops: source-balance audit (r12) — token-mass Gini across
    //     sources, the mixture-skew one-number check ---
    Gate("q_source_balance", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"),
        TextFunctions.nTokens(col("text")).cast("long").as("__tok"))
      Curation.sourceBalance(d, "source", "__tok")
        .select(col("n_sources"), col("total_tokens"),
          r6(col("max_share")).as("max_share_micro"),
          r6(col("gini")).as("gini_micro"))
    },
      // source balance: per-source token sums, pairwise |xi - xj| on the
      // tiny aggregate, Gini = sad / (2 k total)
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(SUM(len(string_split_regex(trim(text), '\\s+')))
         |      AS BIGINT) AS t
         |  FROM documents GROUP BY 1),
         |tot AS (
         |  SELECT COUNT(*) AS k, CAST(SUM(t) AS BIGINT) AS tt,
         |    CAST(MAX(t) AS BIGINT) AS mx
         |  FROM per),
         |pr AS (
         |  SELECT CAST(SUM(ABS(a.t - b.t)) AS BIGINT) AS sad
         |  FROM per a, per b)
         |SELECT k AS n_sources, tt AS total_tokens,
         |  ${R6("mx::DOUBLE / tt")} AS max_share_micro,
         |  ${R6("sad::DOUBLE / (2.0 * k * tt)")} AS gini_micro
         |FROM tot, pr""".stripMargin),

    // --- LLM ops: token-yield curve (r12) — cumulative token budget by
    //     quality decile, top tier first: the "where does the quality
    //     bar land for an N-token budget" planning curve. Decile edges
    //     from distributed exact percentiles (never a global ntile
    //     sort); row-local tier assignment; one partial-agg groupBy to
    //     <= 10 rows; bounded cumulative walk ---
    Gate("q_token_yield", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("__q"),
        TextFunctions.nTokens(col("text")).cast("long").as("__tok"))
      Curation.tokenYieldCurve(d, "__q", "__tok", buckets = 10)
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("cum_tokens"), r6(col("cum_frac")).as("cum_frac_micro"))
    },
      // token-yield curve: decile edges via quantile_cont (the
      // winsorize-proven exactPercentiles twin), row-local tier counts,
      // bounded cumulative window — bucket 1 = top quality tier
      s"""WITH ${TokensCte()},
         |m AS (
         |  SELECT doc_id, len(toks) AS ntok,
         |    ${QualityFeatureCols()}
         |  FROM t),
         |q AS (
         |  SELECT doc_id, ntok,
         |    $QualityScoreExpr AS quality
         |  FROM m),
         |th AS (SELECT quantile_cont(quality,
         |    [${(1 until 10).map(i => s"0.$i").mkString(", ")}]) AS t
         |  FROM q),
         |b AS (
         |  SELECT doc_id, ntok,
         |    10 - len(list_filter(th.t, x -> quality >= x)) AS bucket
         |  FROM q, th),
         |g AS (
         |  SELECT bucket, COUNT(*) AS n_docs,
         |    CAST(SUM(ntok) AS BIGINT) AS sum_tokens
         |  FROM b GROUP BY 1),
         |c AS (
         |  SELECT bucket, n_docs, sum_tokens,
         |    CAST(SUM(sum_tokens) OVER (ORDER BY bucket) AS BIGINT)
         |      AS cum_tokens,
         |    CAST(SUM(sum_tokens) OVER () AS BIGINT) AS total
         |  FROM g)
         |SELECT bucket, n_docs, sum_tokens, cum_tokens,
         |  ${R6("cum_tokens::DOUBLE / total")} AS cum_frac_micro
         |FROM c""".stripMargin),
  )
}
