package graft
package gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

import Shared._

/** Text gates: tokenization, BPE, language id, retrieval and ranking
  * metrics, language-model scores and corpus reports. */
object TextGates {

  /** DuckDB twin of one language's marker score in
    * [[TextFunctions.langId]]: the Spark face counts positions where a
    * zero-width lookahead alternation `(?=(m1|m2|...))` matches — i.e.
    * positions where ANY marker starts, overlapping hits included, at
    * most one count per position. RE2 has no lookahead, so the twin
    * scans positions explicitly: `substr(p, i, |m|) = m` over
    * `generate_series(1, length(p))`. Identical by construction on BMP
    * text (char-counting `length`/`substr` agree between engines there;
    * the driver corpus is ASCII). Built from the SAME
    * [[TextFunctions.langMarkers]] list the Spark face uses. */
  private def LangScoreSql(markers: Seq[String]): String =
    "len(list_filter(generate_series(1, length(p)), i -> " +
      markers.map(m => s"substr(p, i, ${m.length}) = '$m'")
        .mkString(" OR ") + "))"

  /** DuckDB twin of [[graft.operators.Bpe.train]]: the full BPE trainer
    * with `rounds` merge rounds unrolled to CTEs. `words` is the one
    * corpus tokenize pass (distinct lowercased tokens + frequencies),
    * `st0` splits each word into code-point symbol lists; per round r,
    * `pc{r}` explodes adjacent symbol pairs ("a b" strings — symbols
    * never contain spaces), `b{r}` is the single-row argmax (count
    * desc, pair asc — DuckDB's binary UTF-8 collation matches Spark's
    * UTF8String ordering), and `st{r}` replays the Spark side's
    * left-fold merge via `list_reduce` (init = first symbol, exactly
    * the fold's acc=="" bootstrap; once a pair merges, the new symbol
    * no longer matches the pair's left side — left-to-right
    * non-overlapping semantics on both engines by the same mechanism).
    * Ends in the merge table `b1 UNION ALL .. b{rounds}`. */
  private def BpeTrainSql(rounds: Int): String = {
    val sel = (1 to rounds).map(r =>
      s"""SELECT CAST(round AS BIGINT) AS round, ca AS sym_a, cb AS sym_b,
         |  ca || cb AS merged, pc AS pair_count FROM b$r""".stripMargin)
      .mkString("\nUNION ALL\n")
    "WITH " + BpeTrainCtes(rounds) + "\n" + sel
  }

  /** The [[BpeTrainSql]] CTE chain without the final merge-table SELECT
    * (`toks` .. `b{rounds}`), shared with the segmentation twin. */
  private def BpeTrainCtes(rounds: Int): String = {
    val ctes = new StringBuilder(
      s"""toks AS (
         |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents),
         |words AS (
         |  SELECT w, COUNT(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(t) AS w FROM toks)
         |  WHERE length(w) > 0 GROUP BY 1),
         |st0 AS (
         |  SELECT w, cnt, list_transform(generate_series(1, length(w)),
         |    i -> substr(w, i, 1)) AS sl FROM words)""".stripMargin)
    for (r <- 1 to rounds) {
      ctes.append(s""",
         |pc$r AS (
         |  SELECT unnest(list_transform(generate_series(1, len(sl) - 1),
         |    i -> sl[i] || ' ' || sl[i + 1])) AS bg, cnt
         |  FROM st${r - 1}),
         |b$r AS (
         |  SELECT $r AS round, split_part(bg, ' ', 1) AS ca,
         |    split_part(bg, ' ', 2) AS cb, SUM(cnt)::BIGINT AS pc
         |  FROM pc$r GROUP BY bg ORDER BY pc DESC, bg LIMIT 1)""".stripMargin)
      if (r < rounds) ctes.append(s""",
         |st$r AS (
         |  SELECT w, cnt, string_split(list_reduce(sl, (acc, s) -> CASE
         |    WHEN s = cb AND acc = ca THEN ca || cb
         |    WHEN s = cb AND ends_with(acc, ' ' || ca)
         |      THEN substr(acc, 1, length(acc) - length(ca)) || ca || cb
         |    ELSE acc || ' ' || s END), ' ') AS sl
         |  FROM st${r - 1} CROSS JOIN b$r)""".stripMargin)
    }
    ctes.result()
  }

  /** DuckDB twin of [[graft.operators.Bpe.applyMerges]] with the
    * merge table learned in-query: the [[BpeTrainCtes]] chain's six
    * argmax rows cross-joined into one row `m(ma1,mb1,..)`, then every
    * document token runs the same six nested left-folds the Spark
    * column expression chains — segmentation under the oracle even
    * though the merges themselves are data-dependent. */
  private def BpeSegmentSql(rounds: Int): String = {
    val mCols = (1 to rounds)
      .map(r => s"b$r.ca AS ma$r, b$r.cb AS mb$r").mkString(", ")
    val mFrom = (1 to rounds).map(r => s"b$r").mkString(", ")
    var f = "array_to_string(list_transform(generate_series(1, " +
      "length(tok)), i -> substr(tok, i, 1)), ' ')"
    for (r <- 1 to rounds)
      f = s"""list_reduce(string_split($f, ' '), (acc, s) -> CASE
         |    WHEN s = mb$r AND acc = ma$r THEN ma$r || mb$r
         |    WHEN s = mb$r AND ends_with(acc, ' ' || ma$r)
         |      THEN substr(acc, 1, length(acc) - length(ma$r)) || ma$r || mb$r
         |    ELSE acc || ' ' || s END)""".stripMargin
    "WITH " + BpeTrainCtes(rounds) +
      s""",
         |m AS (SELECT $mCols FROM $mFrom),
         |dtoks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS dt
         |  FROM documents),
         |seg AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(dt, tok -> $f), ' | ')
         |      AS bpe_pieces
         |  FROM dtoks CROSS JOIN m)
         |SELECT doc_id, bpe_pieces,
         |  CAST(len(string_split(bpe_pieces, ' ')) -
         |    (len(string_split(bpe_pieces, ' | ')) - 1) AS BIGINT)
         |    AS n_pieces,
         |  CAST(len(string_split(bpe_pieces, ' | ')) AS BIGINT) AS n_words
         |FROM seg""".stripMargin
  }

  /** Shared query set of the q_ndcg gate — ONE constant feeds the Spark
    * face and the SQL twin. Every term is drawn from the corpus
    * generator's vocabulary so each pool has real hits. */
  private val ndcgQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("table", "scan"),
    "q2" -> Seq("vector", "join"),
    "q3" -> Seq("stream", "filter"))

  /** Shared WITH-prefix of the q_ndcg / q_mrr oracles: the parametrized
    * bm25 chain per [[ndcgQueries]] entry, unioned into `pool(qid,
    * doc_id, rel, score)`. */
  private lazy val NdcgPoolSql: String = {
    val blocks = ndcgQueries.zipWithIndex.map { case ((qid, ts), i) =>
      val inList = ts.map(t => s"'$t'").mkString(", ")
      s"""p$i AS MATERIALIZED (
         |  SELECT '$qid' AS qid, doc_id,
         |    CASE WHEN n_terms = ${ts.size} THEN 1 ELSE 0 END AS rel,
         |    score
         |  FROM (
         |    SELECT doc_id, COUNT(*) AS n_terms,
         |      CAST(SUM(CAST(s AS DECIMAL(18,8))) AS DOUBLE) AS score
         |    FROM (
         |      SELECT doc_id,
         |        (ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * (1.2 + 1.0)))
         |          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
         |      FROM (
         |        SELECT doc_id, dl, term, tf,
         |          COUNT(*) OVER (PARTITION BY term) AS df
         |        FROM (
         |          SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
         |          WHERE term IN ($inList) GROUP BY 1, 2, 3)), stats)
         |    GROUP BY 1)
         |  ORDER BY score DESC, doc_id LIMIT 20)""".stripMargin
    }.mkString(",\n")
    val pools = ndcgQueries.indices.map(i => s"SELECT * FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |stats AS MATERIALIZED (
       |  SELECT COUNT(*) AS n, AVG(len(t)) AS avgdl FROM toks),
       |hits AS MATERIALIZED (
       |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
       |$blocks,
       |pool AS (SELECT * FROM ($pools))""".stripMargin
  }

  /** Shared lexicon of the q_taxonomy_tag gate — ONE constant feeds both
    * the Spark face and the SQL twin (cnt columns + CASE chain are
    * generated from it), so the two sides cannot drift. Categories must
    * stay alphabetical — the generated ties-to-smaller-name CASE chain
    * depends on it and the oracle builder enforces it. */
  private val taxonomyLexicon: Seq[(String, Seq[String])] = Seq(
    "compute" -> Seq("agg", "filter", "group", "hash", "join", "merge",
      "query", "scan", "sort", "window"),
    "data" -> Seq("batch", "column", "customer", "data", "key", "line",
      "part", "row", "stream", "table", "value", "vector"),
    "perf" -> Seq("big", "dup", "fast", "slow", "small"))

  val gates: Seq[Gate] = Seq(

    // --- LLM ops: token counting + quality signals ---
    Gate("q_text_stats", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.nTokens(col("text")).cast("long").as("n_tokens"),
        r6(TextFunctions.avgTokenLen(col("text"))).as("avg_token_len_micro"),
        r6(TextFunctions.stopwordRatio(col("text"))).as("stopword_ratio_micro"),
        length(col("text")).cast("long").as("n_chars_calc"))
    },
      s"""WITH ${TokensCte()}
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  ${R6("length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)")} AS avg_token_len_micro,
         |  ${R6("len(list_filter(ltoks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','it','that','this','for','on','with','as','at','by','be')))::DOUBLE / len(ltoks)")} AS stopword_ratio_micro,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc
         |FROM t""".stripMargin),

    // --- LLM ops: language-ID heuristic (no SQL oracle: marker tables) ---
    Gate("q_lang_id", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"))
    }, {
      // langId's full decision chain: script-range shares first (exact on
      // BMP text — char-counting length/substr agree between engines
      // there), then marker voting with first-wins argmax in the marker
      // list's declaration order. Marker scores are position scans — the
      // RE2-compatible twin of the Spark face's zero-width lookahead
      // counts (one hit per position where ANY marker starts).
      val scores = TextFunctions.langMarkers
        .map { case (l, ms) => s"    ${LangScoreSql(ms)} AS s_$l" }
        .mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, text,
         |$scores
         |  FROM t),
         |sh AS (
         |  SELECT doc_id, s_de, s_fr, s_es, s_it, s_pt, s_en,
         |    GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS n,
         |    CAST(length(regexp_replace(text,
         |      '[^\\x{3040}-\\x{30ff}]', '', 'g')) AS DOUBLE) AS kana,
         |    CAST(length(regexp_replace(text,
         |      '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) AS cjk,
         |    CAST(length(regexp_replace(text,
         |      '[^\\x{ac00}-\\x{d7af}]', '', 'g')) AS DOUBLE) AS hangul,
         |    CAST(length(regexp_replace(text,
         |      '[^\\x{0400}-\\x{04ff}]', '', 'g')) AS DOUBLE) AS cyr
         |  FROM sc),
         |m AS (SELECT *,
         |  GREATEST(s_de, s_fr, s_es, s_it, s_pt, s_en) AS mx FROM sh)
         |SELECT doc_id, CASE
         |  WHEN kana / n > 0.1 THEN 'ja'
         |  WHEN cjk / n > 0.2 THEN 'zh'
         |  WHEN hangul / n > 0.2 THEN 'ko'
         |  WHEN cyr / n > 0.2 THEN 'ru'
         |  WHEN mx > 0 AND s_de = mx THEN 'de'
         |  WHEN mx > 0 AND s_fr = mx THEN 'fr'
         |  WHEN mx > 0 AND s_es = mx THEN 'es'
         |  WHEN mx > 0 AND s_it = mx THEN 'it'
         |  WHEN mx > 0 AND s_pt = mx THEN 'pt'
         |  ELSE 'en' END AS lang_id
         |FROM m""".stripMargin
    }),

    // --- LLM ops: Unicode canonicalization before dedup/hashing — the
    //     native NFC normalizer expression (composed == decomposed
    //     accents) + the full dedup-prep chain (NBSP-aware whitespace
    //     collapse, Cc/Cf strip, lower, trim). The corpus is ASCII, so
    //     each doc is decorated with deterministic doc_id-derived
    //     unicode trouble (combining acute, precomposed é, NBSP, ZWSP,
    //     tab, a control byte) that BOTH engines synthesize from the
    //     same code points; the normalized strings hash-match only if
    //     the two engines' NFC and category classes agree ---
    Gate("q_text_normalize", (s, dir) => {
      val dec = concat(
        // decomposed e + COMBINING ACUTE U+0301 (NFC composes to U+00E9)
        when(col("doc_id") % 3 === 0, lit("Cafe\u0301 ")).otherwise(lit("")),
        // precomposed U+00E9 + NBSP (already NFC; NBSP folds to space)
        when(col("doc_id") % 3 === 1, lit("Caf\u00E9\u00A0")).otherwise(lit("")),
        // ZWSP (Cf, stripped), tab (collapsed), SOH control (Cc, stripped)
        when(col("doc_id") % 2 === 0, lit("A\u200BB\tC\u0001 "))
          .otherwise(lit("")),
        // VT U+000B: in Java's \s but NOT RE2's — the explicit
        // whitespace class must make it a separator on BOTH engines
        when(col("doc_id") % 5 === 0, lit("V\u000BW "))
          .otherwise(lit("")),
        col("text"))
      Tables.documents(s, dir).select(col("doc_id"),
        length(dec).as("n_raw"),
        TextFunctions.normalizeUnicode(dec, "NFC").as("nfc"),
        length(TextFunctions.normalizeUnicode(dec, "NFC")).as("n_nfc"),
        TextFunctions.canonicalizeForDedup(dec).as("canonical"))
    },
      // q_text_normalize twin: both engines synthesize the SAME decorated
      // code points (chr() on the DuckDB side, unicode escapes on the
      // Spark side), then nfc_normalize + the identical regex chain —
      // hash equality is a cross-engine NFC + Unicode-category agreement
      // proof, which the standard's normalization stability policy
      // guarantees for assigned code points
      s"""WITH d AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0
         |       THEN 'Cafe' || chr(769) || ' ' ELSE '' END)
         |    || (CASE WHEN doc_id % 3 = 1
         |       THEN 'Caf' || chr(233) || chr(160) ELSE '' END)
         |    || (CASE WHEN doc_id % 2 = 0
         |       THEN 'A' || chr(8203) || 'B' || chr(9) || 'C'
         |         || chr(1) || ' ' ELSE '' END)
         |    || (CASE WHEN doc_id % 5 = 0
         |       THEN 'V' || chr(11) || 'W ' ELSE '' END)
         |    || text AS dec
         |  FROM documents)
         |SELECT doc_id,
         |  length(dec) AS n_raw,
         |  nfc_normalize(dec) AS nfc,
         |  length(nfc_normalize(dec)) AS n_nfc,
         |  trim(lower(regexp_replace(regexp_replace(nfc_normalize(dec),
         |    '[ ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)
         |      || chr(160) || chr(8199) || chr(8239) || ']+', ' ', 'g'),
         |    '[\\p{Cc}\\p{Cf}]', '', 'g'))) AS canonical
         |FROM d""".stripMargin),

    // --- LLM ops: sketch-powered corpus profile — the governance-report
    //     shape rebuilt on bounded-state primitives: doc volume, HLL
    //     unique-content estimate (dedup load without a distinct), and
    //     histogram length quantiles, per source in two bounded passes ---
    Gate("q_corpus_profile", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("tkey", Sampling.stringKey31(col("text")))
      val vol = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val uniq = Sketches.hllDistinct(docs, Seq("source"), "tkey",
        p = 10, seed = 6L)
      val qs = Sketches.approxQuantiles(docs, Seq("source"), "n_chars",
          qs = Seq(0.5, 0.95), buckets = 32)
        .groupBy(col("source"))
        .agg(max(when(col("q") === 0.5, col("est"))).as("p50"),
          max(when(col("q") === 0.95, col("est"))).as("p95"))
      vol.join(uniq, Seq("source")).join(qs, Seq("source"))
        .select(col("source"), col("n_docs"),
          r6(col("distinct_est")).as("uniq_est_micro"),
          r6(col("p50")).as("p50_micro"), r6(col("p95")).as("p95_micro"))
    },
      // Sketch-composed profile: HLL chain + histogram-quantile chain
      // per source, volumes joined on — all deterministic primitives.
      s"""WITH hkeys AS (
         |  SELECT source AS g, ${StringKey31Sql("text")} AS k
         |  FROM documents),
         |${HllChainSql(seed = 6L)},
         |${HistSrcCte("documents", "source", "n_chars")},
         |${HistEquiWidthCtes(32)},
         |${HistWalkCtes(Seq(0.5, 0.95))},
         |est AS (
         |  SELECT g, q, ${HistEstSql(32)} AS v
         |  FROM p WHERE rn = 1),
         |piv AS (
         |  SELECT g, MAX(CASE WHEN q = 0.5e0 THEN v END) AS p50,
         |    MAX(CASE WHEN q = 0.95e0 THEN v END) AS p95
         |  FROM est GROUP BY 1),
         |vol AS (SELECT source AS g, COUNT(*) AS n_docs
         |        FROM documents GROUP BY 1)
         |SELECT vol.g AS source, vol.n_docs,
         |  ${R6("hll.est")} AS uniq_est_micro,
         |  ${R6("piv.p50")} AS p50_micro, ${R6("piv.p95")} AS p95_micro
         |FROM vol JOIN hll USING (g) JOIN piv USING (g)""".stripMargin),

    // --- LLM ops: pattern redaction (PII/boilerplate scrub shape) with a
    //     per-doc audit count; word-boundary regex stays in the RE2-
    //     compatible subset so Spark (Java regex) and DuckDB (RE2) agree ---
    Gate("q_text_redact", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        md5(TextFunctions.redact(col("text"), "\\btable\\b", "<TBL>"))
          .as("redacted_md5"),
        TextFunctions.matchCount(col("text"), "\\btable\\b").cast("long")
          .as("n_matches"))
    },
      s"""SELECT doc_id,
         |  md5(regexp_replace(text, '\\btable\\b', '<TBL>', 'g'))
         |    AS redacted_md5,
         |  CAST(length(regexp_extract_all(text, '\\btable\\b')) AS BIGINT)
         |    AS n_matches
         |FROM documents""".stripMargin),

    // --- LLM ops: smooth TF-IDF (sklearn convention) for a query term
    //     set — inverted-index shape, term filter inside the explode ---
    Gate("q_tfidf", (s, dir) => {
      Retrieval.tfIdf(Tables.documents(s, dir), "doc_id", "text",
          Seq("table", "spark", "vector"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          r6(col("tfidf")).as("tfidf_micro"))
    },
      // smooth TF-IDF: idf = ln((1+N)/(1+df)) + 1, per-term df as a window
      // count over the (doc, term) postings — mirrors Retrieval.tfIdf
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents),
         |hits AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM hits
         |  WHERE term IN ('table', 'spark', 'vector') GROUP BY 1, 2),
         |wdf AS (
         |  SELECT doc_id, term, tf,
         |    COUNT(*) OVER (PARTITION BY term) AS df
         |  FROM tf),
         |n AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, term, tf, df,
         |  ${R6("tf * (ln((1.0 + n) / (1.0 + df)) + 1.0)")} AS tfidf_micro
         |FROM wdf, n""".stripMargin),

    // --- LLM ops: PMI collocations — adjacent-pair multi-word
    //     expressions (Church & Hanks 1990). Score is the log-free
    //     PMI surrogate exp(PMI) = P(w1 w2)/(P(w1)P(w2)): monotone in
    //     PMI and engine-exact (IEEE division; no libm ln in the rank) ---
    Gate("q_pmi", (s, dir) => {
      Retrieval.pmiCollocations(Tables.documents(s, dir), "doc_id",
          "text", minCount = 3, topK = 50)
        .select(col("w1"), col("w2"), col("pair_count"), col("c1"),
          col("c2"), r6(col("pmi_ratio")).as("pmi_ratio_micro"))
    },
      // PMI collocations: the ratio expression mirrors
      // Retrieval.pmiCollocations's operation order exactly — each
      // division/multiplication is correctly-rounded IEEE, so the doubles
      // (and the top-k cut plus rank-50 tie-break they decide) are
      // bit-identical across engines. Bigram total = tokens - non-null
      // docs (each doc contributes len-1 adjacent pairs)
      s"""WITH toks AS (
         |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |uni AS (SELECT unnest(t) AS w FROM toks),
         |ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(c) FROM ucnt) AS n,
         |               (SELECT COUNT(text) FROM documents) AS nd),
         |big AS (
         |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1])) AS bg
         |  FROM toks),
         |bcnt AS (
         |  SELECT bg, COUNT(*) AS pair_count FROM big
         |  GROUP BY 1 HAVING COUNT(*) >= 3),
         |scored AS (
         |  SELECT split_part(bg, ' ', 1) AS w1,
         |    split_part(bg, ' ', 2) AS w2, pair_count
         |  FROM bcnt)
         |SELECT w1, w2, pair_count, a.c AS c1, b.c AS c2,
         |  ${R6("((CAST(pair_count AS DOUBLE) * n) / a.c) * (CAST(n AS DOUBLE) / b.c) / CAST(n - nd AS DOUBLE)")} AS pmi_ratio_micro
         |FROM scored
         |JOIN ucnt a ON scored.w1 = a.w
         |JOIN ucnt b ON scored.w2 = b.w, tot
         |ORDER BY ((CAST(pair_count AS DOUBLE) * n) / a.c) * (CAST(n AS DOUBLE) / b.c) / CAST(n - nd AS DOUBLE) DESC, w1, w2
         |LIMIT 50""".stripMargin),

    // --- LLM ops: fuzzy vocabulary pairs — SymSpell symmetric-delete
    //     blocking + exact levenshtein verify (FuzzyMatch scaladoc):
    //     typo/variant clusters over the corpus vocabulary without an
    //     all-pairs scan. Oracle runs the naive quadratic join — the
    //     semantics the blocking must reproduce with recall 1 ---
    Gate("q_fuzzy_vocab", (s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      FuzzyMatch.editPairs(vocab, "w", maxDist = 2)
        .join(vocab.select(col("w").as("term_a"), col("cnt").as("cnt_a")),
          "term_a")
        .join(vocab.select(col("w").as("term_b"), col("cnt").as("cnt_b")),
          "term_b")
        .select("term_a", "term_b", "dist", "cnt_a", "cnt_b")
    },
      // fuzzy vocab: the naive quadratic levenshtein join over the
      // vocabulary — blocking recall must be 1 against it
      s"""WITH toks AS (
         |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents),
         |vocab AS (
         |  SELECT w, COUNT(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(t) AS w FROM toks)
         |  WHERE length(w) > 0 GROUP BY 1)
         |SELECT a.w AS term_a, b.w AS term_b,
         |  CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
         |  a.cnt AS cnt_a, b.cnt AS cnt_b
         |FROM vocab a, vocab b
         |WHERE a.w < b.w AND levenshtein(a.w, b.w) <= 2""".stripMargin),

    // --- LLM ops: BPE merge learning (Sennrich 2016) — the tokenizer-
    //     vocabulary trainer as a gate. Six rounds; each round's pair
    //     argmax (count desc, pair asc) and left-fold merge application
    //     are replayed verbatim by the oracle's unrolled CTE chain, so
    //     the learned merge TABLE — the trainer's entire output,
    //     including every data-dependent intermediate state — is
    //     hash-matched ---
    Gate("q_bpe_train", (s, dir) =>
      Bpe.trainDf(s, Tables.documents(s, dir), "text", rounds = 6),
      // BPE trainer: the whole six-round merge learning replayed in SQL
      BpeTrainSql(6)),

    // --- LLM ops: BPE segmentation — the trainer's deploy face. The
    //     six learned merges (driver-collected, data-dependent) fold
    //     into every document row-locally; piece/word counts derive
    //     from the segmented string by the same formula on both sides
    //     (" | " separators add one split element per token gap) ---
    Gate("q_bpe_segment", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ms = Bpe.train(docs, "text", rounds = 6)
      docs.select(col("doc_id"), Bpe.applyMerges(col("text"), ms))
        .withColumn("n_pieces",
          (size(split(col("bpe_pieces"), " ")) -
            (size(split(col("bpe_pieces"), " \\| ")) - 1)).cast("long"))
        .withColumn("n_words",
          size(split(col("bpe_pieces"), " \\| ")).cast("long"))
    },
      // BPE segmentation: learned merges folded into every document
      BpeSegmentSql(6)),

    // --- LLM ops: BM25 top-k keyword search — the lexical retrieval
    //     complement to q_ann_cosine; per-doc scores decimal-summed so
    //     the top-k cut is bit-stable across engines ---
    Gate("q_bm25", (s, dir) => {
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          Seq("table", "scan", "join", "vector"), k = 15)
        .select(col("doc_id"), col("n_terms"),
          r6(col("score")).as("score_micro"))
    },
      // BM25: identical operation order to Retrieval.bm25TopK (left-assoc
      // arithmetic, (1.2 + 1.0) computed not pre-folded, DECIMAL(18,8)
      // term-score sum) so the scores — and the top-k cut they decide —
      // are bit-identical
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n, AVG(len(t)) AS avgdl FROM toks),
         |hits AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term
         |  FROM toks),
         |tf AS (
         |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
         |  WHERE term IN ('table', 'scan', 'join', 'vector')
         |  GROUP BY 1, 2, 3),
         |wdf AS (
         |  SELECT doc_id, dl, term, tf,
         |    COUNT(*) OVER (PARTITION BY term) AS df
         |  FROM tf),
         |sc AS (
         |  SELECT doc_id,
         |    (ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * (1.2 + 1.0)))
         |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
         |  FROM wdf, stats),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_terms,
         |    CAST(SUM(CAST(s AS DECIMAL(18,8))) AS DOUBLE) AS score
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, n_terms, ${R6("score")} AS score_micro
         |FROM agg ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),

    // --- LLM ops: NDCG@10 of the BM25 ranker over three query pools
    //     (binary relevance = all query terms matched). DECIMAL-summed
    //     position gains make the metric bit-portable ---
    Gate("q_ndcg", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pool = ndcgQueries.map { case (qid, terms) =>
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 20)
          .select(lit(qid).as("qid"), col("doc_id"),
            (col("n_terms") === terms.size).cast("int").as("rel"),
            col("score"))
      }.reduce(_.unionByName(_))
      Retrieval.ndcgAtK(pool, Seq("qid"), "doc_id", "score", "rel",
          k = 10)
        .select(col("qid"), col("n_candidates"),
          r6(col("dcg")).as("dcg_micro"),
          r6(col("ndcg")).as("ndcg_micro"))
    }, {
      // NDCG@10: per-query bm25 pools (the q_bm25 chain, parametrized)
      // -> binary relevance -> rank windows -> DECIMAL-summed gains
      def decGain(pos: String): String =
        s"CASE WHEN $pos <= 10 THEN CAST(rel / (ln($pos + 1.0) / ln(2.0)) " +
          "AS DECIMAL(18,8)) ELSE CAST(0 AS DECIMAL(18,8)) END"
      s"""$NdcgPoolSql,
         |ranked AS (
         |  SELECT qid, rel,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, doc_id) AS pr,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, doc_id) AS pi
         |  FROM pool),
         |agg AS (
         |  SELECT qid,
         |    CAST(SUM(${decGain("pr")}) AS DOUBLE) AS dcg,
         |    CAST(SUM(${decGain("pi")}) AS DOUBLE) AS idcg,
         |    COUNT(*) AS n_candidates
         |  FROM ranked GROUP BY 1)
         |SELECT qid, n_candidates, ${R6("dcg")} AS dcg_micro,
         |  ${R6("CASE WHEN idcg > 0.0 THEN dcg / idcg END")} AS ndcg_micro
         |FROM agg""".stripMargin
    }),

    // --- LLM ops: reciprocal rank @10 over the same BM25 pools ---
    Gate("q_mrr", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pool = ndcgQueries.map { case (qid, terms) =>
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 20)
          .select(lit(qid).as("qid"), col("doc_id"),
            (col("n_terms") === terms.size).cast("int").as("rel"),
            col("score"))
      }.reduce(_.unionByName(_))
      Retrieval.reciprocalRankAtK(pool, Seq("qid"), "doc_id", "score",
          "rel", k = 10)
        .select(col("qid"), col("first_rel_rank"),
          r6(col("rr")).as("rr_micro"))
    },
      // MRR: first relevant position under the same ranking
      s"""$NdcgPoolSql,
         |ranked AS (
         |  SELECT qid, rel,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, doc_id) AS pr
         |  FROM pool),
         |agg AS (
         |  SELECT qid,
         |    MIN(CASE WHEN rel > 0 AND pr <= 10 THEN pr END)
         |      AS first_rel_rank
         |  FROM ranked GROUP BY 1)
         |SELECT qid, first_rel_rank,
         |  ${R6("COALESCE(1.0 / first_rel_rank, 0.0)")} AS rr_micro
         |FROM agg""".stripMargin),

    // --- LLM ops: content-defined chunking — md5-nibble boundaries make
    //     the rule engine-portable, so the whole operator hash-matches ---
    Gate("q_cdc_chunks", (s, dir) => {
      Chunking.cdcChunks(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("chunk_md5"))
    },
      // content-defined chunking: cut after tokens whose md5 starts with
      // '0'; a token's chunk = boundaries strictly before it
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0, len(t) - 1)) AS pos,
         |    unnest(t) AS tok
         |  FROM (SELECT doc_id,
         |      string_split_regex(trim(text), '\\s+') AS t
         |    FROM documents)),
         |b AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN substr(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END
         |      AS is_b
         |  FROM toks),
         |c AS (
         |  SELECT doc_id, pos, tok,
         |    COALESCE(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk_idx
         |  FROM b)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  COUNT(*) AS n_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
         |FROM c GROUP BY 1, 2""".stripMargin),

    // --- LLM ops: per-(source, lang) dataset card — volumes, exact-dup
    //     load, quality mass, in ONE aggregation pass ---
    Gate("q_corpus_report", (s, dir) => {
      CorpusReport.report(Tables.documents(s, dir),
          Seq("source", "lang"), "doc_id", "text")
        .select(col("source"), col("lang"), col("n_docs"), col("tokens"),
          col("chars"), col("n_exact_dups"),
          r6(col("mean_quality")).as("mean_quality_micro"))
    },
      // dataset card: dup flag = not the md5 group's winner; quality CTEs
      // identical to q_quality_score's with group columns carried through
      s"""WITH w AS (
         |  SELECT source, lang, doc_id, text,
         |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
         |      AS rk
         |  FROM documents),
         |t AS (
         |  SELECT source, lang, rk, text,
         |    string_split_regex(trim(text), '\\s+') AS toks,
         |    string_split_regex(trim(lower(text)), '\\s+') AS ltoks
         |  FROM w),
         |m AS (
         |  SELECT source, lang, rk, text, toks,
         |    ${QualityFeatureCols()}
         |  FROM t),
         |q AS (
         |  SELECT source, lang, rk, text, toks,
         |    $QualityScoreExpr AS quality
         |  FROM m)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(toks)) AS BIGINT) AS tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS chars,
         |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_dups,
         |  ${R6("CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)")}
         |    AS mean_quality_micro
         |FROM q GROUP BY 1, 2""".stripMargin),

    // --- LLM ops: top distinctive terms per language (c-TF-IDF slice
    //     characterization) ---
    Gate("q_top_terms", (s, dir) => {
      Retrieval.topTermsPerGroup(Tables.documents(s, dir), Seq("lang"),
          "text", n = 5)
        .select(col("lang"), col("term"), col("tf"), col("df_g"),
          r6(col("score")).as("score_micro"), col("rank"))
    },
      // c-TF-IDF distinctive terms per language
      s"""WITH e AS (
         |  SELECT lang,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |tf AS (SELECT lang, term, COUNT(*) AS tf FROM e GROUP BY 1, 2),
         |wdf AS (
         |  SELECT lang, term, tf,
         |    COUNT(*) OVER (PARTITION BY term) AS df_g
         |  FROM tf),
         |g AS (SELECT COUNT(DISTINCT lang) AS g FROM documents),
         |sc AS (
         |  SELECT lang, term, tf, df_g,
         |    tf * (ln((1.0 + g) / (1.0 + df_g)) + 1.0) AS score
         |  FROM wdf, g),
         |r AS (
         |  SELECT lang, term, tf, df_g, score,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY score DESC, term) AS rank
         |  FROM sc)
         |SELECT lang, term, tf, df_g, ${R6("score")} AS score_micro,
         |  CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5""".stripMargin),

    // --- LLM ops: CCNet-style perplexity filter — add-k unigram model
    //     fit on the corpus, every doc scored by mean NLL ---
    Gate("q_lm_score", (s, dir) => {
      LmScore.scoreCorpus(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("mean_nll")).as("mean_nll_micro"))
    },
      // add-k unigram NLL: model = corpus term counts; per-token logprob
      // left-joined back (same arithmetic order as LmScore.meanNll)
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |model AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v
         |  FROM model),
         |sc AS (
         |  SELECT t.doc_id,
         |    -ln((COALESCE(m.cnt, 0) + 0.5) / (n + 0.5 * v)) AS nll
         |  FROM toks t LEFT JOIN model m ON t.term = m.term, tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  ${R6("CAST(SUM(CAST(nll AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)")}
         |    AS mean_nll_micro
         |FROM sc GROUP BY 1""".stripMargin),

    // --- LLM ops: conditional bigram perplexity (unigram fallback on
    //     first tokens) — the actual LM shape, one rung below KenLM ---
    Gate("q_lm_bigram", (s, dir) => {
      LmScore.bigramScoreCorpus(Tables.documents(s, dir), "doc_id",
          "text")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("mean_nll")).as("mean_nll_micro"))
    },
      // conditional bigram NLL with unigram first-token fallback; LAG
      // aligns each token with its predecessor inside the doc
      s"""WITH toks0 AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0, len(t) - 1)) AS pos,
         |    unnest(t) AS term
         |  FROM (SELECT doc_id,
         |      string_split_regex(trim(lower(text)), '\\s+') AS t
         |    FROM documents)),
         |toks AS (
         |  SELECT doc_id, pos, term,
         |    LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM toks0),
         |uni AS (SELECT term, COUNT(*) AS uc FROM toks GROUP BY 1),
         |bi AS (SELECT prev, term, COUNT(*) AS bc FROM toks
         |  WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(uc) AS BIGINT) AS n, COUNT(*) AS v
         |  FROM uni),
         |sc AS (
         |  SELECT t.doc_id,
         |    CASE WHEN t.prev IS NULL THEN
         |      -ln((COALESCE(u.uc, 0) + 0.5) / (n + 0.5 * v))
         |    ELSE
         |      -ln((COALESCE(b.bc, 0) + 0.5) /
         |        (COALESCE(p.uc, 0) + 0.5 * v))
         |    END AS nll
         |  FROM toks t
         |  LEFT JOIN bi b ON t.prev = b.prev AND t.term = b.term
         |  LEFT JOIN uni p ON t.prev = p.term
         |  LEFT JOIN uni u ON t.term = u.term, tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  ${R6("CAST(SUM(CAST(nll AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)")}
         |    AS mean_nll_micro
         |FROM sc GROUP BY 1""".stripMargin),

    // --- LLM ops: sliding-window RAG chunking — overlapping fixed
    //     token windows (window=32, stride=24 -> 8 tokens of shared
    //     context); ZERO shuffles, the whole operator is row-local
    //     (Chunking.slidingChunks scaladoc) ---
    Gate("q_rag_chunks", (s, dir) => {
      Chunking.slidingChunks(Tables.documents(s, dir), "doc_id", "text",
          window = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("chunk_md5"))
    },
      // sliding-window chunking: chunk i covers tokens
      // [i*24, i*24 + 32); last chunk index = ceil((n-32)/24) via
      // integer arithmetic; list_slice clamps at the end like slice
      s"""WITH t AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |c AS (
         |  SELECT doc_id, toks, n,
         |    unnest(generate_series(0, CASE WHEN n <= 32 THEN 0
         |      ELSE (n - 32 + 23) // 24 END)) AS chunk_idx
         |  FROM n)
         |SELECT doc_id, chunk_idx,
         |  LEAST(32, n - chunk_idx * 24) AS n_tokens,
         |  md5(array_to_string(
         |    list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32),
         |    ' ')) AS chunk_md5
         |FROM c""".stripMargin),

    // --- LLM ops: character-entropy quality signal — gibberish /
    //     degenerate-repetition detector; count-identity form keeps the
    //     float math to ~1 ulp per distinct char, far under the micro
    //     rounding ---
    Gate("q_char_entropy", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        r6(TextFunctions.charEntropy(col("text")))
          .as("char_entropy_micro"))
    },
      // character entropy via the count identity H = ln n - sum(c ln c)/n
      s"""WITH cs AS (
         |  SELECT doc_id, unnest(string_split(text, '')) AS ch
         |  FROM documents),
         |cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM cs GROUP BY 1, 2),
         |h AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n,
         |    SUM(c * ln(c)) AS st
         |  FROM cnt GROUP BY 1)
         |SELECT doc_id, ${R6("ln(n) - st / n")} AS char_entropy_micro
         |FROM h""".stripMargin),

    // --- LLM ops: keyword-taxonomy routing — broadcast lexicon as
    //     array literals, row-local hit counts + deterministic argmax
    //     (ties to the smaller category name); zero shuffles ---
    Gate("q_taxonomy_tag", (s, dir) => {
      Taxonomy.tagCategories(Tables.documents(s, dir), "doc_id", "text",
        taxonomyLexicon)
    }, {
      // taxonomy routing: cnt columns AND the ties-to-smaller-name CASE
      // chain are GENERATED from the same taxonomyLexicon constant as the
      // Spark face, so adding/renaming/reordering a category cannot drift
      // the two sides. The chain encodes the argmax only under sorted
      // names, so that invariant is enforced here rather than assumed.
      val cats = taxonomyLexicon.map(_._1)
      require(cats == cats.sorted,
        s"taxonomyLexicon categories must be sorted (ties-to-smaller-" +
          s"name CASE chain depends on it): $cats")
      def kws(ks: Seq[String]): String =
        ks.map(k => "'" + k.replace("'", "''") + "'")
          .mkString("[", ", ", "]")
      val cntDefs = taxonomyLexicon.map { case (cat, ks) =>
        s"    COALESCE(len(list_filter(lt, x -> list_contains(${kws(ks)},\n" +
          s"      x))), 0) AS cnt_$cat"
      }.mkString(",\n")
      val allZero = cats.map(c => s"cnt_$c = 0").mkString(" AND ")
      // WHEN cnt_i >= every later cnt THEN cat_i — first hit wins, so
      // within ties the alphabetically smaller (earlier) name is chosen
      val chain = cats.init.zipWithIndex.map { case (c, i) =>
        val beats = cats.drop(i + 1).map(o => s"cnt_$c >= cnt_$o")
          .mkString(" AND ")
        s"    WHEN $beats THEN '$c'"
      }.mkString("\n")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS lt
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |$cntDefs
         |  FROM t)
         |SELECT doc_id, ${cats.map(c => s"cnt_$c").mkString(", ")},
         |  CASE
         |    WHEN $allZero THEN 'none'
         |$chain
         |    ELSE '${cats.last}' END AS top_category
         |FROM c""".stripMargin
    }),
  )
}
