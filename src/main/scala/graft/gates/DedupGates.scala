package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

import Fixtures._
import Shared._

/** Corpus deduplication gates: exact, Jaccard, MinHash and SimHash
  * near-dup pairs, duplicate clusters, segment dedup, incremental dedup
  * and decontamination. */
object DedupGates {

  /** DuckDB twin of [[graft.operators.Dedup.minHashSignature]]:
    * CTE chain ending in `sigs(doc_id, sig)` — distinct 3-word shingles,
    * base-31 string keys, per-slot mix31 draws, min per slot, the k
    * mins gathered slot-ordered into a list. Docs with an empty shingle
    * set get NO sigs row (the Spark side's all-null signature; callers
    * handle the sentinel). */
  private def MinhashSigCtes(k: Int): String =
    s"""mtoks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |""".stripMargin + MinhashSigCtesTok("mtoks", k)

  /** DuckDB twin of [[graft.operators.Dedup.simHash64]]: CTE
    * chain ending in `sfp(doc_id, fp)` — per-token mix31 draw pair
    * (hi << 31 | lo, 62 bits), per-bit votes over every token
    * OCCURRENCE, sign-of-vote fingerprint assembly. Docs with no
    * tokens get no sfp row (callers COALESCE to the kernel's 0). */
  private val SimhashFpCtes: String =
    s"""stoks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |skeys AS (
       |  SELECT doc_id, ${StringKey31Sql("token")} AS skey
       |  FROM (SELECT doc_id, unnest(t) AS token FROM stoks)),
       |sdraw AS (
       |  SELECT doc_id, ${Mix31Sql("skey", "0")} AS lo,
       |    ${Mix31Sql("skey", "500009")} AS hi
       |  FROM skeys),
       |svote AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN j < 31 THEN ((lo >> j) & 1) * 2 - 1
       |        ELSE ((hi >> (j - 31)) & 1) * 2 - 1 END) AS v
       |  FROM sdraw, (SELECT unnest(generate_series(0, 61)) AS j)
       |  GROUP BY 1, 2),
       |sfp AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END)
       |      AS BIGINT) AS fp
       |  FROM svote GROUP BY 1)""".stripMargin

  /** DuckDB twin of the q_seg_dedup_* gates: 3-token segmentation,
    * corpus-wide counts, drop-or-keep-first, ordered reassembly. */
  private def SegDedupSql(keepFirst: Boolean): String = {
    val keep = if (keepFirst) "cnt < 2 OR rk = 1" else "cnt < 2"
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |segs AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0,
       |      CAST(floor((len(toks) - 1) / 3.0) AS INT))) AS pos,
       |    unnest(list_transform(generate_series(0,
       |      CAST(floor((len(toks) - 1) / 3.0) AS INT)),
       |      i -> array_to_string(toks[i*3+1 : i*3+3], ' '))) AS seg
       |  FROM t WHERE len(toks) > 0),
       |rk AS (
       |  SELECT doc_id, pos, seg,
       |    COUNT(*) OVER (PARTITION BY seg) AS cnt,
       |    ROW_NUMBER() OVER (PARTITION BY seg
       |      ORDER BY doc_id, pos) AS rk
       |  FROM segs),
       |agg AS (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS cleaned,
       |    COUNT(*) AS n_kept
       |  FROM rk WHERE $keep GROUP BY doc_id)
       |SELECT t.doc_id, md5(COALESCE(a.cleaned, '')) AS cleaned_md5,
       |  CAST(CASE WHEN toks IS NULL THEN 0
       |    ELSE CAST(floor((len(toks) - 1) / 3.0) AS INT) + 1 END
       |    AS BIGINT) AS n_segments,
       |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
       |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** `toks(doc_id, [source,] t)`, each document's lower-cased
    * whitespace tokens, and `<sh>(doc_id, [source,] shset)`, its
    * distinct 3-word shingles: the shingle shape of
    * [[graft.operators.Dedup.jaccardPairs]] with n = 3. */
  private def ShingleCtes(bySource: Boolean, sh: String = "sh"): String = {
    val src = if (bySource) " source," else ""
    s"""toks AS (
       |  SELECT doc_id,$src
       |    string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |$sh AS (
       |  SELECT doc_id,$src
       |    list_distinct(list_transform(generate_series(1, len(t) - 2),
       |      i -> array_to_string(t[i:i+2], ' '))) AS shset
       |  FROM toks)""".stripMargin
  }

  /** Shared CTE chain for the 3-gram / threshold-0.5 / source-blocked
    * Jaccard duplicate pair set (the q_dedup_jaccard shape) ending in
    * `dup_pairs(id_a, id_b)`. Spliced into the cluster-family oracles. */
  private val JaccardDupCtes =
    s"""${ShingleCtes(bySource = true, "shs")},
       |sized AS (SELECT doc_id, source, shset, len(shset) AS sz FROM shs),
       |exsh AS (SELECT doc_id, source, sz, unnest(shset) AS shingle
       |         FROM sized),
       |jp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sz AS size_a, b.sz AS size_b, COUNT(*) AS inter
       |  FROM exsh a
       |  JOIN exsh b ON a.source = b.source AND a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
       |dup_pairs AS (
       |  SELECT id_a, id_b FROM jp
       |  WHERE inter::DOUBLE / (size_a + size_b - inter)::DOUBLE >= 0.5)""".stripMargin

  /** Oracle of q_decontam_tag, shared with its replay twins. */
  private[gates] val DecontamTagSql: String =
    s"""WITH ${ShingleCtes(bySource = false)},
       |bl AS (
       |  SELECT list(DISTINCT gram) AS bg FROM (
       |    SELECT unnest(shset) AS gram FROM sh WHERE doc_id % 53 = 0))
       |SELECT doc_id, len(list_intersect(shset, bg)) AS n_overlap
       |FROM sh, bl WHERE doc_id % 53 <> 0""".stripMargin

  val gates: Seq[Gate] = Seq(

    // --- LLM ops: exact dedup groups ---
    Gate("q_dedup_exact", (s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
    },
      s"""SELECT md5(text) AS text_md5, COUNT(*) AS n_copies,
         |  MIN(doc_id) AS keep_id
         |FROM documents GROUP BY 1""".stripMargin),

    // --- LLM ops: 3-gram Jaccard near-dup pairs (prefix-filtered exact
    //     set-similarity join, blocked by source) ---
    Gate("q_dedup_jaccard", (s, dir) => {
      // pair set shared across the duplicate-cluster family (r18)
      jaccardDupPairs(s, dir)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard_micro"))
    },
      s"""WITH ${ShingleCtes(bySource = true)},
         |sized AS (SELECT doc_id, source, shset, len(shset) AS sz FROM sh),
         |ex AS (SELECT doc_id, source, sz, unnest(shset) AS shingle FROM sized),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sz AS size_a, b.sz AS size_b, COUNT(*) AS inter
         |  FROM ex a JOIN ex b ON a.source = b.source AND a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b,
         |  ${R6("inter::DOUBLE / (size_a + size_b - inter)::DOUBLE")} AS jaccard_micro
         |FROM pairs
         |WHERE inter::DOUBLE / (size_a + size_b - inter)::DOUBLE >= 0.5""".stripMargin),

    // --- LLM ops: DIRECTED containment pairs (|A∩B|/|A| — doc-in-doc
    //     partial duplication symmetric Jaccard misses; contained-side
    //     prefix filter, container side indexed in full) ---
    Gate("q_containment", (s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.7, blockCols = Seq("source"))
        .select(col("id_a"), col("id_b"),
          r6(col("containment")).as("containment_micro"))
    },
      s"""WITH ${ShingleCtes(bySource = true)},
         |sized AS (SELECT doc_id, source, shset, len(shset) AS sz
         |          FROM sh WHERE len(shset) > 0),
         |ex AS (SELECT doc_id, source, sz, unnest(shset) AS shingle FROM sized),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sz AS size_a, COUNT(*) AS inter
         |  FROM ex a JOIN ex b ON a.source = b.source AND a.shingle = b.shingle
         |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2, 3)
         |SELECT id_a, id_b,
         |  ${R6("inter::DOUBLE / size_a::DOUBLE")} AS containment_micro
         |FROM pairs
         |WHERE inter::DOUBLE / size_a::DOUBLE >= 0.7""".stripMargin),

    // --- LLM ops: duplicate-cluster connected components over the exact
    //     Jaccard pair set (alternating large-star/small-star; labels =
    //     component-minimum doc_id; singletons labeled with their own id).
    //     DuckDB oracle: recursive-CTE transitive closure + MIN — fine at
    //     sf0.01 where clusters are small; the Spark side is the
    //     O(log^2 n)-round scale path ---
    Gate("q_dup_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val prs = jaccardDupPairs(s, dir) // shared pair fixture (r18)
      val labels = DupClusters.connectedComponents(prs, "id_a", "id_b")
      DupClusters.assignClusters(docs, "doc_id", labels)
        .select(col("doc_id"), col("cluster_id"))
    },
      // Transitive closure by recursive CTE + MIN label: O(cluster^2) rows
      // per component — an oracle-side-only cost; the Spark side is the
      // O(log^2 n)-round star contraction.
      s"""WITH RECURSIVE $JaccardDupCtes,
         |${ComponentLabelCtes("dup_pairs", "doc_id", "cluster_id")}
         |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN labels l USING (doc_id)""".stripMargin),

    // --- LLM ops: leakage-safe split — near-dup clusters resolved first,
    //     then train/test tagged by a hash of the CLUSTER id, so two
    //     near-identical docs can never straddle the split and turn the
    //     eval into a memorization test ---
    Gate("q_group_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val prs = jaccardDupPairs(s, dir) // shared pair fixture (r18)
      DupClusters.leakageSafeSplitTag(docs, "doc_id", prs, "id_a", "id_b",
          testFraction = 0.25, seed = 7L)
        .select(col("doc_id"), col("cluster_id"), col("is_test"))
    },
      s"""WITH RECURSIVE $JaccardDupCtes,
         |${ComponentLabelCtes("dup_pairs", "doc_id", "cluster_id")},
         |lab AS (
         |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  ${HashSql("cluster_id", 7L)} < ${Sampling.threshold(0.25)}
         |    AS is_test
         |FROM lab""".stripMargin),

    // --- LLM ops: cluster-aware dedup — one representative per duplicate
    //     component, chosen by quality score (ties -> smallest doc_id).
    //     The transitive-chain-safe drop step real pipelines run after
    //     LSH, not greedy pair deletion ---
    Gate("q_cluster_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val prs = jaccardDupPairs(s, dir) // shared pair fixture (r18)
      DupClusters.dedupByCluster(docs, "doc_id", prs, "id_a", "id_b",
          orderBy = Seq(r6(TextFunctions.qualityScore(col("text"))).desc))
        .select(col("doc_id"), col("source"))
    },
      s"""WITH RECURSIVE $JaccardDupCtes,
         |${ComponentLabelCtes("dup_pairs", "doc_id", "cluster_id")},
         |qt_m AS (
         |  SELECT doc_id, ${QualityFeatureCols("text",
           "string_split_regex(trim(text), '\\s+')",
           "string_split_regex(trim(lower(text)), '\\s+')")}
         |  FROM documents),
         |qt AS (
         |  SELECT doc_id, ${R6(QualityScoreExpr)} AS quality_micro
         |  FROM qt_m),
         |lab AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(l.cluster_id, d.doc_id) AS cid, qt.quality_micro
         |  FROM documents d LEFT JOIN labels l USING (doc_id)
         |  JOIN qt USING (doc_id)),
         |rn AS (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY cid ORDER BY quality_micro DESC, doc_id) AS rk
         |  FROM lab)
         |SELECT doc_id, source FROM rn WHERE rk = 1""".stripMargin),

    // --- LLM ops: corpus-level repeated-segment removal (the C4
    //     "discard repeated lines" rule on 3-token segments — this corpus
    //     has no line structure). Cleaned text pinned via md5 ---
    Gate("q_seg_dedup_drop", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropRepeatedSegments(docs, "doc_id",
          Dedup.tokenSegments(col("text"), 3))
        .select(col("doc_id"), md5(col("cleaned")).as("cleaned_md5"),
          col("n_segments"), col("n_kept"))
    },
      SegDedupSql(keepFirst = false)),

    // --- LLM ops: repeated-SUBSTRING removal on sliding 8-token windows
    //     (the ExactSubstr rule of Lee et al. 2022 at window resolution)
    //     — unlike the fixed segment grid above, a repeated passage is
    //     caught at ANY token offset; marked spans union row-locally ---
    Gate("q_substr_dedup", (s, dir) => {
      Dedup.dropRepeatedWindows(Tables.documents(s, dir), "doc_id",
          "text", windowTokens = 8, minCopies = 2)
        .select(col("doc_id"), md5(col("cleaned")).as("cleaned_md5"),
          col("n_tokens"), col("n_kept"))
    },
      // sliding-window substring dedup: window strings at every offset,
      // corpus counts, per-doc marked starts, row-local span-union cut
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, unnest(generate_series(1, len(t) - 7)) AS i, t
         |  FROM d WHERE len(t) >= 8),
         |w2 AS (
         |  SELECT doc_id, i - 1 AS start,
         |    array_to_string(t[i:i+7], ' ') AS win
         |  FROM w),
         |rep AS (SELECT win FROM w2 GROUP BY win HAVING COUNT(*) >= 2),
         |mk AS (
         |  SELECT doc_id, list(start ORDER BY start) AS starts
         |  FROM w2 WHERE win IN (SELECT win FROM rep) GROUP BY doc_id),
         |j AS (
         |  SELECT d.doc_id, d.t,
         |    COALESCE(mk.starts, CAST([] AS BIGINT[])) AS starts
         |  FROM d LEFT JOIN mk USING (doc_id)),
         |cut AS (
         |  SELECT doc_id, t,
         |    list_filter(generate_series(0, len(t) - 1), pp ->
         |      len(list_filter(starts,
         |        s -> s <= pp AND pp < s + 8)) = 0) AS pos
         |  FROM j)
         |SELECT doc_id,
         |  md5(COALESCE(array_to_string(
         |    list_transform(pos, pp -> t[pp + 1]), ' '), ''))
         |    AS cleaned_md5,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(pos) AS BIGINT) AS n_kept
         |FROM cut""".stripMargin),

    // --- LLM ops: same, keep-first variant (smallest (doc_id, pos)
    //     occurrence survives — the dedup that preserves one copy of
    //     boilerplate instead of erasing it corpus-wide) ---
    Gate("q_seg_dedup_first", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropRepeatedSegments(docs, "doc_id",
          Dedup.tokenSegments(col("text"), 3), keepFirst = true)
        .select(col("doc_id"), md5(col("cleaned")).as("cleaned_md5"),
          col("n_segments"), col("n_kept"))
    },
      SegDedupSql(keepFirst = true)),

    // --- LLM ops: Gopher repetition filters (Rae et al. 2021 Table A1,
    //     word-soup analogs): duplicate-token fraction, top-2-gram char
    //     coverage, duplicated-3-gram char coverage ---
    Gate("q_repetition", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        r6(TextFunctions.dupTokenFrac(col("text"))).as("dup_token_micro"),
        r6(TextFunctions.topNgramCharFrac(col("text"), 2))
          .as("top_2gram_micro"),
        r6(TextFunctions.dupNgramCharFrac(col("text"), 3))
          .as("dup_3gram_micro"))
    },
      // generate_series(1, 0) is empty in DuckDB, so short docs fall out of
      // the gram lists without CASE guards, mirroring Spark's when() guard
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, text, toks,
         |    list_transform(generate_series(1, len(toks) - 1),
         |      i -> array_to_string(toks[i:i+1], ' ')) AS g2,
         |    list_transform(generate_series(1, len(toks) - 2),
         |      i -> array_to_string(toks[i:i+2], ' ')) AS g3
         |  FROM t)
         |SELECT doc_id,
         |  ${R6("CASE WHEN len(toks) > 0 THEN " +
            "1.0 - len(list_distinct(toks))::DOUBLE / len(toks) " +
            "ELSE 0.0 END")} AS dup_token_micro,
         |  ${R6("CASE WHEN len(g2) > 0 THEN " +
            "list_max(list_transform(list_distinct(g2), gr -> " +
            "len(list_filter(g2, x -> x = gr)) * length(gr)))::DOUBLE " +
            "/ length(text) ELSE 0.0 END")} AS top_2gram_micro,
         |  ${R6("CASE WHEN len(g3) > 0 THEN " +
            "list_sum(list_transform(list_distinct(g3), gr -> " +
            "CASE WHEN len(list_filter(g3, x -> x = gr)) >= 2 THEN " +
            "len(list_filter(g3, x -> x = gr)) * length(gr) " +
            "ELSE 0 END))::DOUBLE / length(text) ELSE 0.0 END")}
         |    AS dup_3gram_micro
         |FROM g""".stripMargin),

    // --- LLM ops: incremental exact dedup — a new ingest batch
    //     (source != src0) deduped against the existing corpus snapshot
    //     (source = src0) via its hash index, then within-batch ---
    Gate("q_incr_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = IncrementalDedup.exactIndex(
        docs.filter(col("source") === "src0"), "text")
      IncrementalDedup.dedupAgainst(
          docs.filter(col("source") =!= "src0"), idx, "text", "doc_id")
        .select(col("doc_id"), col("source"))
    },
      s"""WITH idx AS (
         |  SELECT DISTINCT md5(text) AS text_md5 FROM documents
         |  WHERE source = 'src0'),
         |batch AS (
         |  SELECT doc_id, source, md5(text) AS h FROM documents
         |  WHERE source <> 'src0'),
         |unseen AS (
         |  SELECT b.* FROM batch b
         |  WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_md5 = b.h)),
         |rk AS (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY h ORDER BY doc_id) AS rk
         |  FROM unseen)
         |SELECT doc_id, source FROM rk WHERE rk = 1""".stripMargin),

    // --- LLM ops: the same incremental dedup through the Bloom
    //     prefilter path — "definitely new" rows skip the anti-join as a
    //     row-local filter, bloom-positives get exact verification. The
    //     answer is bit-identical to q_incr_dedup by construction, so the
    //     oracle is the plain anti-join SQL: a hash-match here proves the
    //     no-false-negative routing end-to-end ---
    Gate("q_bloom_incr_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = IncrementalDedup.exactIndex(
        docs.filter(col("source") === "src0"), "text")
      IncrementalDedup.dedupAgainstBloom(
          docs.filter(col("source") =!= "src0"), idx, "text", "doc_id",
          numBits = 1 << 13)
        .select(col("doc_id"), col("source"))
    },
      // Same oracle as q_incr_dedup: the Bloom path must give the exact
      // anti-join answer — the filter routes rows, never decides them.
      s"""WITH idx AS (
         |  SELECT DISTINCT md5(text) AS text_md5 FROM documents
         |  WHERE source = 'src0'),
         |batch AS (
         |  SELECT doc_id, source, md5(text) AS h FROM documents
         |  WHERE source <> 'src0'),
         |unseen AS (
         |  SELECT b.* FROM batch b
         |  WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_md5 = b.h)),
         |rk AS (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY h ORDER BY doc_id) AS rk
         |  FROM unseen)
         |SELECT doc_id, source FROM rk WHERE rk = 1""".stripMargin),

    // --- LLM ops: incremental near-dup — batch MinHash sigs probed
    //     against the corpus signature index via cross-frame LSH bands;
    //     DuckDB-oracled end to end (signatures, shared slot-keyed band
    //     buckets, agreement threshold) ---
    Gate("q_incr_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def sigs(d: DataFrame) = d.select(col("doc_id").as("id"),
        Dedup.minHashSignature(col("text"), n = 3, k = 32).as("sig"))
      IncrementalDedup.nearDupAgainst(
          sigs(docs.filter(col("source") =!= "src0")),
          sigs(docs.filter(col("source") === "src0")),
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.5)
        .select(col("new_id"), col("corpus_id"),
          r6(col("est_jaccard")).as("est_jaccard_micro"))
    },
      // one signature pass over ALL documents, then the new-batch side
      // (source <> src0) probes the corpus side (src0) on the shared
      // slot-keyed band buckets; est >= 0.5 is cnt >= 16 of 32 slots
      // exactly
      s"""WITH ${MinhashSigCtes(32)},
         |sg AS (
         |  SELECT s.doc_id, d.source, s.sig
         |  FROM sigs s JOIN documents d USING (doc_id)),
         |bk AS (
         |  SELECT doc_id, source, sig, band,
         |    sig[band * 4 + 1 : band * 4 + 4] AS bucket
         |  FROM (SELECT doc_id, source, sig,
         |          unnest(generate_series(0, 7)) AS band
         |        FROM sg)),
         |iprs AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.source <> 'src0' AND b.source = 'src0')
         |SELECT new_id, corpus_id,
         |  ${R6("len(list_filter(generate_series(1, 32), " +
            "i -> sig_a[i] = sig_b[i]))::DOUBLE / 32.0e0")}
         |    AS est_jaccard_micro
         |FROM iprs
         |WHERE len(list_filter(generate_series(1, 32),
         |  i -> sig_a[i] = sig_b[i])) >= 16""".stripMargin),

    // --- LLM ops: corpus snapshot diff + per-source churn (derived
    //     old/new releases: old drops id%7==0, new drops id%5==0 and
    //     edits id%3==0) ---
    Gate("q_corpus_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusDiff.diff(old, neu, "doc_id", "text")
    },
      s"""WITH old AS (
         |  SELECT doc_id, md5(text) AS old_md5 FROM documents
         |  WHERE doc_id % 7 <> 0),
         |neu AS (
         |  SELECT doc_id,
         |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
         |      ELSE text END) AS new_md5
         |  FROM documents WHERE doc_id % 5 <> 0)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |    WHEN n.doc_id IS NULL THEN 'removed'
         |    WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
         |    ELSE 'changed' END AS status,
         |  o.old_md5, n.new_md5
         |FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id""".stripMargin),

    // --- LLM ops: bag-of-words document fingerprint ---
    Gate("q_text_fingerprint", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.bowFingerprint(col("text")).as("bow_fingerprint"))
    },
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(
         |    string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS bow_fingerprint
         |FROM documents""".stripMargin),

    // --- LLM ops: MinHash signatures. The raw array<bigint> is folded
    //     to ONE scalar per row: array columns are unsortable by the
    //     driver's pandas row comparator (round-1 crash), and the md5 of
    //     the joined signature pins every element anyway. Null slots
    //     (empty shingle set) map to an explicit sentinel before the
    //     join — concat_ws silently DROPS nulls, which would make
    //     signatures differing only in null positions collide. Every
    //     draw is mix31 over stringKey31 shingle keys, so the full
    //     signature is DuckDB-oracled ---
    Gate("q_minhash_sig", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        md5(concat_ws(",",
          transform(
            Dedup.minHashSignature(col("text"), n = 3, k = 16),
            e => coalesce(e.cast("string"), lit("null"))))).as("sig_md5"))
    },
      s"""WITH ${MinhashSigCtes(16)}
         |SELECT d.doc_id,
         |  md5(CASE WHEN s.sig IS NULL
         |    THEN '${Seq.fill(16)("null").mkString(",")}'
         |    ELSE array_to_string(s.sig, ',') END) AS sig_md5
         |FROM documents d LEFT JOIN sigs s USING (doc_id)""".stripMargin),

    // --- LLM ops: MinHash+LSH banded candidate pairs — the ENTIRE
    //     pipeline (signatures, slot-keyed band buckets, bucket cap, pair
    //     agreement rates) is oracle-checked ---
    Gate("q_minhash_lsh_pairs", (s, dir) => {
      Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id_a"), col("id_b"), r6(col("est_jaccard"))
          .as("est_jaccard_micro"))
    },
      // full LSH pipeline: slot-keyed bands, viral-bucket cap,
      // within-bucket pairs, signature agreement rate
      s"""WITH ${MinhashSigCtes(32)},
         |$MinhashBandCtes,
         |mpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  $MinhashBandPairsFrom)
         |SELECT id_a, id_b,
         |  ${R6("len(list_filter(generate_series(1, 32), " +
            "i -> sig_a[i] = sig_b[i]))::DOUBLE / 32.0e0")}
         |    AS est_jaccard_micro
         |FROM mpairs""".stripMargin),

    // --- Governance: measured LSH (b, r) operating point — banded
    //     candidates vs exact PPJoin-verified Jaccard ground truth,
    //     confusion counts + precision/recall + the theoretical S-curve
    //     capture at the threshold. The gate demonstrates the operator's
    //     own scale contract (Dedup.scala: "runs on a SAMPLE at corpus
    //     scale — the exact side is worst-case quadratic"): a
    //     deterministic bernoulliSample feeds the probe, the oracle
    //     samples with the identical mix31 hash ---
    Gate("q_lsh_tuning", (s, dir) => {
      Dedup.lshOperatingPoint(
        Sampling.bernoulliSample(Tables.documents(s, dir), "doc_id", 0.5,
          seed = 11L),
        "doc_id", "text", n = 3, threshold = 0.5, bands = 8,
        rowsPerBand = 4)
    },
      // q_lsh_tuning twin: the q_minhash_lsh_pairs candidate CTEs + an
      // exact all-pairs Jaccard ground truth off the SAME msh shingle
      // sets, full-outer confusion counts; the S-curve constant is the
      // identical driver-computed literal both engines interpolate
      s"""WITH mtoks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents
         |  WHERE ${HashSql("doc_id", 11L)} < ${Sampling.threshold(0.5)}),
         |${MinhashSigCtesTok("mtoks", 32)},
         |$MinhashBandCtes,
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  $MinhashBandPairsFrom),
         |jex AS (
         |  SELECT doc_id, len(shset) AS sz, unnest(shset) AS shingle
         |  FROM msh WHERE len(shset) > 0),
         |jp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM jex a JOIN jex b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2, a.sz, b.sz
         |  HAVING COUNT(*)::DOUBLE
         |    / (a.sz + b.sz - COUNT(*))::DOUBLE >= 0.5),
         |fo AS (
         |  SELECT CASE WHEN j.id_a IS NOT NULL THEN 1 ELSE 0 END AS t,
         |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS c
         |  FROM jp j FULL OUTER JOIN cp c
         |    ON j.id_a = c.id_a AND j.id_b = c.id_b)
         |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS candidate_pairs,
         |  CAST(COALESCE(SUM(t), 0) AS BIGINT) AS true_pairs,
         |  CAST(COALESCE(SUM(t * c), 0) AS BIGINT) AS tp,
         |  CAST(COALESCE(SUM((1 - t) * c), 0) AS BIGINT) AS fp,
         |  CAST(COALESCE(SUM(t * (1 - c)), 0) AS BIGINT) AS fn,
         |  CASE WHEN COALESCE(SUM(c), 0) > 0 THEN
         |    CAST(floor(SUM(t * c)::DOUBLE / SUM(c) * 1e6 + 0.5)
         |      AS BIGINT) END AS precision_micro,
         |  CASE WHEN COALESCE(SUM(t), 0) > 0 THEN
         |    CAST(floor(SUM(t * c)::DOUBLE / SUM(t) * 1e6 + 0.5)
         |      AS BIGINT) END AS recall_micro,
         |  ${Dedup.theoryCaptureMicro(0.5, 8, 4)} AS theory_capture_micro
         |FROM fo""".stripMargin),

    // --- LLM ops: SimHash near-dup pairs via chunk blocking.
    //     maxDist=3 -> classic 4x16-bit pigeonhole: recall 1.0 by
    //     construction AND 16-bit bucket keys keep candidate volume
    //     ~n^2/65536 per chunk. Larger d is supported by the operator
    //     ((d+1)-chunk blocking) but narrows keys to 64/(d+1) bits and
    //     degrades toward O(n^2/2^width) candidates. NOTE: the gate ran
    //     d=10 through round 2 (r1 2.98s / r2 ~3s at sf0.1 — the r2 71s
    //     entry was q_dedup_jaccard's cache pollution, not simhash);
    //     d=3 since round 3 is a WORKLOAD change (pairs at hamming 4..10
    //     no longer emitted), so r3+ bench times for this query are not
    //     comparable to r1/r2. The whole pipeline (62-bit fingerprints,
    //     chunk keys, bucket cap, Hamming filter) is DuckDB-oracled ---
    Gate("q_simhash_pairs", (s, dir) => {
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long")
          .as("hamming"))
    },
      // simhash pairs: 4 x 16-bit chunk blocking (pigeonhole for
      // maxDist 3), left-side bucket cap, Hamming via bit_count(xor)
      s"""WITH $SimhashFpCtes,
         |sall AS (
         |  SELECT d.doc_id, COALESCE(f.fp, 0) AS fp
         |  FROM documents d LEFT JOIN sfp f USING (doc_id)),
         |schk AS (
         |  SELECT doc_id, fp, chunk,
         |    (fp >> (chunk * 16)) & 65535 AS key
         |  FROM (SELECT doc_id, fp,
         |          unnest(generate_series(0, 3)) AS chunk
         |        FROM sall)),
         |sbsz AS (
         |  SELECT chunk, key, COUNT(*) AS bn FROM schk GROUP BY 1, 2),
         |sprs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.fp AS fa, b.fp AS fb
         |  FROM schk a
         |  JOIN sbsz c ON a.chunk = c.chunk AND a.key = c.key
         |    AND c.bn <= 4096
         |  JOIN schk b ON a.chunk = b.chunk AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM sprs WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin),

    // --- LLM ops: SimHash fingerprints — the per-token mix31 draws
    //     are recomputed by the DuckDB oracle bit-for-bit ---
    Gate("q_simhash", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        Dedup.simHash64(col("text")).as("simhash62"))
    },
      s"""WITH $SimhashFpCtes
         |SELECT d.doc_id, COALESCE(f.fp, 0) AS simhash62
         |FROM documents d LEFT JOIN sfp f USING (doc_id)""".stripMargin),

    // --- LLM ops: benchmark decontamination — distinct shared 3-grams
    //     between each corpus doc and a held-out eval slice (every 53rd
    //     doc id plays the "benchmark" with its own text-column name).
    //     One broadcast semi-join over exploded corpus n-grams; fully
    //     SQL-expressible, so this is a real hash-match gate ---
    Gate("q_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(53L)) === 0)
        .select(col("text").as("q"))
      Decontam.contaminationScores(
          docs.filter(pmod(col("doc_id"), lit(53L)) =!= 0), bench,
          "doc_id", "text", benchTextCol = "q", n = 3)
        .select(col("doc_id"), col("n_overlap"),
          r6(col("overlap_frac")).as("overlap_frac_micro"))
    },
      // benchmark decontamination: same 3-gram definition as
      // q_dedup_jaccard's shingle CTEs; bench grams are DISTINCT and each
      // doc's shingle set is a set, so the inner join's per-doc hit count
      // IS the distinct-overlap count
      s"""WITH ${ShingleCtes(bySource = false)},
         |bench AS (
         |  SELECT DISTINCT unnest(shset) AS gram FROM sh
         |  WHERE doc_id % 53 = 0),
         |corpus AS (
         |  SELECT doc_id, len(shset) AS n_grams, unnest(shset) AS gram
         |  FROM sh WHERE doc_id % 53 <> 0),
         |ov AS (
         |  SELECT c.doc_id, c.n_grams, COUNT(*) AS n_overlap
         |  FROM corpus c JOIN bench b ON c.gram = b.gram
         |  GROUP BY 1, 2)
         |SELECT doc_id, n_overlap,
         |  ${R6("n_overlap::DOUBLE / n_grams")} AS overlap_frac_micro
         |FROM ov""".stripMargin),

    // --- LLM ops: decontamination DROP face — the corpus that survives
    //     removing docs sharing >= 2 distinct 3-grams with the eval set;
    //     count + id checksum, fully SQL-expressible ---
    Gate("q_decontam_drop", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(53L)) === 0)
        .select(col("text").as("q"))
      Decontam.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(53L)) =!= 0), bench,
          "doc_id", "text", benchTextCol = "q", n = 3, minOverlap = 2L)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    },
      // decontamination drop face: survivors after removing docs sharing
      // >= 2 distinct 3-grams with the eval slice
      s"""WITH ${ShingleCtes(bySource = false)},
         |bench AS (
         |  SELECT DISTINCT unnest(shset) AS gram FROM sh
         |  WHERE doc_id % 53 = 0),
         |corpus AS (
         |  SELECT doc_id, unnest(shset) AS gram
         |  FROM sh WHERE doc_id % 53 <> 0),
         |flagged AS (
         |  SELECT c.doc_id FROM corpus c JOIN bench b ON c.gram = b.gram
         |  GROUP BY 1 HAVING COUNT(*) >= 2)
         |SELECT COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM documents
         |WHERE doc_id % 53 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin),

    // --- LLM ops: row-local decontamination tag (the zero-shuffle /
    //     streaming-safe face of q_decontam; zero-overlap docs kept) ---
    Gate("q_decontam_tag", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(pmod(col("doc_id"), lit(53L)) === 0)
        .select(col("text").as("q"))
      val grams = Decontam.benchGramSet(bench, "q")
      Decontam.tagContamination(
          docs.filter(pmod(col("doc_id"), lit(53L)) =!= 0), grams, "text")
        .select(col("doc_id"), col("n_overlap"))
    },
      // row-local tag face: per-doc |shingles ∩ bench shingles|, zero-
      // overlap docs included
      DecontamTagSql),
  )
}
