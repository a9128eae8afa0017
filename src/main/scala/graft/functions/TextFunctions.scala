package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, token counting, document fingerprinting,
  * and a character-n-gram language-ID heuristic. All are pure Column
  * expressions (codegen'd, no UDFs) so they survive a 100 TB scan.
  */
object TextFunctions {

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) via the native
    * [[graft.plans.UnicodeNormalizeExpr]] — one static codegen'd call
    * per row with no-alloc fast paths for ASCII and already-normalized
    * text. Normalize BEFORE shingling/hashing: composed vs decomposed
    * accents are different byte strings to MinHash/SimHash. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.UnicodeNormalizeExpr(
      GraftColumnBridge.expression(text), form))
  }

  /** The dedup-prep canonical form: NFC, NBSP-family folded into the
    * whitespace collapse, remaining control (Cc) and format (Cf —
    * zero-widths, BiDi marks) characters stripped, lowercased,
    * trimmed. Whitespace collapses BEFORE the Cc strip so newlines and
    * tabs become separators instead of vanishing and joining words.
    * Every step is a codegen'd built-in or the native normalizer, and
    * every step is replayable in an RE2-regex SQL engine (the
    * q_text_normalize oracle contract). The whitespace class is spelled
    * EXPLICITLY rather than `\s`: Java's `\s` includes U+000B (vertical
    * tab) while RE2's does not, so `\s` would silently turn VT into a
    * space here but strip it as Cc in an RE2 twin — joining words on
    * one engine only. The explicit list pins Java-`\s` semantics
    * (VT is a separator) on both. */
  def canonicalizeForDedup(text: Column): Column = {
    val nfc = normalizeUnicode(text, "NFC")
    val ws = regexp_replace(nfc,
      "[ \\t\\n\\u000B\\f\\r\\u00A0\\u2007\\u202F]+", " ")
    val ctl = regexp_replace(ws, "[\\p{Cc}\\p{Cf}]", "")
    trim(lower(ctl))
  }

  /** Whitespace tokenization (the baseline token counter). */
  def tokens(text: Column): Column = split(trim(text), "\\s+").as("tokens")

  def nTokens(text: Column): Column = size(tokens(text)).as("n_tokens")

  private val BpeWs = " \t\n\u000B\f\r" // Java's \s, spelled out

  /** BPE-ish subword-count proxy: word-boundary pieces + digit runs +
    * punctuation marks each count as one token — a regex approximation
    * of a byte-pair tokenizer's piece count, cheap enough for a 100 TB
    * scan. Closed form: every non-alphanumeric non-whitespace CODE
    * POINT opens a piece, plus every alphanumeric run at string start
    * or after whitespace. On BMP text this equals the historical
    * lookahead-split formulation bit-for-bit (TextFunctionsSpec
    * differential); on non-BMP text the closed form counts each code
    * point once where the lookahead split counted both UTF-16
    * surrogate halves — the closed form is the intended semantics, and
    * being lookahead-free it is RE2/DuckDB-expressible, which is what
    * puts q_text_quality under the SQL oracle. */
  def nTokensBpeIsh(text: Column): Column =
    (length(regexp_replace(text, s"[A-Za-z0-9$BpeWs]", "")) +
      regexp_count(text, lit(s"(^|[$BpeWs])[A-Za-z0-9]")))
      .cast("int").as("n_tokens_bpeish")

  /** Historical lookahead-split face of [[nTokensBpeIsh]] — Java-regex
    * only (RE2 has no lookahead); kept as the differential reference. */
  private[graft] def nTokensBpeIshLookahead(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|\\s+"),
      t => length(trim(t)) > 0)).as("n_tokens_bpeish")

  def avgTokenLen(text: Column): Column =
    (length(regexp_replace(text, "\\s+", "")).cast("double") /
      nTokens(text)).as("avg_token_len")

  /** Punctuation density: punctuation chars / total chars. */
  def punctRatio(text: Column): Column =
    (length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", ""))
      .cast("double") / length(text)).as("punct_ratio")

  /** Uppercase density (shouting / OCR-garbage signal). */
  def upperRatio(text: Column): Column =
    (length(regexp_replace(text, "[^A-Z]", "")).cast("double") /
      length(text)).as("upper_ratio")

  private val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Stopword occurrence ratio (quality heuristic: natural prose has ~0.4,
    * keyword spam ~0). Counted over occurrences, not distinct words. */
  def stopwordRatio(text: Column,
                    stops: Seq[String] = englishStopwords): Column = {
    val stopArr = array(stops.map(lit): _*)
    val toks = tokens(lower(text))
    (size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
      size(toks)).as("stopword_ratio")
  }

  /** Composite quality score in [0,1]: length band + stopword presence -
    * punctuation/uppercase excess. A simple, monotone, explainable scorer
    * in the Gopher/C4-rule style. */
  def qualityScore(text: Column): Column = {
    val nt = nTokens(text).cast("double")
    val lenScore = least(nt / lit(50.0), lit(1.0)) *
      when(nt > 10000, 0.5).otherwise(1.0)
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(2.0), lit(0.5))
    val upperPenalty = least(upperRatio(text) * lit(2.0), lit(0.5))
    greatest(lit(0.0), least(lit(1.0),
      lit(0.5) * lenScore + lit(0.5) * stopScore
        - punctPenalty - upperPenalty)).as("quality_score")
  }

  /** ALL token n-grams of a document, duplicates preserved, in order —
    * the unit for the Gopher repetition filters (vs [[graft.operators
    * .Dedup.shingles]], which is the DISTINCT set for Jaccard/MinHash).
    * Shorter-than-n docs yield an empty array. The token array is bound
    * once via a 1-element transform so the tokenizing regex runs once
    * per row, not once per gram. */
  def ngramsAll(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val perDoc = transform(array(tokens(text)), t =>
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>")))
    element_at(perDoc, 1)
  }

  /** Duplicate-token fraction: 1 - distinct/total tokens. The word-soup
    * analog of Gopher's duplicate-line fraction (Rae et al. 2021,
    * Table A1) — high values mean keyword stuffing / degenerate
    * repetition. 0.0 for empty docs. */
  def dupTokenFrac(text: Column): Column = {
    val perDoc = transform(array(tokens(text)), t =>
      when(size(t) > 0, lit(1.0) -
        size(array_distinct(t)).cast("double") / size(t))
        .otherwise(lit(0.0)))
    element_at(perDoc, 1).as("dup_token_frac")
  }

  /** Fraction of characters covered by the MOST frequent token n-gram
    * (counted with overlaps): max over grams of occurrences x gram
    * chars, over doc chars (Gopher's top-n-gram filter, n=2..4). Taking
    * the max of the per-gram product needs no tie-break rule — ties
    * have equal products. Per-row cost is O(grams x distinct grams),
    * bounded by the max document length, never by corpus size. */
  def topNgramCharFrac(text: Column, n: Int): Column = {
    val perDoc = transform(array(ngramsAll(text, n)), gs =>
      when(size(gs) > 0,
        array_max(transform(array_distinct(gs), g =>
          size(filter(gs, x => x === g)) * length(g))).cast("double") /
          length(text))
        .otherwise(lit(0.0)))
    element_at(perDoc, 1).as(s"top_${n}gram_char_frac")
  }

  /** Fraction of characters inside REPEATED token n-grams: sum over
    * distinct grams occurring >= 2 times of occurrences x gram chars,
    * over doc chars (Gopher's duplicate-n-gram family, n=5..10).
    * Overlapping occurrences are each counted — the cheap streaming
    * upper bound (can exceed 1), same convention both engine sides. */
  def dupNgramCharFrac(text: Column, n: Int): Column = {
    val perDoc = transform(array(ngramsAll(text, n)), gs =>
      when(size(gs) > 0,
        aggregate(array_distinct(gs), lit(0L), (acc, g) => {
          val cnt = size(filter(gs, x => x === g))
          acc + when(cnt >= 2,
            (cnt * length(g)).cast("long")).otherwise(lit(0L))
        }).cast("double") / length(text))
        .otherwise(lit(0.0)))
    element_at(perDoc, 1).as(s"dup_${n}gram_char_frac")
  }

  /** Shannon entropy (nats) of the character distribution — the classic
    * gibberish / degenerate-text detector (binary blobs and key-mash
    * score high; single-char repetition scores ~0; natural language
    * sits in a narrow band, so both tails are filter targets). Uses the
    * count identity `H = ln n - (sum_c n_c ln n_c) / n` so only per-char
    * COUNTS enter the float math — counts are integers, identical in
    * any engine, and the residual ln/ordering noise is ~1 ulp per term,
    * far below the micro-rounding the gate applies. Empty docs -> 0.
    * Per-row cost O(distinct chars x doc length), bounded by doc
    * length × log(doc length) (one in-row sort) plus one linear
    * run-length fold — NOT O(distinct chars × doc length); row-local,
    * zero shuffles. */
  def charEntropy(text: Column): Column = {
    // sort once, then a single aggregate pass accumulates run lengths:
    // state = (prev char, current run, Σ run·ln(run) so far); the finish
    // lambda flushes the last run. The transform(array(..)) wrapper binds
    // the sorted array to ONE evaluation (HOF lambdas re-evaluate
    // referenced expressions otherwise).
    val chars = array_sort(filter(split(text, ""), c => length(c) > 0))
    def runTerm(r: Column): Column =
      when(r > 0, r.cast("double") * log(r.cast("double")))
        .otherwise(lit(0.0))
    val perDoc = transform(array(chars), cs =>
      when(size(cs) > 0, {
        val n = size(cs).cast("double")
        val st0 = struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0.0).as("acc"))
        val sumTerm = aggregate(cs, st0,
          (st, c) => when(c === st.getField("prev"),
              struct(c.as("prev"),
                (st.getField("run") + 1L).as("run"),
                st.getField("acc").as("acc")))
            .otherwise(
              struct(c.as("prev"), lit(1L).as("run"),
                (st.getField("acc") + runTerm(st.getField("run")))
                  .as("acc"))),
          st => st.getField("acc") + runTerm(st.getField("run")))
        log(n) - sumTerm / n
      }).otherwise(lit(0.0)))
    element_at(perDoc, 1).as("char_entropy")
  }

  /** Training-corpus scrubbing: replace every match of `pattern` with a
    * tag (PII/boilerplate redaction — emails, URLs, IDs). Global replace,
    * codegen'd `regexp_replace`; patterns should stay within the
    * RE2-compatible subset (no backreferences/lookaround) so the same
    * pattern runs on any SQL engine — the q_text_redact gate proves the
    * dialect-parity on DuckDB. */
  def redact(text: Column, pattern: String, replacement: String): Column =
    regexp_replace(text, pattern, replacement).as("redacted")

  /** Match count for a redaction pattern (audit column: how much was
    * scrubbed per doc). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).as("n_matches")

  /** Bag-of-words fingerprint: md5 of the sorted distinct token set.
    * Canonical (order/whitespace-insensitive) near-exact-dup key; two docs
    * that permute the same words collide. */
  def bowFingerprint(text: Column): Column =
    md5(concat_ws(" ",
      array_sort(array_distinct(tokens(lower(text)))))).as("bow_fingerprint")

  /** Content-defined rolling-hash fingerprint of the token STREAM
    * (order-sensitive; distinct from [[bowFingerprint]]'s bag semantics):
    * left-fold of `mix31(acc XOR stringKey31(token), 11)` over the
    * lowercased token stream. Both operands stay below 2^31 (mix31's
    * range and the base-31 string key's), so every step is exact BIGINT
    * arithmetic in any SQL engine — the q_text_quality oracle replays
    * the chain in DuckDB via list_reduce — and the fold stays inside
    * codegen via the higher-order `aggregate`. 31 bits of fingerprint. */
  def seqFingerprint(text: Column): Column =
    aggregate(tokens(lower(text)), lit(0L),
      (acc, t) => graft.operators.Sampling.mix31(
        acc.bitwiseXOR(graft.operators.Sampling.stringKey31(t)),
        lit(11L))).as("seq_fingerprint")

  // --- language ID (character n-gram heuristic) ---
  // Marker character patterns + very-high-frequency function words per
  // language; scores are counts of marker hits per language, argmax wins.
  // Works on real text; on marker-free text falls back to "en".
  // private[graft]: SparkEntry builds q_lang_id's DuckDB oracle from the
  // SAME marker list, so the two can never drift apart
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " die ", " das ", " und ", " ist ", " nicht ",
      "sch", "ß", "ä", "ö", "ü"),
    "fr" -> Seq(" le ", " la ", " les ", " des ", " est ", " une ", " et ",
      "é", "è", "ê", "ç", " qu"),
    "es" -> Seq(" el ", " los ", " las ", " es ", " una ", " que ", " y ",
      "ñ", "ó", "í", "¿", "¡"),
    "it" -> Seq(" il ", " di ", " che ", " per ", " con ", " della ",
      " è ", " una ", " gli ", " nel "),
    "pt" -> Seq(" o ", " os ", " de ", " que ", " não ", " uma ", " em ",
      " para ", "ção", "ã", "õ"),
    "en" -> Seq(" the ", " and ", " is ", " of ", " to ", " that ",
      " with ", " for "))

  /** Shared argmax-over-language-scores tail of the langId variants.
    * The share denominator is clamped to 1 so empty text yields zero
    * scores and the "en" fallback instead of an ANSI divide-by-zero.
    *
    * The argmax is array_max over (score, -index) structs — NOT a
    * when/otherwise fold: a fold embeds its accumulator twice per level
    * (condition + otherwise), so six languages inline 2^6 copies of the
    * regex scores into the generated unit, which blew the Janino budget
    * and silently dropped the whole projection — including the
    * PRODUCTION q_lang_id scan — to interpreted execution. Each score
    * appears exactly once in the array; lexicographic struct max keeps
    * the earlier-listed language on score ties via the negated index
    * (the Clustering.assign discipline). */
  private def langIdFromScores(text: Column,
                               score: Seq[String] => Column): Column = {
    val n = greatest(length(text).cast("double"), lit(1.0))
    def share(ranges: String): Column =
      length(regexp_replace(text, s"[^$ranges]", "")).cast("double") / n
    val cjk = share("\\x{4e00}-\\x{9fff}")
    val kana = share("\\x{3040}-\\x{30ff}")
    val hangul = share("\\x{ac00}-\\x{d7af}")
    val cyrillic = share("\\x{0400}-\\x{04ff}")
    val langs = langMarkers.map(_._1)
    val scores = array(langMarkers.zipWithIndex.map { case ((_, ms), i) =>
      struct(score(ms).as("s"), lit(-i).as("ni"))
    }: _*)
    element_at(transform(array(array_max(scores)), b =>
      when(kana > 0.1, "ja")         // kana before CJK: kanji overlaps zh
        .when(cjk > 0.2, "zh")
        .when(hangul > 0.2, "ko")
        .when(cyrillic > 0.2, "ru")
        .when(b.getField("s") > 0,
          element_at(typedlit(langs), (-b.getField("ni")) + 1))
        .otherwise("en")), 1).as("lang_id")
  }

  /** Language-ID heuristic: script-range shares first (zh/ja/ru/ko), then
    * marker n-gram voting for the Latin-script set. Pure Column
    * expression — no UDF.
    *
    * Each language's markers are ONE lookahead-alternation regex counted
    * in a single scan (`(?=(m1|m2|...))` matches are zero-width, so
    * overlapping marker hits each count — e.g. " und und " scores 2 where
    * per-marker non-overlapping removal scored 1; the argmax is
    * insensitive to that, and the differential spec pins old == new on a
    * multilingual corpus). 10 regex passes per row total (6 languages + 4
    * script ranges) instead of the ~64 of the per-marker form. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(markers: Seq[String]): Column =
      regexp_count(padded, lit(markers
        .map(java.util.regex.Pattern.quote)
        .mkString("(?=(", "|", "))"))).cast("double")
    langIdFromScores(text, score)
  }

  /** Per-marker multi-pass scorer (~64 regex passes/row) — the semantic
    * reference [[langId]] is measured against in TextFunctionsSpec; kept
    * for that differential only, not for production scans. */
  private[graft] def langIdMultiPass(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(markers: Seq[String]): Column =
      markers.map { m =>
        // occurrences of marker m = (len - len(remove m)) / len(m)
        ((length(padded) - length(regexp_replace(padded,
          java.util.regex.Pattern.quote(m), ""))) / lit(m.length))
      }.reduce(_ + _)
    langIdFromScores(text, score)
  }

  /** C4 page-level filter flags (Raffel et al. 2020 §2.2), the
    * document-level subset (the line-level rules need line structure
    * this corpus lacks): >= 3 sentences (terminal-punctuation count as
    * the sentence proxy), no "lorem ipsum", no curly brace (code
    * marker). `keep` = all pass. Pure row-local Column expressions. */
  def c4Flags(text: Column): Column = {
    val sentences =
      length(regexp_replace(text, "[^.!?]", "")) >= 3
    val noLorem = !lower(text).contains("lorem ipsum")
    val noBrace = !text.contains("{")
    struct(sentences.as("has_3_sentences"), noLorem.as("no_lorem"),
      noBrace.as("no_brace"),
      (sentences && noLorem && noBrace).as("keep"))
  }

  /** Gopher quality-filter flags (Rae et al. 2021, Table A1), the
    * document-level subset (the two line-level rules need line
    * structure): word count in [minWords, maxWords], mean word length
    * in [3, 10], symbol-to-word ratio ('#' or '...') <= 0.1, >= 80% of
    * words contain an alphabetic character, and >= 2 distinct stopwords
    * present. `keep` = all pass. Ratios divide exact integer counts, so
    * the flag decisions are engine-exact without micro-rounding. The
    * repetition rules of the same table live in [[dupTokenFrac]] /
    * [[topNgramCharFrac]] / [[dupNgramCharFrac]]. */
  def gopherQualityFlags(text: Column, minWords: Int = 50,
                         maxWords: Int = 100000): Column = {
    val toks = tokens(text)
    val ltoks = tokens(lower(text))
    val nw = size(toks).cast("double")
    val wordCountOk = nw >= minWords && nw <= maxWords
    val meanWordLen =
      length(regexp_replace(text, "\\s+", "")).cast("double") / nw
    val meanLenOk = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val nHash = length(regexp_replace(text, "[^#]", "")).cast("double")
    val nEllipsis = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3))
      .cast("double")
    val symbolOk = (nHash + nEllipsis) / nw <= 0.1
    val alphaOk = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / nw >= 0.8
    val stopArr = array(englishStopwords.map(lit): _*)
    val stopsOk = size(filter(stopArr,
      w => array_contains(ltoks, w))) >= 2
    struct(wordCountOk.as("word_count_ok"), meanLenOk.as("mean_len_ok"),
      symbolOk.as("symbol_ok"), alphaOk.as("alpha_ok"),
      stopsOk.as("stops_ok"),
      (wordCountOk && meanLenOk && symbolOk && alphaOk && stopsOk)
        .as("keep"))
  }
}
