package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

/** Helpers shared by several gate families: each Spark-side helper sits
  * beside its DuckDB twin (the upper-case name).
  *
  * Cross-engine float parity rules (SURVEY §7.4.8), used throughout:
  *  - money/product sums go through DECIMAL(18,4) inside the aggregate:
  *    decimal addition is exact and order-independent, so Spark and DuckDB
  *    produce bit-identical doubles after the final cast;
  *  - ratios / means / moments are emitted as micro-units via
  *    floor(x*1e6 + 0.5) cast to BIGINT — the SAME pure-IEEE expression on
  *    both engines (Spark round() rounds the shortest-decimal string,
  *    DuckDB round() rounds the binary value: they disagree on exact
  *    halves, floor-scaling does not);
  *  - event time is int64 epoch-NANOS end-to-end (`ts_ns`): Spark reads
  *    parquet TIMESTAMP(NANOS) via nanosAsLong, DuckDB via epoch_ns(ts).
  *    All bin arithmetic is integer (nanos exceed Double's 2^53).
  */
object Shared {

  /** Micro-unit fixed-point: floor(x*1e6+0.5) as BIGINT (see header). */
  private[gates] def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")

  /** SQL twin of [[r6]]. */
  private[gates] def R6(e: String): String = s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"

  /** Exact (order-independent) money sum: decimal inside, double outside. */
  private[gates] def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")
  private[gates] def MoneySum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(18,4))) AS DOUBLE)"

  /** DuckDB twin of [[Sampling.bucketHash]] — the top 20 bits of the
    * mix31 avalanche draw, so sampling gates are bit-exact. All
    * positive-BIGINT arithmetic (see [[Mix31Sql]] for the sign-of-mod
    * handling on negative keys). */
  private[gates] def HashSql(key: String, seed: Long): String =
    s"((${Mix31Sql(key, seed.toString)}) // 2048)"

  /** DuckDB twin of [[Sampling.mix31]] — three multiply-shift-truncate
    * rounds with xor-folding; all BIGINT arithmetic (every intermediate
    * < 2^63) plus `xor()`. `seed` is a SQL expression so the CMS twin
    * can derive per-row seeds. */
  private[gates] def Mix31Sql(key: String, seed: String): String =
    Seq(2654435761L, 2246822519L, 3266489917L).foldLeft(
      s"((($key + $seed) % 2147483648 + 2147483648) % 2147483648)") {
      (x, c) =>
        val y = s"((($x * $c) // 8192) % 2147483648)"
        s"xor($y, $y // 65536)"
    }

  /** DuckDB twin of [[Sampling.stringKey31]] — the base-31 code-point
    * fold, mod 2^31, as a list_reduce. Exact on BMP text. */
  private[gates] def StringKey31Sql(e: String): String =
    s"CASE WHEN $e IS NULL THEN NULL WHEN length($e) = 0 THEN 0 " +
      s"ELSE list_reduce([0::BIGINT] || list_transform(" +
      s"generate_series(1, length($e)), i -> unicode(substr($e, i, 1))" +
      s"::BIGINT), (a, b) -> (a * 31 + b) % 2147483648) END"

  /** [[MinhashSigCtes]] over an existing `(doc_id, t)` token-list
    * relation (the curate twin reuses its survivor CTE's ltoks). */
  private[gates] def MinhashSigCtesTok(src: String, k: Int): String =
    s"""msh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(t) - 2),
       |      i -> array_to_string(t[i:i+2], ' '))) AS shset
       |  FROM $src),
       |mkeys AS (
       |  SELECT doc_id, ${StringKey31Sql("shingle")} AS skey
       |  FROM (SELECT doc_id, unnest(shset) AS shingle FROM msh)),
       |mslots AS (
       |  SELECT doc_id, skey, unnest(generate_series(0, ${k - 1})) AS slot
       |  FROM mkeys),
       |mmins AS (
       |  SELECT doc_id, slot,
       |    MIN(${Mix31Sql("skey", "slot * 1000003")}) AS mv
       |  FROM mslots GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id, list(mv ORDER BY slot) AS sig
       |  FROM mmins GROUP BY 1)""".stripMargin

  /** DuckDB twin of the HLL estimator ([[Sketches.hllSketch]] +
    * [[Sketches.hllEstimate]], portable backend): expects a preceding
    * CTE `hkeys(g, k)` and emits the chain ending in `hll(g, est)`.
    * Identical registers (mix31 draws), exact dyadic register sum
    * (every 2^-rho term and the sum of <= 2^p of them are exact
    * doubles in any order), alpha*m as a round-tripping double
    * literal — bit-reproducible end to end. */
  private[gates] def HllRegsSql(seed: Long, p: Int, sfx: String): String =
    s"""hh$sfx AS (
       |  SELECT g, ${Mix31Sql("k", seed.toString)} AS h1,
       |    (${Mix31Sql("k", (seed + 1000003L).toString)}) % 1048576 AS h2
       |  FROM hkeys$sfx),
       |hr$sfx AS (
       |  SELECT g, h1 // ${1L << (31 - p)} AS register,
       |    MAX(CASE WHEN h2 = 0 THEN 21
       |        ELSE 21 - length(bin(h2)) END) AS rho
       |  FROM hh$sfx GROUP BY 1, 2)""".stripMargin
  private[gates] def HllEstSql(p: Int, sfx: String): String = {
    val m = 1 << p
    val alphaM = (0.7213 / (1.0 + 1.079 / m)) * m
    s"""ha$sfx AS (
       |  SELECT g, COUNT(*) AS np,
       |    SUM(1.0 / (CAST(1 AS BIGINT) << rho)) AS sp
       |  FROM hr$sfx GROUP BY 1),
       |he$sfx AS (
       |  SELECT g, $m - np AS v,
       |    (CAST($alphaM AS DOUBLE) * $m.0e0) / (sp + ($m - np)) AS raw
       |  FROM ha$sfx),
       |hll$sfx AS (
       |  SELECT g, CASE WHEN raw <= ${2.5 * m}e0 AND v > 0
       |    THEN $m.0e0 * ln($m.0e0 / v) ELSE raw END AS est
       |  FROM he$sfx)""".stripMargin
  }
  private[gates] def HllChainSql(seed: Long, p: Int = 10): String =
    HllRegsSql(seed, p, "") + ",\n" + HllEstSql(p, "")

  /** events with ts as epoch-nanos long (column `ts_ns`), truncated to
    * whole microseconds: DuckDB (the oracle) reads parquet TIMESTAMP(NANOS)
    * as µs TIMESTAMP, so sub-µs nanos exist only on the Spark side —
    * truncating BOTH sides (idempotent under either DuckDB behavior) makes
    * every downstream timestamp, diff, and bin label bit-identical. Bin
    * floor/ceil at ≥1µs steps is unaffected (edges are multiples of 1000ns).
    */
  private[gates] def eventsNs(s: SparkSession, dir: String): DataFrame =
    Tables.tsToNs(Tables.events(s, dir))
      .withColumnRenamed("ts", "ts_ns")

  /** DuckDB twin of [[eventsNs]]. */
  private[gates] val EventsNs =
    "SELECT event_id, (epoch_ns(ts) // 1000) * 1000 AS ts_ns, user_id, event_type, value, props FROM events"

  private[gates] val H  = 3600L * 1000 * 1000 * 1000  // 1 hour in ns
  private[gates] val M15 = 15L * 60 * 1000 * 1000 * 1000
  private[gates] val M30 = 30L * 60 * 1000 * 1000 * 1000
  private[gates] val M5  = 5L * 60 * 1000 * 1000 * 1000
  private[gates] val S10 = 10L * 1000 * 1000 * 1000  // 10 s in ns (Cont OFI resample)
  private[gates] val M10 = 10L * 60 * 1000 * 1000 * 1000  // 10 min in ns
  private[gates] val DAY = 24L * H

  /** DuckDB twin of TimeBins.ceilNs (positive ts). */
  private[gates] def CeilNs(e: String, step: Long): String =
    s"((($e) + ${step} - 1) // ${step}) * ${step}"
  private[gates] def FloorNs(e: String, step: Long): String =
    s"(($e) // ${step}) * ${step}"

  /** Buyer/seller side tag used to give `events` an OI shape: interaction
    * events are "buys" (side -1, per the LOBSTER convention that -1 means
    * buyer-initiated), lifecycle events "sells". */
  private[gates] def side(c: Column): Column =
    when(c.isin("click", "view", "purchase"), -1).otherwise(1)
  private[gates] val Side =
    "CASE WHEN event_type IN ('click','view','purchase') THEN -1 ELSE 1 END"

  /** Shared probe frame of the calibration gates (batch + streaming
    * faces): binary label from the side tag, score on a dyadic grid so
    * bin sums are exact in double (see q_calibration). */
  private[gates] def calibrationFrame(ev: DataFrame): DataFrame =
    ev.withColumn("label",
        when(side(col("event_type")) === -1, 1L).otherwise(0L))
      .withColumn("p",
        lit(0.5) * Sampling.unitHash(col("event_id"), 7L)
          + lit(0.25) * col("label").cast("double") + lit(0.125))

  /** Shared probe frame of the confusion-count gates (batch and
    * streaming faces): the side tag as `actual`, and a deterministic
    * rule predicting -1 for every third event as `pred`. */
  private[gates] def sidePredictions(ev: DataFrame): DataFrame =
    ev.withColumn("actual", side(col("event_type")).cast("long"))
      .withColumn("pred", when(col("event_id") % 3 === 0, -1L).otherwise(1L))

  /** Planted-signal training frame for the M1-M3 gates: `f_sig`'s sign IS
    * the direction label by construction (plus two hash-noise features),
    * so any working trainer clears an 0.8 accuracy bar — the reference's
    * own sanity check (chunk_pipeline.py:82). Every piece is
    * deterministic and layout-independent: a CONSTANT event-id cap (gate
    * cost and counts don't scale with SF), the portable hash split, and
    * hash-derived noise. */
  private[gates] val MlGateCols = Seq("f_sig", "f_n1", "f_n2")
  private[gates] def mlPlanted(s: SparkSession, dir: String): DataFrame = {
    val base = eventsNs(s, dir)
      .filter(col("event_id") < 1024L)
      .withColumn("direction", side(col("event_type")))
      .withColumn("f_sig",
        col("direction") * (abs(col("value")) + lit(1.0)))
      .withColumn("f_n1", Sampling.unitHash(col("event_id"), 9L))
      .withColumn("f_n2", pmod(col("event_id"), lit(7L)).cast("double"))
    Sampling.hashSplitTag(
      graft.ml.DirectionModel.prepareTraining(base, MlGateCols),
      "event_id", 0.25, seed = 42L)
  }
  private[gates] val QClsFeatures = 512
  private[gates] val QClsSeed = 7L


  /** `<name>(doc_id, text, toks, ltoks)`: the whitespace tokens and
    * lower-cased whitespace tokens of each text in relation `from`. */
  private[gates] def TokensCte(from: String = "documents",
      name: String = "t"): String =
    s"""$name AS (
       |  SELECT doc_id, text,
       |    string_split_regex(trim(text), '\\s+') AS toks,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ltoks
       |  FROM $from)""".stripMargin

  /** DuckDB twin of [[TextFunctions.qualityScore]] per document of
    * `from`: [[TokensCte]] `t`, the features `m`, then
    * `q(doc_id, quality)`. */
  private[gates] def QualityScoreCtes(from: String = "documents"): String =
    s"""${TokensCte(from)},
       |m AS (
       |  SELECT doc_id,
       |    ${QualityFeatureCols()}
       |  FROM t),
       |q AS (
       |  SELECT doc_id,
       |    $QualityScoreExpr AS quality
       |  FROM m)""".stripMargin

  /** DuckDB twin of [[TextFunctions.qualityScore]]'s four token
    * features, as select-list items (nt, stop_ratio, punct_ratio,
    * upper_ratio) over the text column `text`, its whitespace tokens
    * `toks` and its lower-cased tokens `ltoks`. */
  private[gates] def QualityFeatureCols(text: String = "text",
      toks: String = "toks", ltoks: String = "ltoks"): String =
    s"""CAST(len($toks) AS DOUBLE) AS nt,
       |    CAST(len(list_filter($ltoks, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','are','was',
       |       'it','that','this','for','on','with','as','at','by','be'],
       |      x))) AS DOUBLE) / len($toks) AS stop_ratio,
       |    CAST(length(regexp_replace($text,
       |      '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
       |      / length($text) AS punct_ratio,
       |    CAST(length(regexp_replace($text, '[^A-Z]', '', 'g'))
       |      AS DOUBLE) / length($text) AS upper_ratio""".stripMargin

  /** DuckDB twin of [[TextFunctions.qualityScore]] over the
    * [[QualityFeatureCols]] columns. */
  private[gates] val QualityScoreExpr: String =
    """GREATEST(0.0, LEAST(1.0,
      |      0.5 * (LEAST(nt / 50.0, 1.0) *
      |        CASE WHEN nt > 10000 THEN 0.5 ELSE 1.0 END)
      |      + 0.5 * LEAST(stop_ratio * 4.0, 1.0)
      |      - LEAST(punct_ratio * 2.0, 0.5)
      |      - LEAST(upper_ratio * 2.0, 0.5)))""".stripMargin

  /** DuckDB twin of the banding stage of
    * [[graft.operators.Dedup.minHashLshPairs]] (8 bands of 4 slots,
    * portable backend) over `sigs(doc_id, sig)`: `bnd` folds each band,
    * `bkt` mix31-buckets it, `bsz` sizes each (band, bucket). */
  private[gates] val MinhashBandCtes: String =
    s"""bnd AS (
       |  SELECT doc_id, sig, band,
       |    list_reduce([0::BIGINT] ||
       |        sig[band * 4 + 1 : band * 4 + 4],
       |      (a, b) -> (a * 1000003 + b) % 2147483648) AS bfold
       |  FROM (SELECT doc_id, sig,
       |          unnest(generate_series(0, 7)) AS band
       |        FROM sigs)),
       |bkt AS (
       |  SELECT doc_id, sig, band,
       |    ${Mix31Sql("bfold", "900001 + band")} AS bucket
       |  FROM bnd),
       |bsz AS (
       |  SELECT band, bucket, COUNT(*) AS bn FROM bkt GROUP BY 1, 2)""".stripMargin

  /** FROM/WHERE of the [[MinhashBandCtes]] candidate pairs `a`/`b`: one
    * shared bucket of at most 4096 members, `a.doc_id < b.doc_id`. */
  private[gates] val MinhashBandPairsFrom: String =
    """FROM bkt a
      |  JOIN bsz c ON a.band = c.band AND a.bucket = c.bucket
      |    AND c.bn <= 4096
      |  JOIN bkt b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < b.doc_id""".stripMargin

  /** DuckDB twin of connected-component labels over the undirected pair
    * relation `pairs(id_a, id_b)`: the recursive transitive closure
    * `reach`, then `labels(<id>, <label>)` with the smallest id of each
    * component as its label. Needs `WITH RECURSIVE`. */
  private[gates] def ComponentLabelCtes(pairs: String, id: String,
      label: String): String =
    s"""edges AS (SELECT id_a AS u, id_b AS v FROM $pairs
       |          UNION SELECT id_b, id_a FROM $pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (
       |  SELECT u AS $id, LEAST(u, MIN(v)) AS $label
       |  FROM reach GROUP BY u)""".stripMargin

  /** DuckDB twin of the histogram-quantile input of
    * [[graft.operators.Sketches]]: `src(g, v)`, the non-null, non-NaN
    * `value` of `table` keyed by `group`. */
  private[gates] def HistSrcCte(table: String, group: String,
      value: String): String =
    s"""src AS (
       |  SELECT $group AS g, CAST($value AS DOUBLE) AS v
       |  FROM $table
       |  WHERE $value IS NOT NULL
       |    AND NOT isnan(CAST($value AS DOUBLE)))""".stripMargin

  /** DuckDB twin of the equi-width histogram over `src`: `buckets`
    * buckets on each group's [min, max] (same IEEE steps in the same
    * order), counted per bucket and cumulated as `c(g, lo, hi, n,
    * bucket, cnt, cum)`. */
  private[gates] def HistEquiWidthCtes(buckets: Int): String =
    s"""rng AS (
       |  SELECT g, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
       |  FROM src GROUP BY 1),
       |b AS (
       |  SELECT g, lo, hi, n,
       |    CASE WHEN hi = lo THEN 0
       |      ELSE LEAST(CAST(floor((v - lo) / ((hi - lo) / $buckets.0e0))
       |        AS BIGINT), ${buckets - 1}) END AS bucket
       |  FROM src JOIN rng USING (g)),
       |h AS (
       |  SELECT g, lo, hi, n, bucket, COUNT(*) AS cnt
       |  FROM b GROUP BY 1, 2, 3, 4, 5),
       |c AS (
       |  SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY bucket)
       |    AS cum FROM h)""".stripMargin

  /** The integer cumulative walk over a cumulated histogram `c`: for
    * each probe `q` of `qs`, `p` holds the first bucket (rn = 1) whose
    * cumulative count reaches rank r = ceil(q n). */
  private[gates] def HistWalkCtes(qs: Seq[Double]): String =
    s"""qv AS (SELECT * FROM (VALUES ${qs.map(q => s"(${q}e0)").mkString(", ")}) t(q)),
       |j AS (
       |  SELECT c.*, q,
       |    GREATEST(1, CAST(ceil(q * n) AS BIGINT)) AS r,
       |    cum - cnt AS cumBefore
       |  FROM c CROSS JOIN qv
       |  WHERE cum >= GREATEST(1, CAST(ceil(q * n) AS BIGINT))),
       |p AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g, q ORDER BY bucket)
       |    AS rn FROM j)""".stripMargin

  /** The quantile estimate of a [[HistWalkCtes]] row: linear
    * interpolation inside its bucket of width (hi - lo) / buckets. */
  private[gates] def HistEstSql(buckets: Int): String =
    s"CASE WHEN hi = lo THEN lo ELSE lo " +
      s"+ ((hi - lo) / $buckets.0e0) * CAST(bucket AS DOUBLE) " +
      s"+ ((hi - lo) / $buckets.0e0) * (CAST(r - cumBefore AS DOUBLE) " +
      "/ CAST(cnt AS DOUBLE)) END"
}
