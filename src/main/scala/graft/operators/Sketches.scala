package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches for corpus-scale profiling.
  *
  * At 100 TB, `COUNT(DISTINCT key)` and exact per-key frequency tables are
  * the two aggregations that stop fitting: distinct-count needs a shuffle
  * of every distinct key, and a full frequency table materializes one row
  * per key. The classical answer is a fixed-size mergeable sketch — the
  * aggregation state is O(registers), partial-aggregates map-side like any
  * algebraic agg, and sketches from different partitions/days/snapshots
  * merge by element-wise max (HLL) or sum (Count-Min). Mirrors the
  * reference's profiling counts (order_imbalance.py:210-236 event/count
  * summaries) re-expressed as bounded-state aggregations.
  *
  * One hash backend: the engine-portable avalanche mixer
  * [[Sampling.mix31]], so every register and the final estimate are
  * bit-reproducible in any SQL engine (the DuckDB oracle gates replay
  * them). Each key takes up to three independently-seeded draws: h1
  * picks the register (top p of its 31 bits); h2 (20 bits) and, only
  * when h2 = 0, h3 (31 bits) give rho = leading zeros of the 51-bit
  * string h2‖h3, plus 1. So rho reaches 52, and a register saturates
  * only past ~2^51 keys.
  *
  * Float-parity design: every register term 2^-rho is an exact dyadic
  * double computed as `1.0 / (1 << rho)` (integer shift + one exact
  * division — no libm `pow`). A sum of m <= 2^18 such terms needs at
  * most 18 + max(rho) mantissa bits, so the register sum is EXACT in
  * IEEE double, in any partial-aggregation order, while every rho <= 35.
  * A key reaches rho >= 36 with probability 2^-35. The only libm call in
  * the whole estimator is the small-range `ln`, absorbed by the gates'
  * micro-rounding.
  */
object Sketches {

  private val H2Bits      = 20            // first rho draw domain: 2^20
  private val SeedSpacing = 1000003L      // spaces per-row/per-draw seeds

  /** Bit length of a non-negative integral column (0 for 0) — portable:
    * both Spark and DuckDB `bin()` print minimal-width binary. */
  private def bitLen(v: Column): Column =
    when(v === 0L, lit(0)).otherwise(length(bin(v)))

  // ---------------------------------------------------------------------
  // HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007)
  // ---------------------------------------------------------------------

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** HLL register frame: one row per (group, register) holding the max
    * rho observed — the sketch in its mergeable form. `2^p` registers;
    * absent rows mean register 0 (the estimator accounts for them, no
    * densification shuffle needed). One partial-aggregated shuffle on
    * (group, register); state is at most m rows per group.
    *
    * Bucket and rho come from independently-seeded mix31 draws —
    * bucketHash's single multiplicative round would correlate (bucket,
    * rho) and pin each register's rho to a near-constant (see
    * Sampling.mix31). The third draw h3 runs only where the 20-bit h2 is
    * 0, extending the rho domain from 21 to 52. */
  def hllSketch(df: DataFrame, groupCols: Seq[String], keyCol: String,
                p: Int = 10, seed: Long = 0L): DataFrame = {
    require(p >= 4 && p <= 18, s"precision p must be in [4, 18], got $p")
    Sampling.requireIntegralKey(df, keyCol)
    val key = col(keyCol)
    val bucket = shiftright(Sampling.mix31(key, lit(seed)), 31 - p)
    val h2 = pmod(Sampling.mix31(key, lit(seed + SeedSpacing)),
      lit(1L << H2Bits))
    val h3 = Sampling.mix31(key, lit(seed + 2 * SeedSpacing))
    val rho = when(h2 === 0L, lit(H2Bits + 31 + 1) - bitLen(h3))
      .otherwise(lit(H2Bits + 1) - bitLen(h2))
    df.filter(key.isNotNull)
      .groupBy((groupCols.map(col) :+ bucket.as("register")): _*)
      .agg(max(rho).cast("int").as("rho"))
  }

  /** Union-merge of sketch frames built with the same (p, seed):
    * element-wise register max. Cross-snapshot distinct counts without
    * re-reading either corpus. */
  def hllMerge(sketches: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(sketches.nonEmpty, "hllMerge needs at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy((groupCols :+ "register").map(col): _*)
      .agg(max(col("rho")).cast("int").as("rho"))
  }

  /** Cardinality estimate from a register frame: bias-corrected harmonic
    * mean with the small-range linear-counting correction. Output:
    * groupCols :+ `distinct_est` (double). The input is at most m rows
    * per group, so this is a tiny aggregation. The 32-bit large-range
    * correction is deliberately absent — the 51-bit rho source does not
    * wrap at 2^32. */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String],
                  p: Int = 10): DataFrame = {
    val m = 1 << p
    // 2^-rho via integer shift: exact dyadic term, no libm pow. The
    // Scala shiftleft wrapper takes a literal shift only, so SQL form.
    val term = expr("1.0d / cast(shiftleft(cast(1 as bigint), rho) as double)")
    val grouped =
      if (groupCols.isEmpty) sketch.groupBy()
      else sketch.groupBy(groupCols.map(col): _*)
    val agg = grouped.agg(
      count(lit(1)).as("__present"),
      sum(term).as("__s_present"))
    // Absent registers contribute 2^-0 = 1 each; V = zero-register count.
    val s = col("__s_present") + (lit(m) - col("__present")).cast("double")
    val v = lit(m) - col("__present")
    val e = lit(alpha(m) * m) * lit(m.toDouble) / s
    agg.withColumn("distinct_est",
        when(e <= lit(2.5 * m) && v > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
          .otherwise(e))
      .drop("__present", "__s_present")
  }

  /** Sketch + estimate in one call — the `approx_count_distinct` shape,
    * but deterministic and engine-portable, and with the intermediate
    * register frame available via [[hllSketch]] when the caller wants to
    * persist/merge sketches instead. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], keyCol: String,
                  p: Int = 10, seed: Long = 0L): DataFrame =
    hllEstimate(hllSketch(df, groupCols, keyCol, p, seed), groupCols, p)

  // ---------------------------------------------------------------------
  // Count-Min sketch (Cormode, Muthukrishnan 2005)
  // ---------------------------------------------------------------------

  /** Count-Min table: `depth` independent hash rows x `width` buckets;
    * cell = total count of keys landing there. Build is one explode
    * (depth copies per row — depth is 3..5) + one partial-aggregated
    * shuffle down to at most depth*width cells: bounded state no matter
    * the key cardinality, and two tables built with the same geometry
    * merge by cell-wise sum. `countCol = None` counts rows; `Some(c)`
    * sums a non-negative long column (CMS requires non-negative
    * updates — enforced). */
  def cmsSketch(df: DataFrame, keyCol: String, depth: Int = 4,
                width: Int = 256, seed: Long = 0L,
                countCol: Option[String] = None): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    Sampling.requireIntegralKey(df, keyCol)
    val cnt = countCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("row")
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__k"), cnt.as("__c"), rows)
      .withColumn("bucket",
        pmod(Sampling.mix31(col("__k"),
          lit(seed) + col("row").cast("long") * lit(SeedSpacing)),
          lit(width)).cast("int"))
      .groupBy(col("row"), col("bucket"))
      .agg(sum(when(col("__c") < 0,
          raise_error(lit("cmsSketch: negative count"))).otherwise(col("__c")))
        .as("cnt"))
  }

  /** Point-frequency estimates for a frame of candidate keys: for each
    * key, min over the depth cells it hashes to (the CMS guarantee:
    * estimate >= true count, with overshoot bounded by N*e/width per
    * row). The sketch is depth*width rows — broadcast, so the probe is
    * one map-side join + a partial-aggregated min per key. Keys the
    * sketch never saw estimate 0 (their min cell may be empty → count 0). */
  def cmsLookup(sketch: DataFrame, items: DataFrame, keyCol: String,
                depth: Int = 4, width: Int = 256,
                seed: Long = 0L): DataFrame = {
    Sampling.requireIntegralKey(items, keyCol)
    items.filter(col(keyCol).isNotNull)
      .select(col(keyCol),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .withColumn("bucket",
        pmod(Sampling.mix31(col(keyCol),
          lit(seed) + col("row").cast("long") * lit(SeedSpacing)),
          lit(width)).cast("int"))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Set-overlap estimates from two register sketches built with the
    * SAME (groupCols, p, seed, backend): HLL registers union losslessly
    * (element-wise max), so |A∪B| comes from the merged sketch and
    * |A∩B| by inclusion-exclusion — the cross-corpus overlap /
    * dedup-planning metric ("how much of snapshot B is already in A?")
    * without ever joining the corpora. Intersection error compounds
    * (three estimates), so it is clamped at 0; `jaccard_est` =
    * intersect/union. Groups missing from one side estimate that side
    * as 0 (full-outer join semantics). Output: groupCols ++ (est_a,
    * est_b, est_union, est_intersect, jaccard_est). */
  def hllOverlap(skA: DataFrame, skB: DataFrame, groupCols: Seq[String],
                 p: Int = 10): DataFrame = {
    def est(sk: DataFrame, as: String) =
      hllEstimate(sk, groupCols, p).withColumnRenamed("distinct_est", as)
    val a = est(skA, "est_a")
    val b = est(skB, "est_b")
    val u = est(hllMerge(Seq(skA, skB), groupCols), "est_union")
    val joined =
      if (groupCols.isEmpty) a.crossJoin(b).crossJoin(u)
      else a.join(b, groupCols, "full_outer").join(u, groupCols)
    val ea = coalesce(col("est_a"), lit(0.0))
    val eb = coalesce(col("est_b"), lit(0.0))
    val inter = greatest(ea + eb - col("est_union"), lit(0.0))
    joined.withColumn("est_a", ea).withColumn("est_b", eb)
      .withColumn("est_intersect", inter)
      .withColumn("jaccard_est",
        when(col("est_union") > 0, inter / col("est_union"))
          .otherwise(lit(0.0)))
  }

  // ---------------------------------------------------------------------
  // Histogram quantile sketch (equi-width, mergeable)
  // ---------------------------------------------------------------------

  /** Equi-width histogram sketch: per group, `buckets` counting cells
    * over the group's own [min, max] range. Two passes — a tiny min/max/
    * count aggregate broadcast back, then ONE partial-aggregated shuffle
    * down to at most `buckets` rows per group — versus the exact
    * percentile operator's bracket-then-refine multi-pass
    * ([[Quantiles]]). Sketches over the SAME range merge by cell-wise
    * count sum (fix the range via a shared first pass to merge across
    * snapshots). Nulls and NaNs are excluded. Output: groupCols ++
    * (lo, hi, n, bucket, cnt). Every bucket decision is an
    * identically-ordered IEEE expression, so two engines bucket
    * identically (the DuckDB gate hash-matches). */
  def histogramSketch(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 17),
      s"buckets must be in [2, 131072], got $buckets")
    val v = col(valueCol).cast("double")
    val src = df.filter(v.isNotNull && !isnan(v))
      .select((groupCols.map(col) :+ v.as("__v")): _*)
    val rng = (if (groupCols.isEmpty) src.groupBy()
               else src.groupBy(groupCols.map(col): _*))
      .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
        count(lit(1)).as("n"))
    val withRng =
      if (groupCols.isEmpty) src.crossJoin(broadcast(rng))
      else src.join(broadcast(rng), groupCols)
    val step = (col("hi") - col("lo")) / lit(buckets.toDouble)
    val bucket = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("__v") - col("lo")) / step).cast("long"),
        lit(buckets - 1L)))
    withRng
      .groupBy((groupCols ++ Seq("lo", "hi", "n")).map(col) :+
        bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[histogramSketch]] with a CALLER-FIXED range instead of the
    * per-group min/max pass. This is the merge- and stream-friendly
    * face: sketches from different days/corpora share the grid by
    * construction (cells add), and with no range pre-pass the whole
    * sketch is ONE aggregation — it runs as-is on a streaming frame
    * (complete mode, bounded state). Values outside [lo, hi] clamp to
    * the edge buckets (documented estimator bias at the rails; pick a
    * generous range). Output schema matches [[histogramSketch]], so
    * [[histogramQuantiles]] reads either. */
  def histogramSketchFixed(df: DataFrame, groupCols: Seq[String],
                           valueCol: String, lo: Double, hi: Double,
                           buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 17),
      s"buckets must be in [2, 131072], got $buckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    val v = col(valueCol).cast("double")
    val step = (hi - lo) / buckets
    val bucket = least(greatest(
      floor((v - lit(lo)) / lit(step)).cast("long"), lit(0L)),
      lit(buckets - 1L))
    // no `n` column: it would need a second pass/window (not streamable);
    // histogramQuantiles derives it from the cells when absent
    df.filter(v.isNotNull && !isnan(v))
      .withColumn("lo", lit(lo)).withColumn("hi", lit(hi))
      .groupBy((groupCols ++ Seq("lo", "hi")).map(col) :+
        bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a [[histogramSketch]]: walk the cumulative
    * bucket counts to the target rank ceil(q*n) and interpolate linearly
    * inside the landing bucket. Error is bounded by one bucket width —
    * (hi-lo)/buckets — per estimate. All windows run over at most
    * `buckets` rows per (group, q). */
  def histogramQuantiles(sketch: DataFrame, groupCols: Seq[String],
                         qs: Seq[Double], buckets: Int = 64): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0, 1], got $qs")
    val spark = sketch.sparkSession
    import spark.implicits._
    // fixed-range sketches carry no n (one-pass/streamable); derive it
    val sized =
      if (sketch.columns.contains("n")) sketch
      else sketch.withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(groupCols.map(col): _*)))
    val cumW = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket")
    val withCum = sized
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("cumBefore", col("cum") - col("cnt"))
    val qdf = qs.toDF("q")
    val r = greatest(lit(1L), ceil(col("q") * col("n")).cast("long"))
    val pick = Window.partitionBy((groupCols :+ "q").map(col): _*)
      .orderBy("bucket")
    val step = (col("hi") - col("lo")) / lit(buckets.toDouble)
    withCum.crossJoin(broadcast(qdf))
      .filter(col("cum") >= r)
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .withColumn("est",
        when(col("hi") === col("lo"), col("lo"))
          .otherwise(col("lo") + step * col("bucket").cast("double") +
            step * ((r - col("cumBefore")).cast("double") /
              col("cnt").cast("double"))))
      .select((groupCols.map(col) :+ col("q") :+ col("est")): _*)
  }

  /** Sketch + estimate in one call — the one-pass-shuffle approximate
    * percentile for when [[Quantiles]]' exact multi-pass refinement is
    * too expensive per query. */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, qs: Seq[Double],
                      buckets: Int = 64): DataFrame =
    histogramQuantiles(histogramSketch(df, groupCols, valueCol, buckets),
      groupCols, qs, buckets)

  /** Equi-join output-size estimate from two Count-Min tables built
    * with the SAME (depth, width, seed): the CM inner product
    * (Cormode & Muthukrishnan 2005 §4.2) — per hash row, the
    * cell-wise product sum over-counts the true
    * sum_k fA(k)*fB(k) = |A JOIN B on k| only by collision mass, so
    * min over the depth rows is an upper-bound estimate that
    * tightens with depth. All integer arithmetic; the sketches are
    * depth*width rows, so this costs nothing — the join-planning
    * cardinality probe ("will this equi-join explode?") without
    * touching either table. Returns one row: `join_size_est`. */
  def cmsJoinSize(skA: DataFrame, skB: DataFrame): DataFrame =
    skA.select(col("row"), col("bucket"), col("cnt").as("__ca"))
      .join(skB.select(col("row"), col("bucket"), col("cnt").as("__cb")),
        Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("__ca") * col("__cb")).as("__ip"))
      .agg(min(col("__ip")).as("join_size_est"))

  /** Heavy hitters: keys whose estimated frequency reaches `phi` of the
    * total. CMS never underestimates, so recall is 1 (every true heavy
    * hitter survives); precision is bounded by the sketch error.
    *
    * The candidate pass NEVER materializes the key universe: each input
    * partition runs a Misra-Gries summary with m = ceil(2/phi) counters
    * ([[heavyHitterCandidates]]), so the only shuffled candidate frame
    * is the <= m-per-partition survivor union — bounded regardless of
    * corpus cardinality. Recall stays 1 end to end by a pigeonhole
    * argument: f(k) >= phi*N = phi * sum_p(n_p) forces
    * count_p(k) >= phi*n_p in at least one partition p (otherwise the
    * sum is < phi*N), and Misra-Gries with m counters retains every key
    * with local frequency > n_p/(m+1) <= phi*n_p/2 < phi*n_p — so some
    * partition's summary carries k. The CMS probe + threshold then
    * decide exactly as before; only CMS-inflated false positives whose
    * true frequency is everywhere locally light can drop out (a
    * precision improvement, never a recall loss —
    * SketchesSpec differential). */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, phi: Double,
                      depth: Int = 4, width: Int = 256,
                      seed: Long = 0L): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1], got $phi")
    val sketch = cmsSketch(df, keyCol, depth, width, seed)
    val total = df.filter(col(keyCol).isNotNull)
      .agg(count(lit(1)).as("__n"))
    cmsLookup(sketch, heavyHitterCandidates(df, keyCol, phi), keyCol,
        depth, width, seed)
      .crossJoin(broadcast(total))
      .filter(col("est") >= ceil(lit(phi) * col("__n")))
      .drop("__n")
  }

  /** Bounded heavy-hitter candidate frame: per-partition Misra-Gries
    * with m = ceil(2/phi) counters (Misra & Gries 1982). The decrement
    * step guarantees every key with partition-local frequency
    * > n_p/(m+1) survives its partition's summary; with
    * m + 1 > 2/phi that threshold is below phi*n_p/2, comfortably
    * inside the pigeonhole bound [[cmsHeavyHitters]] needs. Output is
    * <= m rows per input partition, distinct-ed — the candidate shuffle
    * is O(partitions/phi), independent of the key universe. Exposed so
    * 100 TB pipelines can compose it with [[cmsLookup]] directly. */
  def heavyHitterCandidates(df: DataFrame, keyCol: String,
                            phi: Double): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1], got $phi")
    val m = math.ceil(2.0 / phi).toInt
    val keys = df.select(col(keyCol)).filter(col(keyCol).isNotNull)
    val survivors = keys.rdd.mapPartitions { it =>
      val counters =
        new java.util.HashMap[Any, java.lang.Long](2 * m)
      it.foreach { r =>
        val k = r.get(0)
        val c = counters.get(k)
        if (c != null) counters.put(k, c + 1L)
        else if (counters.size < m) counters.put(k, 1L)
        else {
          // decrement-all: drop every count by one, evict zeros —
          // the O(m) step amortized over the m increments that filled it
          val del = new java.util.ArrayList[Any](m)
          val eit = counters.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            if (e.getValue == 1L) del.add(e.getKey)
            else e.setValue(e.getValue - 1L)
          }
          del.forEach(k2 => counters.remove(k2))
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.Row]
      counters.keySet().forEach(k =>
        out += org.apache.spark.sql.Row(k))
      out.iterator
    }
    keys.sparkSession.createDataFrame(survivors, keys.schema).distinct()
  }
}
