package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SketchesSpec extends SparkSpec {

  private def keys(n: Int, offset: Long = 0L) =
    spark.range(n).select((col("id") * 7919L + offset).as("k"),
      (col("id") % 4).cast("int").as("g"))

  // --- HLL ---

  test("hllDistinct estimates within 5% of truth at n/m ~ 10 " +
    "(averaged over seeds — a single draw at m=1024 has sigma ~3.3%)") {
    val df = keys(10000)
    val ests = Seq(0L, 1L, 2L).map { s =>
      Sketches.hllDistinct(df, Nil, "k", p = 10, seed = s)
        .collect().head.getDouble(0)
    }
    assert(math.abs(ests.head - 10000) / 10000.0 < 0.05,
      s"seed 0 est=${ests.head}")
    val mean = ests.sum / ests.size
    assert(math.abs(mean - 10000) / 10000.0 < 0.05,
      s"ests=$ests mean=$mean")
  }

  test("hllSketch: a key whose 20-bit rho draw is 0 takes rho from a " +
    "third draw (above 21), not the capped 21") {
    // the first key with mix31(k, seed + 1000003) mod 2^20 = 0: about
    // 10^6 tries, searched here rather than in Spark
    val seed = 0L
    val k = Iterator.from(0).map(_.toLong).find(k =>
      graft.plans.HashSignatures.mix31(k, seed + 1000003L) % (1L << 20) == 0L)
      .get
    val h3 = graft.plans.HashSignatures.mix31(k, seed + 2000006L)
    val expect = 52 - (64 - java.lang.Long.numberOfLeadingZeros(h3))
    val regs = Sketches.hllSketch(this.df("k BIGINT", Row(k)), Nil, "k",
        seed = seed).collect()
    assert(regs.length == 1)
    val rho = regs.head.getInt(1)
    assert(rho > 21, s"key $k: rho=$rho")
    assert(rho == expect, s"key $k: rho=$rho, expected $expect")
  }

  test("hllDistinct small range uses linear counting and is near-exact") {
    val est = Sketches.hllDistinct(keys(30), Nil, "k", p = 10)
      .collect().head.getDouble(0)
    assert(math.abs(est - 30) < 2, s"est=$est")
  }

  test("hllSketch is insensitive to duplicates: distinct-of-union equals " +
    "union-of-sketches (merge = rebuild, registers identical)") {
    val a = keys(2000)
    val b = keys(2000, offset = 3L)   // overlaps a on nothing (7919k+3)
    val merged = Sketches.hllMerge(
      Seq(Sketches.hllSketch(a, Nil, "k"), Sketches.hllSketch(b, Nil, "k")),
      Nil)
    val rebuilt = Sketches.hllSketch(a.unionByName(b), Nil, "k")
    val m = merged.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r = rebuilt.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m == r)
    // and duplicating every row changes nothing
    val dup = Sketches.hllSketch(a.unionByName(a), Nil, "k")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val aOnly = Sketches.hllSketch(a, Nil, "k")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dup == aOnly)
  }

  test("hllDistinct grouped: per-group estimates track per-group truth") {
    val df = keys(8000)   // 2000 distinct per group g in 0..3
    val ests = Sketches.hllDistinct(df, Seq("g"), "k", p = 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(ests.keySet == Set(0, 1, 2, 3))
    ests.values.foreach(e => assert(math.abs(e - 2000) / 2000.0 < 0.08,
      s"ests=$ests"))
  }

  test("hllSketch drops null keys instead of hashing them") {
    val df = this.df("k BIGINT", Row(1L), Row(2L), Row(null))
    val est = Sketches.hllDistinct(df, Nil, "k")
      .collect().head.getDouble(0)
    assert(math.abs(est - 2) < 1)
  }

  // --- CMS ---

  private def skewed() = {
    // key 1: 500 rows, key 2: 100, keys 100..199: 5 each
    val hot = spark.range(500).select(lit(1L).as("k"))
      .unionByName(spark.range(100).select(lit(2L).as("k")))
    val tail = spark.range(500).select((col("id") % 100 + 100L).as("k"))
    hot.unionByName(tail)
  }

  test("cmsLookup never underestimates, and is exact when width is " +
    "collision-free") {
    val df = skewed()
    val truth = df.groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sk = Sketches.cmsSketch(df, "k", depth = 4, width = 2048)
    val est = Sketches.cmsLookup(sk, df.select("k").distinct(), "k",
        depth = 4, width = 2048)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, c) => assert(est(k) >= c, s"k=$k") }
    // 102 distinct keys in 4x2048 cells: overshoot should be zero here
    assert(est == truth)
  }

  test("cmsLookup with a narrow sketch still upper-bounds; unseen key " +
    "estimates either 0 or a collision count, never negative") {
    val df = skewed()
    val sk = Sketches.cmsSketch(df, "k", depth = 3, width = 16)
    val probe = this.df("k BIGINT", Row(1L), Row(999999L))
    val est = Sketches.cmsLookup(sk, probe, "k", depth = 3, width = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est(1L) >= 500)
    assert(est(999999L) >= 0)
  }

  test("cmsHeavyHitters recalls every true heavy hitter") {
    val df = skewed()   // N=1100; phi=0.05 -> threshold 55 -> keys 1, 2
    val hh = Sketches.cmsHeavyHitters(df, "k", phi = 0.05,
        depth = 4, width = 1024)
      .collect().map(_.getLong(0)).toSet
    assert(hh.contains(1L) && hh.contains(2L))
    // precision with a roomy sketch: nothing from the 5-count tail
    assert(hh == Set(1L, 2L))
  }

  test("heavyHitterCandidates: bounded survivor set (<= m per " +
    "partition) containing every pigeonhole-heavy key; the corpus key " +
    "universe never feeds the candidate distinct") {
    // 64-way skew across 8 partitions: every true heavy key must
    // survive SOME partition's Misra-Gries summary
    val df = skewed().repartition(8)
    val phi = 0.05
    val cands = Sketches.heavyHitterCandidates(df, "k", phi)
    val got = cands.collect().map(_.getLong(0)).toSet
    assert(got.contains(1L) && got.contains(2L),
      s"true heavy keys missing from candidates: $got")
    val m = math.ceil(2.0 / phi).toInt
    assert(cands.count() <= m.toLong * 8,
      s"candidate set exceeds the m-per-partition bound: ${cands.count()}")
    // the probe frame is the RDD-scanned survivor union, not a
    // corpus-wide distinct over the parquet/base relation
    val p = cands.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "candidates must come from the per-partition summary scan:\n" + p)
  }

  test("cmsHeavyHitters with bounded candidates == the corpus-distinct " +
    "formulation on a skewed multi-partition corpus (differential)") {
    val df = skewed().repartition(8)
    def slowHitters(depth: Int, width: Int): Set[Long] = {
      // the pre-round-10 formulation: probe EVERY distinct key
      val sk = Sketches.cmsSketch(df, "k", depth = depth, width = width)
      val n = df.count()
      Sketches.cmsLookup(sk, df.select("k").distinct(), "k",
          depth = depth, width = width)
        .filter(col("est") >= math.ceil(0.05 * n))
        .collect().map(_.getLong(0)).toSet
    }
    def fastHitters(depth: Int, width: Int): Set[Long] =
      Sketches.cmsHeavyHitters(df, "k", phi = 0.05,
          depth = depth, width = width)
        .collect().map(_.getLong(0)).toSet
    // roomy sketch: zero collision inflation, both formulations land on
    // exactly the true heavy set
    assert(fastHitters(4, 1024) == slowHitters(4, 1024))
    // narrow sketch: recall stays 1 (pigeonhole) and precision can only
    // improve — the bounded candidates drop CMS-inflated tail keys the
    // corpus-distinct probe would have kept
    val fastNarrow = fastHitters(3, 16)
    assert(Set(1L, 2L).subsetOf(fastNarrow), s"recall lost: $fastNarrow")
    assert(fastNarrow.subsetOf(slowHitters(3, 16)),
      s"bounded candidates invented a hitter: $fastNarrow")
  }

  test("cmsSketch merges by cell-wise sum (build on union == sum of builds)") {
    val a = skewed()
    val sk2 = Sketches.cmsSketch(a.unionByName(a), "k", depth = 3, width = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val sk1 = Sketches.cmsSketch(a, "k", depth = 3, width = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(sk2 == sk1.map { case (c, v) => c -> (2 * v) })
  }

  test("hllOverlap: inclusion-exclusion tracks a planted 50% overlap; " +
    "disjoint sets estimate near-zero intersection") {
    val a = keys(4000)                       // ids 0..3999 (*7919)
    val b = spark.range(2000, 6000)
      .select((col("id") * 7919L).as("k"), lit(0).as("g"))
    val skA = Sketches.hllSketch(a, Nil, "k")
    val skB = Sketches.hllSketch(b, Nil, "k")
    val r = Sketches.hllOverlap(skA, skB, Nil).collect().head
    val inter = r.getAs[Double]("est_intersect")
    val union = r.getAs[Double]("est_union")
    assert(math.abs(inter - 2000) / 2000.0 < 0.25, s"inter=$inter")
    // single fixed draw at m=1024: sigma ~3.3%, allow ~2.5 sigma
    assert(math.abs(union - 6000) / 6000.0 < 0.085, s"union=$union")
    val disjoint = Sketches.hllOverlap(
        Sketches.hllSketch(keys(2000), Nil, "k"),
        Sketches.hllSketch(keys(2000, offset = 1L), Nil, "k"), Nil)
      .collect().head.getAs[Double]("est_intersect")
    assert(disjoint < 400, s"disjoint inter=$disjoint")
  }

  // --- histogram quantile sketch ---

  test("approxQuantiles lands within one bucket width of exact " +
    "percentiles on a skewed distribution") {
    val d = spark.range(10000)
      .select((col("id") * col("id")).cast("double").as("v"))  // quadratic
    val ests = Sketches.approxQuantiles(d, Nil, "v",
        qs = Seq(0.5, 0.95), buckets = 200)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val Array(p50, p95) = d.stat.approxQuantile("v",
      Array(0.5, 0.95), 0.0)   // exact at relativeError 0
    val width = (9999.0 * 9999.0) / 200.0
    assert(math.abs(ests(0.5) - p50) <= width,
      s"p50 est=${ests(0.5)} exact=$p50 width=$width")
    assert(math.abs(ests(0.95) - p95) <= width,
      s"p95 est=${ests(0.95)} exact=$p95 width=$width")
  }

  test("histogramSketch: grouped sketches have bounded cells, counts " +
    "sum to group size, all-equal group degenerates to one bucket") {
    val d = df("g STRING, v DOUBLE",
      ((1 to 100).map(i => Row("a", i.toDouble)) ++
        (1 to 40).map(_ => Row("b", 7.0)) :+ Row("a", null)): _*)
    val sk = Sketches.histogramSketch(d, Seq("g"), "v", buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(4)) ->
        (r.getLong(5), r.getLong(3))).toMap
    val aCells = sk.keys.filter(_._1 == "a")
    assert(aCells.size <= 8)
    assert(sk.filter(_._1._1 == "a").values.map(_._1).sum == 100L) // null dropped
    val bCells = sk.keys.filter(_._1 == "b").toSeq
    assert(bCells == Seq(("b", 0L)))
    assert(sk(("b", 0L)) == ((40L, 40L)))
    // quantile of the degenerate group is the constant
    val q = Sketches.histogramQuantiles(
        Sketches.histogramSketch(d, Seq("g"), "v", buckets = 8),
        Seq("g"), Seq(0.5), buckets = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(q("b") == 7.0)
    assert(math.abs(q("a") - 50.0) <= 100.0 / 8 + 1)
  }

  test("histogramSketchFixed: shared grid by construction — sketches of " +
    "two halves merge by cell sum to the direct build; out-of-range " +
    "values clamp to the rails") {
    val all = spark.range(1000).select(col("id").cast("double").as("v"))
    def cells(d: org.apache.spark.sql.DataFrame) =
      Sketches.histogramSketchFixed(d, Nil, "v", lo = 0.0, hi = 1000.0,
          buckets = 16)
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val merged = (cells(all.filter(col("v") < 500)).toSeq ++
        cells(all.filter(col("v") >= 500)).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == cells(all))
    val clamped = cells(this.df("v DOUBLE", Row(-50.0), Row(5000.0)))
    assert(clamped == Map(0L -> 1L, 15L -> 1L))
    // quantiles read the n-less fixed sketch too
    val p50 = Sketches.histogramQuantiles(
        Sketches.histogramSketchFixed(all, Nil, "v", 0.0, 1000.0, 16),
        Nil, Seq(0.5), buckets = 16)
      .collect().head.getDouble(1)
    assert(math.abs(p50 - 500.0) <= 1000.0 / 16)
  }

  test("cmsJoinSize upper-bounds the true equi-join size and is exact " +
    "when the sketch is collision-free") {
    val a = skewed()
    val b = skewed().filter(col("k") < 150)   // hot keys + part of tail
    val truth = {
      val ca = a.groupBy("k").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cb = b.groupBy("k").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ca.map { case (k, n) => n * cb.getOrElse(k, 0L) }.sum
    }
    val wide = Sketches.cmsJoinSize(
        Sketches.cmsSketch(a, "k", depth = 4, width = 2048, seed = 1L),
        Sketches.cmsSketch(b, "k", depth = 4, width = 2048, seed = 1L))
      .collect().head.getLong(0)
    assert(wide == truth, s"wide=$wide truth=$truth")
    val narrow = Sketches.cmsJoinSize(
        Sketches.cmsSketch(a, "k", depth = 3, width = 16, seed = 1L),
        Sketches.cmsSketch(b, "k", depth = 3, width = 16, seed = 1L))
      .collect().head.getLong(0)
    assert(narrow >= truth, s"narrow=$narrow truth=$truth")
  }

  test("cmsSketch weighted counts sum the weight column") {
    val df = this.df("k BIGINT, w BIGINT",
      Row(1L, 10L), Row(1L, 5L), Row(2L, 7L))
    val sk = Sketches.cmsSketch(df, "k", depth = 2, width = 512,
      countCol = Some("w"))
    val est = Sketches.cmsLookup(sk, df.select("k").distinct(), "k",
        depth = 2, width = 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est(1L) == 15L && est(2L) == 7L)
  }
}
