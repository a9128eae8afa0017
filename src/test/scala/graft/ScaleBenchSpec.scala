package graft

import org.apache.spark.sql.functions._

/** Pins the invariants ScaleBench's scale-slope gate rests on: the k-times
  * inflation must grow every table EXACTLY k-fold while preserving
  * within-copy structure (so per-copy work is identical to the original)
  * and decorrelating across copies (so candidate sets grow linearly and
  * any super-linear runtime is the engine's fault, not the fixture's).
  * Runs at sf0.001 / k=2 — the same code path ScaleBench uses at sf0.1.
  */
class ScaleBenchSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scalebench-spec").toString
    ScaleBench.inflate(spark, src, dir, 2)
    dir
  }

  test("inflation doubles every table exactly") {
    for (t <- Seq("events", "documents", "embeddings", "lineitem", "orders")) {
      val n0 = spark.read.parquet(s"$src/$t.parquet").count()
      val n1 = spark.read.parquet(s"$out/$t.parquet").count()
      assert(n1 == 2 * n0, s"$t: $n1 != 2*$n0")
    }
  }

  test("inflation is idempotent via the _BUILT marker") {
    out // force the first build
    assert(new java.io.File(s"$out/_BUILT").exists())
    ScaleBench.inflate(spark, src, out, 2) // must be a no-op, not a rebuild
    assert(spark.read.parquet(s"$out/events.parquet").count() ==
      2 * spark.read.parquet(s"$src/events.parquet").count())
  }

  test("a marker from a different source dir forces a rebuild") {
    out // force the first build
    val marker = java.nio.file.Paths.get(s"$out/_BUILT")
    java.nio.file.Files.write(marker, "src=/somewhere/else k=2\n".getBytes)
    ScaleBench.inflate(spark, src, out, 2) // stale tag => rebuild + re-tag
    val tag = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
    assert(tag == s"src=${new java.io.File(src).getAbsolutePath} k=2 v2")
    assert(spark.read.parquet(s"$out/events.parquet").count() ==
      2 * spark.read.parquet(s"$src/events.parquet").count())
  }

  test("embedding sign-flip preserves within-copy dot products exactly") {
    // s∘x · s∘y = Σ s_j² x_j y_j = x·y, and IEEE negation is exact, so the
    // copy-1 pairwise dot products must be BIT-equal to copy 0's.
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 1000000000L)
      .select(col("vec_id"), col("embedding"))
    val copy = emb.filter(col("vec_id") >= 1000000000L)
      .select((col("vec_id") - 1000000000L).as("vec_id"),
        col("embedding").as("embedding1"))
    def dot(a: String, b: String) =
      aggregate(zip_with(col(a), col(b), (x, y) => x * y),
        lit(0.0f), (acc, v) => acc + v)
    val joined = base.join(copy, "vec_id").limit(50)
      .crossJoin(base.join(copy, "vec_id").limit(50)
        .select(col("vec_id").as("vid2"), col("embedding").as("emb2"),
          col("embedding1").as("emb21")))
      .filter(col("vec_id") < col("vid2"))
    val mismatches = joined
      .select(dot("embedding", "emb2").as("d0"),
        dot("embedding1", "emb21").as("d1"))
      .filter(col("d0") =!= col("d1")).count()
    assert(mismatches == 0)
    // ...and across copies the vectors genuinely differ (decorrelated).
    val flipped = base.join(copy, "vec_id")
      .filter(col("embedding") =!= col("embedding1")).count()
    assert(flipped > 0)
  }

  test("document token tagging keeps within-copy shingles, kills cross-copy") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = docs.filter(col("doc_id") < 1000000000L)
      .select(col("doc_id"), split(col("text"), " ").as("toks0"))
    val copy = docs.filter(col("doc_id") >= 1000000000L)
      .select((col("doc_id") - 1000000000L).as("doc_id"),
        split(col("text"), " ").as("toks1"))
    val j = base.join(copy, "doc_id")
    // Same token count and per-position suffix "~1" — shingle structure
    // inside the copy is isomorphic to the original's.
    val bad = j.filter(size(col("toks0")) =!= size(col("toks1")) ||
      exists(zip_with(col("toks0"), col("toks1"),
        (a, b) => b =!= concat(a, lit("~1"))), x => x)).count()
    assert(bad == 0)
    // Zero shared tokens across copies -> cross-copy Jaccard candidates 0.
    val shared = j.filter(
      size(array_intersect(col("toks0"), col("toks1"))) > 0).count()
    assert(shared == 0)
    // n_chars was recomputed to match the tagged text.
    val badLen = docs.filter(length(col("text")).cast("long") =!=
      col("n_chars")).count()
    assert(badLen == 0)
  }

  test("event times unchanged; id/user/key spaces disjoint per copy") {
    val ev0 = spark.read.parquet(s"$src/events.parquet")
    val ev1 = spark.read.parquet(s"$out/events.parquet")
    // k× density on the SAME time span: distinct timestamps identical.
    assert(ev1.select("ts").except(ev0.select("ts")).count() == 0)
    // Disjoint id spaces: distinct counts double exactly.
    assert(ev1.select("event_id").distinct.count() ==
      2 * ev0.select("event_id").distinct.count())
    assert(ev1.select("user_id").distinct.count() ==
      2 * ev0.select("user_id").distinct.count())
    val li0 = spark.read.parquet(s"$src/lineitem.parquet")
    val li1 = spark.read.parquet(s"$out/lineitem.parquet")
    assert(li1.select("l_orderkey").distinct.count() ==
      2 * li0.select("l_orderkey").distinct.count())
  }

  test("partial-table inflation builds only the requested tables; a " +
    "subset build is never reused for a fuller request, a full build " +
    "serves subsets") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scalebench-partial").toString
    ScaleBench.inflate(spark, src, dir, 2, Set("embeddings"))
    assert(new java.io.File(s"$dir/embeddings.parquet").exists())
    assert(!new java.io.File(s"$dir/events.parquet").exists(),
      "subset build wrote a table it was not asked for")
    val marker = java.nio.file.Paths.get(s"$dir/_BUILT")
    val tag1 = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(tag1.contains("tables=embeddings"))
    // a fuller request must NOT reuse the partial build
    ScaleBench.inflate(spark, src, dir, 2)
    assert(new java.io.File(s"$dir/events.parquet").exists())
    val tag2 = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(!tag2.contains("tables="), "full rebuild kept the subset tag")
    // and the full build now serves any subset request as a no-op:
    // delete a subset table's dir marker-invisibly? simplest signal —
    // the marker must be unchanged after the subset call
    ScaleBench.inflate(spark, src, dir, 2, Set("documents"))
    val tag3 = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(tag3 == tag2, "subset request against a full build rebuilt")
  }

  test("fitSlope recovers exact power-law exponents") {
    val xs = Seq(1.0, 4.0, 16.0).map(math.log)
    assertApprox(ScaleBench.fitSlope(xs,
      Seq(2.0, 8.0, 32.0).map(math.log)), 1.0)
    assertApprox(ScaleBench.fitSlope(xs,
      Seq(3.0, 48.0, 768.0).map(math.log)), 2.0)
    assertApprox(ScaleBench.fitSlope(xs,
      Seq(5.0, 5.0, 5.0).map(math.log)), 0.0)
  }

  test("widestSegment takes the steepest adjacent pair above the floor " +
    "and ignores overhead-dominated sub-floor segments") {
    // x1->x4 is quadratic but sub-floor (scheduler noise regime);
    // x4->x16 linear; x16->x64 slope 1.41 (the r18 q_pagerank shape)
    val times = Seq(1 -> 0.05, 4 -> 0.8, 16 -> 3.2, 64 -> 22.6)
    val w = ScaleBench.widestSegment(times, 1.0).get
    assertApprox(w, math.log(22.6 / 3.2) / math.log(4.0), 1e-9)
    // all sub-floor: no segment qualifies
    assert(ScaleBench.widestSegment(Seq(1 -> 0.1, 4 -> 0.4), 1.0).isEmpty)
    // an error sentinel poisons the entry
    assert(ScaleBench.widestSegment(
      Seq(1 -> 2.0, 4 -> -1.0, 16 -> 9.0), 1.0).isEmpty)
    // the steepest segment wins even when it is not the top one
    val mid = Seq(1 -> 1.0, 4 -> 16.0, 16 -> 32.0)
    assertApprox(ScaleBench.widestSegment(mid, 1.0).get, 2.0, 1e-9)
  }

  test("resolveInversions re-measures a size reading above its larger " +
    "neighbor (min kept), backs up to expose earlier inversions, and " +
    "re-measures each size at most once") {
    // contaminated x16 (the r18 pack_chunks shape: 2.44 above x64 0.66)
    var measured = List.empty[Int]
    val clean = Map(1 -> 0.1, 4 -> 0.2, 16 -> 0.4, 64 -> 0.66)
    val (fixed, rm) = ScaleBench.resolveInversions(
      Seq(1 -> 0.1, 4 -> 0.2, 16 -> 2.44, 64 -> 0.66),
      k => { measured ::= k; clean(k) })
    assert(rm == List(16) && measured == List(16))
    assert(fixed == Seq(1 -> 0.1, 4 -> 0.2, 16 -> 0.4, 64 -> 0.66))

    // cleaning a midpoint exposes the inversion one step earlier
    val (fixed2, rm2) = ScaleBench.resolveInversions(
      Seq(1 -> 0.3, 4 -> 0.9, 16 -> 0.4),
      k => Map(1 -> 0.3, 4 -> 0.2, 16 -> 0.4)(k))
    assert(rm2.toSet == Set(1, 4), s"got $rm2")
    assert(fixed2 == Seq(1 -> 0.3, 4 -> 0.2, 16 -> 0.4) ||
      fixed2.map(_._2).sliding(2).forall { case Seq(a, b) => a <= b })

    // a PERSISTENT inversion terminates (one re-measure per size) and
    // survives into the output for the nonmonotone stamp
    var calls = 0
    val (fixed3, rm3) = ScaleBench.resolveInversions(
      Seq(1 -> 5.0, 4 -> 1.0),
      _ => { calls += 1; 5.0 })
    assert(calls == 1 && rm3 == List(1))
    assert(fixed3 == Seq(1 -> 5.0, 4 -> 1.0))

    // error sentinels are never "inverted" against
    val (fixed4, rm4) = ScaleBench.resolveInversions(
      Seq(1 -> 2.0, 4 -> -1.0), k => fail(s"must not re-measure x$k"))
    assert(rm4.isEmpty && fixed4 == Seq(1 -> 2.0, 4 -> -1.0))

    // a THROWING re-measure (measureAt's -1.0 sentinel) must not
    // replace a valid clean reading — min(clean, -1.0) would poison
    // the entry (slope null, ok=false) for a transient failure during
    // the repair pass (r19 ADVICE)
    val (fixed5, rm5) = ScaleBench.resolveInversions(
      Seq(1 -> 5.0, 4 -> 1.0), _ => -1.0)
    assert(rm5 == List(1))
    assert(fixed5 == Seq(1 -> 5.0, 4 -> 1.0),
      "failed re-measure must keep the original reading, not the sentinel")
  }

  test("heap stamp guards the uncapped JVM and the floor check runs on " +
    "raw bytes, not the rounded GiB (r18 ADVICE)") {
    // no -Xmx: Runtime.maxMemory() == Long.MaxValue — the old rounding
    // expression overflowed to a large NEGATIVE heap_gb and tripped the
    // <12g warning on an effectively unbounded heap
    assert(Bench.heapGbStamp(Long.MaxValue) == -1L)
    assert(!Bench.heapBelowFloor(Long.MaxValue, 12))
    // nearest-GiB rounding for real caps (collector survivor deduction)
    assert(Bench.heapGbStamp(16L << 30) == 16L)
    assert(Bench.heapGbStamp((16L << 30) - (1L << 29)) == 16L)
    assert(Bench.heapGbStamp(8L << 30) == 8L)
    // a true 11.5g heap rounds UP to 12 — the rounded value passes a
    // >=12 check; under the r19-ADVICE slack (64 MiB/floor-GiB, worst
    // case Serial/Parallel survivor deduction ~heap/30) it sits INSIDE
    // the accepted [floor-slack, floor) silent band, but an 11g heap
    // is still caught on raw bytes
    val g11_5 = (23L << 29)
    assert(Bench.heapGbStamp(g11_5) == 12L)
    assert(!Bench.heapBelowFloor(g11_5, 12))
    assert(Bench.heapBelowFloor(11L << 30, 12))
    // a compliant -Xmx12g run passes even under the WORST-CASE
    // Serial/Parallel maxMemory deduction (one survivor space =
    // young/10 = heap/30 ≈ 410 MiB at 12g — larger than the old fixed
    // 256 MiB slack, which false-warned exactly here)
    assert(!Bench.heapBelowFloor(12L << 30, 12))
    assert(!Bench.heapBelowFloor((12L << 30) - (1L << 27), 12))
    assert(!Bench.heapBelowFloor((12L << 30) - ((12L << 30) / 30), 12))
    // and a 16g protocol run clears a 12g floor with room; an 8g
    // off-protocol run is still loudly below it
    assert(!Bench.heapBelowFloor(16L << 30, 12))
    assert(Bench.heapBelowFloor(8L << 30, 12))
  }

  test("xbatchVerdict bands the streaming irreducible floor: below " +
    "means the mandated trigger work stopped, above means the state " +
    "machinery regressed") {
    assert(Bench.xbatchVerdict(3.6) == "ok")   // the documented floor
    assert(Bench.xbatchVerdict(5.1) == "ok")   // hot-window inflation
    assert(Bench.xbatchVerdict(1.2) == "below")
    assert(Bench.xbatchVerdict(8.0) == "above")
    val (lo, hi) = Bench.XBatchFloorBand
    assert(Bench.xbatchVerdict(lo) == "ok" && Bench.xbatchVerdict(hi) == "ok")
  }
}
