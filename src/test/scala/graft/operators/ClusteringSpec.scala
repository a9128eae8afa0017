package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ClusteringSpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Double])*) =
    df("id BIGINT, vec ARRAY<DOUBLE>", rows.map(r => Row(r._1, r._2)): _*)

  // three well-separated 2-d blobs; ids interleaved across blobs so the
  // init (3 smallest ids) starts one centroid in each blob
  private def blobs: Seq[(Long, Seq[Double])] = {
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(-10.0, 10.0))
    (0L until 30L).map { i =>
      val c = centers((i % 3).toInt)
      val jitter = Seq(0.01 * (i % 7), 0.01 * (i % 5))
      i -> Seq(c(0) + jitter(0), c(1) + jitter(1))
    }
  }

  test("native argmin kernel is bit-identical to the HOF twin on " +
    "well-formed and degenerate vectors (r20 differential)") {
    val rnd = new scala.util.Random(3)
    val cents = Array.tabulate(5)(c =>
      Array.tabulate(4)(j => rnd.nextGaussian() + c))
    val rows: Seq[(Long, Any)] =
      (0L until 200L).map(i =>
        i -> (Seq.fill(4)(rnd.nextGaussian() * 3): Any)) ++
      Seq[(Long, Any)](
        300L -> null,                                  // null vector
        301L -> Seq(1.0, 2.0),                         // too short
        302L -> Seq.fill(6)(1.0),                      // too long
        303L -> Seq[Any](1.0, null, 3.0, 4.0),         // null element
        304L -> Seq(Double.NaN, 1.0, 2.0, 3.0),        // NaN
        305L -> Seq(Double.PositiveInfinity, 1.0, 2.0, 3.0))
    val base = df("id BIGINT, vec ARRAY<DOUBLE>",
      rows.map(r => Row(r._1, r._2)): _*)
    val both = base.select(col("id"),
        Clustering.assign(col("vec"), cents).as("k"),
        Clustering.assignHof(col("vec"), cents).as("h"))
      .collect()
    both.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"id ${r.getLong(0)}: kernel ${r.getInt(1)} != hof ${r.getInt(2)}")
    }
  }

  test("kmeans separates well-separated blobs (one cluster per blob)") {
    val got = Clustering.kmeans(vecs(blobs: _*), "id", "vec",
        k = 3, maxIter = 3)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all members of a blob agree, and the three blobs get 3 distinct ids
    val byBlob = blobs.map(_._1).groupBy(_ % 3)
      .map { case (b, ids) => b -> ids.map(got).toSet }
    assert(byBlob.values.forall(_.size == 1), s"split blob: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3)
  }

  test("kmeans is layout-stable: repartitioned input, identical assignment") {
    val d = vecs(blobs: _*)
    def run(frame: org.apache.spark.sql.DataFrame) =
      Clustering.kmeans(frame, "id", "vec", k = 3, maxIter = 2)
        .select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(d) == run(d.repartition(7)))
  }

  test("an emptied cluster keeps its previous centroid (no crash, k ids)") {
    // ids 0 and 1 share a vector: init puts two centroids on the same
    // point, every tie goes to cluster 0, cluster 1 empties immediately
    val d = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 0.0),
      2L -> Seq(0.1, 0.0), 3L -> Seq(9.0, 9.0), 4L -> Seq(9.1, 9.0))
    val got = Clustering.kmeans(d, "id", "vec", k = 3, maxIter = 3)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.values.forall(c => c >= 0 && c < 3))
    assert(got(0L) == got(1L)) // identical vectors always co-assign
    assert(got(3L) == got(4L) && got(3L) != got(0L))
  }

  test("kmeans with maxIter=0 assigns against the init vectors") {
    val d = vecs(0L -> Seq(0.0), 1L -> Seq(10.0), 2L -> Seq(0.4),
      3L -> Seq(9.5))
    val got = Clustering.kmeans(d, "id", "vec", k = 2, maxIter = 0)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1))
  }

  test("semDupPairs == brute-force cosine pairs restricted to co-clustered") {
    // near-duplicate pairs planted inside blobs: 100~101, 102~103
    val base = blobs
    // planted pairs are exact scalar multiples (cosine = 1)
    val extra = Seq(
      100L -> Seq(0.001, 0.002), 101L -> Seq(0.002, 0.004),
      102L -> Seq(10.0, 10.001), 103L -> Seq(20.0, 20.002))
    val d = vecs(base ++ extra: _*)
    val assigned = Clustering.kmeans(d, "id", "vec", k = 3, maxIter = 2)
      .select("id", "vec", "cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na > 0 && nb > 0) dot / (na * nb) else 0.0
    }
    val expect = (for {
      (ia, va, ca) <- assigned; (ib, vb, cb) <- assigned
      if ia < ib && ca == cb &&
        math.floor(cos(va, vb) * 1e6 + 0.5) >= math.floor(0.9999 * 1e6 + 0.5)
    } yield (ia, ib)).toSet
    val got = Clustering.semDupPairs(d, "id", "vec", k = 3, maxIter = 2,
        minCosine = 0.9999)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
    assert(got.contains((100L, 101L)) && got.contains((102L, 103L)))
  }

  test("semDedup keeps one representative per semantic-dup component") {
    val d = vecs(
      0L -> Seq(1.0, 0.0), 1L -> Seq(1.0, 0.0001), 2L -> Seq(1.0001, 0.0),
      10L -> Seq(-1.0, 5.0), // far singleton
      20L -> Seq(0.0, -7.0)) // far singleton
    val kept = Clustering.semDedup(d, "id", "vec", k = 3, maxIter = 2,
        minCosine = 0.9999)
      .collect().map(_.getLong(0)).sorted
    // {0,1,2} collapse to 0; singletons survive
    assert(kept.sameElements(Array(0L, 10L, 20L)))
  }

  test("sharded face with ONE shard is bit-identical to flat semDupPairs") {
    val d = vecs(blobs: _*)
    val flat = Clustering.semDupPairs(d, "id", "vec", k = 3, maxIter = 2,
        minCosine = 0.5)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    // n = 30 <= shardSizeTarget => bits = 0, one shard, no sub-split:
    // the composition must reduce EXACTLY to flat (same init, same
    // micro argmin grid, same DECIMAL means, same emptied-cell rule) —
    // including bit-equal cosines
    val sharded = Clustering.semDupPairsSharded(d, "id", "vec",
        shardSizeTarget = 1000, cellsPerShard = 3, maxIter = 2,
        minCosine = 0.5)
      .select(col("id_a"), col("id_b"), col("cell"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(sharded == flat,
      s"only-flat=${(flat -- sharded).take(5)} " +
        s"only-sharded=${(sharded -- flat).take(5)}")
  }

  test("sharded face with MANY shards: each shard's pairs are bit-" +
    "identical to flat semDupPairs on that shard's rows alone") {
    // 120 rows over 3 SRP bits (target 15 => 8 raw shards; none reaches
    // the 4x-target split). Degenerate rows, each with an id too large
    // to seed a centroid (flat init cannot read a null vector): a null
    // vector (id 900), a null element (id 901). ids 0 and 1 share a
    // vector, so their shard seeds two centroids on one point, every tie
    // goes to the smaller cell and cell 1 empties in the first update
    // (keeping its centroid).
    val rnd = new scala.util.Random(11L)
    val rows: Seq[(Long, Any)] =
      Seq[(Long, Any)](0L -> Seq(0.5, 0.5, 0.5), 1L -> Seq(0.5, 0.5, 0.5)) ++
      (2L until 120L).map(i =>
        i -> (Seq.fill(3)(rnd.nextGaussian()): Any)) ++
      Seq[(Long, Any)](900L -> null, 901L -> Seq[Any](0.4, null, 0.6))
    val d = df("id BIGINT, vec ARRAY<DOUBLE>",
      rows.map(r => Row(r._1, r._2)): _*)
    val (target, cells) = (15, 4)
    val sharded = Clustering.semDupPairsSharded(d, "id", "vec",
        shardSizeTarget = target, cellsPerShard = cells, maxIter = 3,
        minCosine = 0.2)
      .select("shard", "id_a", "id_b", "cell", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)))).toSet
    val members = Clustering.shardKeyed(d, "id", "vec", target, 17L, None)
      .select("__sd_s", "__sd_id").collect()
      .groupBy(_.getLong(0)).map { case (s, rs) => s -> rs.map(_.getLong(1)) }
    val flat = members.toSeq.flatMap { case (s, ids) =>
      Clustering.semDupPairs(d.where(col("id").isin(ids: _*)), "id", "vec",
          k = math.min(cells, ids.length), maxIter = 3, minCosine = 0.2)
        .collect().map(r => (s, r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    }.toSet
    // the fixture reaches every degenerate face it claims to
    assert(members.size > 1, "one shard only")
    assert(members.values.exists(_.length < cells),
      s"no shard under $cells rows: ${members.values.map(_.length)}")
    assert(Seq(900L, 901L).forall(i => members.values.exists(_.contains(i))))
    assert(sharded.exists(p => p._2 == 0L && p._3 == 1L))
    assert(sharded.nonEmpty && sharded == flat,
      s"only-flat=${(flat -- sharded).take(5)} " +
        s"only-sharded=${(sharded -- flat).take(5)}")
  }

  test("sharded semDedup: exact duplicates always co-shard (identical " +
    "signature) and collapse; multi-shard run stays correct") {
    // 600 vectors -> multiple shards at target 64; planted exact-dup
    // pairs (i, i+1000) with IDENTICAL vectors — same SRP signature by
    // construction, so blocking can never separate them
    val rows = (0L until 300L).map { i =>
      val v = Seq(math.sin(i * 0.37) * 3, math.cos(i * 0.53) * 3,
        math.sin(i * 0.11 + 1) * 2, math.cos(i * 0.29 + 2) * 2)
      i -> v
    }
    val planted = rows.map { case (i, v) => (i + 1000L) -> v }
    val d = vecs((rows ++ planted): _*)
    val kept = Clustering.semDedupSharded(d, "id", "vec",
        shardSizeTarget = 64, cellsPerShard = 4, maxIter = 2,
        minCosine = 0.999999)
      .collect().map(_.getLong(0)).toSet
    // every planted twin collapses onto its original (smaller id wins)
    assert((0L until 300L).forall(i => kept(i) && !kept(i + 1000L)),
      s"missed twins: ${(0L until 300L).filterNot(i => !kept(i + 1000L)).take(5)}")
  }

  test("sharded blocking recall on planted near-dups: measured curve vs " +
    "the flat face, floors pinned") {
    // The sharded face's one documented tradeoff is BLOCKING RECALL:
    // near-dups landing in different SRP shards are never compared.
    // This fixture makes the loss a measured number instead of prose:
    // 480 deterministic gaussian 32-dim vectors, 120 planted near-dup
    // twins (id+10000, cosine ~0.97 >> the 0.9 gate; random cross-pair
    // cosine at dims=32 is ~5 sigma below 0.9, so planted pairs are the
    // only true pairs). Expected co-shard probability for a planted
    // pair is (1 - theta/pi)^bits ~ 0.92^bits (theta = 0.24 rad), so
    // the analytic curve is ~0.78 at 8 shards, ~0.85 at 4, 1.0 at 1 —
    // the floors sit safely under it. The flat face (k=4) is the
    // blocking-free reference: twins co-cluster almost surely.
    val rnd = new scala.util.Random(421L)
    val dims = 32
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    def gauss(): Array[Double] = Array.fill(dims)(rnd.nextGaussian())
    val base = (0L until 480L).map(i => i -> gauss())
    val twins = base.take(120).map { case (i, v) =>
      val u = gauss()
      (i + 10000L) -> v.zip(u).map { case (x, e) => x + 0.22 * e }
    }
    val d = vecs((base.map { case (i, v) => i -> unit(v) } ++
      twins.map { case (i, v) => i -> unit(v) }): _*)
    val plantedIds = (0L until 120L).toSet
    def foundPairs(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      pairs.select("id_a", "id_b").collect()
        .collect { case r if r.getLong(1) == r.getLong(0) + 10000L =>
          r.getLong(0) }
        .toSet.intersect(plantedIds)
    val flatFound = foundPairs(Clustering.semDupPairs(
      d, "id", "vec", k = 4, maxIter = 2, minCosine = 0.9))
    val flatRecall = flatFound.size / 120.0
    assert(flatRecall >= 0.95, s"flat reference recall $flatRecall")
    // 600 rows: targets 75/150/600 => 8/4/1 shards => 3/2/0 SRP bits
    val recalls = Seq(75, 150, 600).map { target =>
      val got = foundPairs(Clustering.semDupPairsSharded(d, "id", "vec",
        shardSizeTarget = target, cellsPerShard = 4, maxIter = 2,
        minCosine = 0.9))
      val r = got.intersect(flatFound).size.toDouble / flatFound.size
      info(f"shardSizeTarget=$target%4d: recall vs flat = $r%.3f " +
        f"(planted recall ${got.size / 120.0}%.3f)")
      target -> r
    }.toMap
    // floors (analytic curve minus margin) — pinned so a shard-key or
    // sub-split regression that silently drops comparisons FAILS here
    assert(recalls(75) >= 0.60, s"recall@75 = ${recalls(75)}")
    assert(recalls(150) >= 0.70, s"recall@150 = ${recalls(150)}")
    // one shard = the bit-identical flat reduction: recall exactly 1
    assert(recalls(600) == 1.0, s"recall@600 = ${recalls(600)}")
    // more shards must not BUY recall (monotone within noise)
    assert(recalls(75) <= recalls(150) + 0.05)
  }

  test("nHint sizes the shard key without the counting pre-pass and " +
    "preserves results when the hint equals the exact count") {
    val rows = (0L until 120L).map { i =>
      i -> Seq(math.sin(i * 0.37) * 3, math.cos(i * 0.53) * 3,
        math.sin(i * 0.11 + 1) * 2, math.cos(i * 0.29 + 2) * 2)
    }
    val d = vecs(rows: _*)
    def run(hint: Option[Long]) =
      Clustering.semDupPairsSharded(d, "id", "vec", shardSizeTarget = 30,
          cellsPerShard = 2, maxIter = 2, minCosine = 0.5, nHint = hint)
        .select("id_a", "id_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(Some(120L)) == run(None))
    // an APPROXIMATE hint only shifts average shard size — still runs,
    // still returns a sane pair set (subset relation is not guaranteed
    // between different shardings, so assert non-triviality instead)
    assert(run(Some(90L)).nonEmpty)
    intercept[IllegalArgumentException](run(Some(0L)))
  }

  test("an undercounting nHint still sub-splits: hint 1 is not one " +
    "unbounded shard") {
    val rows = (0L until 60L).map(i =>
      i -> Seq(math.sin(i * 0.37) * 3, math.cos(i * 0.53) * 3))
    val pairs = Clustering.semDupPairsSharded(vecs(rows: _*), "id", "vec",
        shardSizeTarget = 5, cellsPerShard = 1, maxIter = 0,
        minCosine = -1.0, nHint = Some(1L))
    val sizes = pairs.select(col("shard"), col("id_a").as("id"))
      .union(pairs.select(col("shard"), col("id_b")))
      .groupBy("shard").agg(countDistinct(col("id")).as("n"))
      .collect().map(_.getLong(1))
    // 60 rows > 4x target 5 => ceil(60 / 10) = 6 hash sub-shards of ~10;
    // the unsplit shard would hold all 60
    assert(sizes.length > 1, "hinted run kept all rows in one shard")
    assert(sizes.max <= 20, s"largest shard ${sizes.max} rows")
  }

  test("sharded face sub-splits a pathologically skewed shard") {
    // all vectors in the same orthant => ONE sign bucket regardless of
    // bits; with n >> 4x target the splitter must engage (no blow-up,
    // correct dedup within sub-shards not asserted — only the bound)
    val rows = (0L until 200L).map(i =>
      i -> Seq(1.0 + 0.001 * i, 2.0 + 0.002 * (i % 7), 0.5, 1.5))
    val d = vecs(rows: _*)
    val pairs = Clustering.semDupPairsSharded(d, "id", "vec",
        shardSizeTarget = 10, cellsPerShard = 2, maxIter = 1,
        minCosine = 0.0)
    val maxShard = pairs.groupBy(col("shard"))
      .agg(countDistinct(col("id_a")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    // 200 ids in one sign bucket, target 10 => splits = ceil(200/20)=10
    // sub-shards of ~20 each; without the splitter this reads ~199
    assert(maxShard < 80, s"skewed shard not sub-split: $maxShard")
  }
}
