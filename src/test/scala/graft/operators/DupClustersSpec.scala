package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DupClustersSpec extends SparkSpec {

  private def pairs(rows: (Long, Long)*) =
    df("id_a BIGINT, id_b BIGINT", rows.map(r => Row(r._1, r._2)): _*)

  private def labelsOf(p: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    DupClusters.connectedComponents(p, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find reference. */
  private def bruteForce(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("two components and transitivity: A~B~C collapses to min label") {
    val got = labelsOf(pairs(1L -> 2L, 2L -> 3L, 10L -> 11L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain (diameter 60) converges to one cluster") {
    val chain = (0L until 60L).map(i => i -> (i + 1))
    val got = labelsOf(pairs(chain: _*))
    assert(got.size == 61 && got.values.forall(_ == 0L))
  }

  test("maxIter hit before convergence: still exactly one label per " +
    "node (no downstream join fan-out), labels within the component") {
    val chain = (0L until 60L).map(i => i -> (i + 1))
    val labels = DupClusters.connectedComponents(pairs(chain: _*),
      "id_a", "id_b", maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byNode = labels.groupBy(_._1)
    assert(byNode.values.forall(_.length == 1),
      s"nodes with multiple labels: ${byNode.filter(_._2.length > 1).keys}")
    assert(labels.length == 61)
    // every label is a member of the (single) component
    assert(labels.forall { case (_, c) => c >= 0L && c <= 60L })
  }

  test("pair order / direction / duplicate edges do not matter") {
    val a = labelsOf(pairs(3L -> 1L, 1L -> 2L, 2L -> 3L, 1L -> 3L))
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty pair table yields empty labels") {
    assert(labelsOf(pairs()).isEmpty)
  }

  test("differential vs driver union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 80 + trial * 40
      val edges = Seq.fill(n)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
      val got = labelsOf(pairs(edges: _*))
      assert(got == bruteForce(edges), s"trial $trial")
    }
  }

  test("assignClusters labels singletons with their own id") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "a"), Row(2L, "b"), Row(3L, "c"), Row(9L, "solo"))
    val labels = DupClusters.connectedComponents(
      pairs(1L -> 2L, 2L -> 3L), "id_a", "id_b")
    val got = DupClusters.assignClusters(d, "doc_id", labels).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("dedupByCluster keeps the best-ranked row per component") {
    val d = df("doc_id BIGINT, quality DOUBLE",
      Row(1L, 0.2), Row(2L, 0.9), Row(3L, 0.5), Row(9L, 0.1))
    val kept = DupClusters.dedupByCluster(d, "doc_id",
        pairs(1L -> 2L, 2L -> 3L), "id_a", "id_b",
        orderBy = Seq(col("quality").desc))
      .collect().map(_.getLong(0)).sorted
    // cluster {1,2,3}: highest quality is doc 2; singleton 9 survives
    assert(kept.sameElements(Array(2L, 9L)))
  }

  test("leakageSafeSplitTag: every member of a cluster gets the same tag") {
    val d = df("doc_id BIGINT, text STRING",
      (0L until 40L).map(i => Row(i, s"doc $i")): _*)
    // chains {0..3}, {10,11}, rest singletons
    val p = pairs(0L -> 1L, 1L -> 2L, 2L -> 3L, 10L -> 11L)
    val got = DupClusters.leakageSafeSplitTag(d, "doc_id", p,
        "id_a", "id_b", testFraction = 0.5, seed = 3L)
      .select("doc_id", "cluster_id", "is_test").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // cluster members agree with their root's tag
    for ((m, root) <- Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
                          10L -> 10L, 11L -> 10L)) {
      assert(got(m)._1 == root)
      assert(got(m)._2 == got(root)._2, s"member $m disagrees with $root")
    }
    // the tag is the cluster-id hash — identical to tagging the roots
    // row-wise (differential vs hashSplitTag on the cluster column)
    val viaRowSplit = Sampling.hashSplitTag(
        DupClusters.assignClusters(d, "doc_id",
          DupClusters.connectedComponents(p, "id_a", "id_b")),
        "cluster_id", 0.5, seed = 3L)
      .select("doc_id", "is_test").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.view.mapValues(_._2).toMap == viaRowSplit)
    // both sides populated at this fraction
    val tags = got.values.map(_._2).toSet
    assert(tags == Set(true, false))
  }

  test("driver union-find fast path labels bit-identically to the " +
    "distributed star-contraction path (r20 differential)") {
    val rnd = new scala.util.Random(7)
    // chains (deep), a star, a clique, random noise, and duplicates —
    // the shapes that distinguish a wrong union rule
    val edges = (0L until 40L).map(i => i -> (i + 1)) ++
      (100L to 110L).map(100L -> _) ++
      (for (a <- 200L to 205L; b <- 200L to 205L if a < b) yield a -> b) ++
      Seq.fill(60)((rnd.nextInt(50).toLong + 300L,
        rnd.nextInt(50).toLong + 300L)).filter(e => e._1 != e._2) ++
      Seq(0L -> 1L, 1L -> 0L) // duplicate + reversed
    val p = pairs(edges: _*)
    val fast = labelsOf(p) // default: small input takes the driver path
    val dist =
      try {
        System.setProperty("graft.noSmallInputFastPaths", "1")
        labelsOf(p)
      } finally System.clearProperty("graft.noSmallInputFastPaths")
    assert(fast == dist)
    assert(fast == bruteForce(edges))
  }

  test("fast paths off takes the distributed path; labels unchanged") {
    val p = pairs(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val dist =
      try {
        System.setProperty("graft.noSmallInputFastPaths", "1")
        labelsOf(p)
      } finally System.clearProperty("graft.noSmallInputFastPaths")
    assert(dist ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("int-typed pairs keep int-typed labels on the fast path") {
    val p = df("id_a INT, id_b INT", Row(1, 2), Row(2, 3))
    val labels = DupClusters.connectedComponents(p, "id_a", "id_b")
    import org.apache.spark.sql.types.IntegerType
    assert(labels.schema("id").dataType == IntegerType)
    assert(labels.schema("cluster_id").dataType == IntegerType)
    val got = labels.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("dedupByCluster tie on rank falls back to ascending id") {
    val d = df("doc_id BIGINT, quality DOUBLE",
      Row(5L, 0.5), Row(4L, 0.5))
    val kept = DupClusters.dedupByCluster(d, "doc_id", pairs(4L -> 5L),
        "id_a", "id_b", orderBy = Seq(col("quality").desc))
      .collect().map(_.getLong(0))
    assert(kept.sameElements(Array(4L)))
  }
}
