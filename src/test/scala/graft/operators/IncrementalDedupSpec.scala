package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class IncrementalDedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) =
    df("doc_id BIGINT, text STRING", rows.map(r => Row(r._1, r._2)): _*)

  test("dedupAgainst: corpus copies dropped, then within-batch dedup") {
    val corpus = docs(1L -> "alpha beta", 2L -> "gamma delta")
    val batch = docs(10L -> "gamma delta", // already in corpus
      11L -> "epsilon zeta", 12L -> "epsilon zeta", // batch-internal dup
      13L -> "fresh text")
    val idx = IncrementalDedup.exactIndex(corpus, "text")
    val kept = IncrementalDedup.dedupAgainst(batch, idx, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(11L, 13L)))
  }

  test("exactIndex is distinct and reusable across batches") {
    val corpus = docs(1L -> "x", 2L -> "x", 3L -> "y")
    val idx = IncrementalDedup.exactIndex(corpus, "text")
    assert(idx.count() == 2L)
    // growing the corpus = union of indexes, still just hashes
    val more = IncrementalDedup.exactIndex(docs(4L -> "z"), "text")
    assert(idx.union(more).distinct().count() == 3L)
  }

  test("nearDupAgainst == self-join LSH pairs restricted to cross pairs") {
    // seeded corpus: some docs shared between "corpus" and "batch" with
    // small edits -> both paths must flag the same cross pairs
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def doc(seed: Int): String =
      (0 until 20).map(i => vocab((seed * 31 + i * 7) % vocab.size))
        .mkString(" ")
    val corpusRows = (0L until 15L).map(i => i -> doc(i.toInt))
    val batchRows = (100L until 110L).map { i =>
      val base = doc((i - 100L).toInt) // near-identical to corpus doc
      val edited =
        if (i % 2 == 0) base else base + " " + vocab(rnd.nextInt(vocab.size))
      i -> edited
    }
    val corpus = docs(corpusRows: _*)
    val batch = docs(batchRows: _*)
    val sigOf = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id").as("id"),
        Dedup.minHashSignature(col("text"), n = 3, k = 32).as("sig"))
    val cross = IncrementalDedup.nearDupAgainst(
        sigOf(batch), sigOf(corpus), bands = 8, rowsPerBand = 4,
        minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: self-join over the union, keep (batch, corpus) pairs
    val self = Dedup.minHashLshPairs(batch.union(corpus), "doc_id",
        "text", n = 3, bands = 8, rowsPerBand = 4)
      .filter(col("est_jaccard") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect { // normalize to (batch_id, corpus_id)
        case (a, b) if a >= 100L && b < 100L => (a, b)
        case (a, b) if b >= 100L && a < 100L => (b, a)
      }.toSet
    assert(cross == self)
    assert(cross.nonEmpty) // the fixture genuinely plants near-dups
  }

  test("nearDupAgainst: empty docs (all-null signatures) never pair") {
    // concat_ws maps an all-null band slice to "", so without the live-
    // signature filter every empty batch doc would meet every empty
    // corpus doc in one bucket per band, at est_jaccard 0.0
    val sigOf = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id").as("id"),
        Dedup.minHashSignature(col("text"), n = 3, k = 32).as("sig"))
    val batch = docs(100L -> "", 101L -> "", 102L -> "")
    val corpus = docs(1L -> "", 2L -> "", 3L -> "")
    val pairs = IncrementalDedup.nearDupAgainst(
      sigOf(batch), sigOf(corpus), bands = 8, rowsPerBand = 4)
    assert(pairs.count() == 0L)
  }

  test("filterFlagged drops flagged batch rows, keeps the rest") {
    val batch = docs(1L -> "a", 2L -> "b", 3L -> "c")
    val flagged = df("new_id BIGINT, corpus_id BIGINT",
      Row(2L, 50L), Row(2L, 51L))
    val kept = IncrementalDedup.filterFlagged(batch, "doc_id", flagged)
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L, 3L)))
  }
}
