package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DecontamSpec extends SparkSpec {

  // benchmark: one eval question. Docs: 1 contains it verbatim, 2 shares
  // a clause, 3 is clean, 4 is too short for any 3-gram, 5 is null.
  private val benchText = "what is the capital of france and when was it founded"

  private def bench() = df("q STRING", Row(benchText))

  private def docs() = df("doc_id BIGINT, text STRING",
    Row(1L, s"some prose then $benchText and more prose after"),
    Row(2L, "nobody knows the capital of france and the reason why"),
    Row(3L, "a completely unrelated document about gardening in spring"),
    Row(4L, "too short"),
    Row(5L, null))

  test("contaminationScores counts distinct shared 3-grams per doc and " +
    "omits clean docs") {
    val scores = Decontam.contaminationScores(docs(), bench(), "doc_id",
        "text", benchTextCol = "q", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 embeds the full 11-token question: all 9 of its 3-grams plus
    // the 4 straddling ones ("prose then what", "then what is",
    // "it founded and", "founded and more") — only the contained 9 match
    assert(scores(1L) == 9L, s"doc 1 overlap ${scores.get(1L)}")
    // doc 2 shares exactly "the capital of", "capital of france",
    // "of france and"
    assert(scores(2L) == 3L, s"doc 2 overlap ${scores.get(2L)}")
    assert(!scores.contains(3L) && !scores.contains(4L) &&
      !scores.contains(5L), s"clean docs leaked into $scores")
  }

  test("overlap_frac scales by the doc's own distinct n-gram count") {
    val fracs = Decontam.contaminationScores(docs(), bench(), "doc_id",
        "text", benchTextCol = "q", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 1: 12 tokens of padding + 10 question tokens = 16 distinct
    // 3-grams (18 positions, all distinct... computed below); assert via
    // reconstruction instead of a magic number
    val nGrams1 = docs().filter(col("doc_id") === 1L)
      .select(size(Dedup.shingles(col("text"), 3))).head().getInt(0)
    assertApprox(fracs(1L), 9.0 / nGrams1)
    assert(fracs(2L) > 0.0 && fracs(2L) < 1.0)
  }

  test("tagContamination's native static-set kernel is bit-equal to the " +
    "intersect face — toy edge cases AND the real documents table") {
    val grams = Decontam.benchGramSet(bench(), "q")
    // toy frame covers: verbatim containment, partial overlap, clean,
    // too-short-for-any-gram, and null text
    val toyNative = Decontam.tagContamination(docs(), grams, "text")
      .select("doc_id", "n_overlap").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val toyTwin = Decontam.tagContaminationIntersect(docs(), grams, "text")
      .select("doc_id", "n_overlap").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(toyNative == toyTwin, s"native $toyNative != twin $toyTwin")
    assert(toyNative(4L) == 0 && toyNative(5L) == 0) // short + null -> 0
    // real corpus differential at sf0.001 with the gate's own gram set
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val realGrams = Decontam.benchGramSet(
      real.filter(pmod(col("doc_id"), lit(53L)) === 0)
        .select(col("text").as("q")), "q")
    val joined = Decontam
      .tagContamination(real, realGrams, "text", outCol = "a")
      .select(col("doc_id"), col("a"))
      .join(Decontam
        .tagContaminationIntersect(real, realGrams, "text", outCol = "b")
        .select(col("doc_id"), col("b")), Seq("doc_id"))
    assert(joined.filter(col("a") =!= col("b")).count() == 0)
    assert(joined.filter(col("a") > 0).count() > 0,
      "differential is vacuous: no overlapping doc in the corpus")
  }

  test("decontaminate drops docs at/above minOverlap and keeps the rest " +
    "(null and short docs always survive)") {
    val kept = Decontam.decontaminate(docs(), bench(), "doc_id", "text",
        benchTextCol = "q", n = 3, minOverlap = 4L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L, 5L)) // only doc 1 reaches 4 shared
    val strict = Decontam.decontaminate(docs(), bench(), "doc_id", "text",
        benchTextCol = "q", n = 3, minOverlap = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(3L, 4L, 5L))
  }

  // --- semanticContamination ---

  private def vecs(rows: (Long, Seq[Double])*) =
    df("id BIGINT, v ARRAY<DOUBLE>",
      rows.map { case (i, xs) =>
        Row(i, if (xs == null) null else xs)
      }: _*)

  test("semanticContamination flags max-cosine >= threshold against ANY " +
    "eval vector; clean and orthogonal rows stay unflagged") {
    val corpus = vecs(
      1L -> Seq(1.0, 0.0),            // identical to eval a → cos 1
      2L -> Seq(0.8, 0.6),            // cos 0.8 to a, 0.6 to b
      3L -> Seq(0.0, 1.0),            // identical to eval b → cos 1
      4L -> Seq(-1.0, 0.0))           // cos -1 / 0 → clean
    val eval = vecs(10L -> Seq(1.0, 0.0), 11L -> Seq(0.0, 1.0))
    val out = Decontam.semanticContamination(corpus, eval.select(col("v")),
        "id", "v", "v", threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(3L)._2)
    assert(!out(2L)._2 && !out(4L)._2)
    assert(approx(out(2L)._1, 0.8))   // max over BOTH eval vectors
    assert(approx(out(4L)._1, 0.0))
  }

  test("semanticContamination: zero-norm vectors never flag (null cosine)") {
    val corpus = vecs(1L -> Seq(0.0, 0.0), 2L -> Seq(1.0, 0.0))
    val eval = vecs(10L -> Seq(1.0, 0.0))
    val out = Decontam.semanticContamination(corpus, eval.select(col("v")),
        "id", "v", "v", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(!out(1L) && out(2L))
  }
}
