package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions
import graft.ml.QualityClassifier

/** The round-8 scorers are row-local Column expressions, so they must
  * run VERBATIM on a stream and emit exactly the batch values — the
  * property that lets one curation codebase serve both the backfill
  * and the live-ingest path. */
class StreamingScoringSpec extends SparkSpec {

  import spark.implicits._

  private val rows = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and the fox"),
    (2L, "buy buy buy buy buy now now now"),
    (3L, "a gentle morning in the quiet village by the river"))

  test("quality-classifier scoring and Gopher repetition signals run " +
    "unchanged on a stream and equal the batch values") {
    val scorer = QualityClassifier.LinearScorer(
      Array.tabulate(64)(i => (i % 7 - 3) * 0.25), intercept = 0.1)
    def score(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      QualityClassifier.scoreExpr(col("text"), scorer, 7L).as("p"),
      TextFunctions.dupTokenFrac(col("text")).as("dtf"),
      TextFunctions.topNgramCharFrac(col("text"), 2).as("t2"))

    val batch = score(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = score(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("scored_stream").collect()
        .map(r => r.getLong(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(streamed == batch,
        s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("Bloom membership probe runs unchanged on a stream — the " +
    "live-ingest incremental-dedup prefilter") {
    import graft.operators.Bloom
    val corpus = Seq("seen one", "seen two", "seen three")
      .toDF("text").select(md5(col("text")).as("h"))
    val words = Bloom.build(corpus, col("h"), numBits = 1 << 10)
    val probes = Seq(1L -> "seen one", 2L -> "brand new", 3L -> "seen three")
    def tag(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      Bloom.mightContain(md5(col("text")), words).as("hit"))

    val batch = tag(probes.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = tag(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      input.addData(probes: _*)
      q.processAllAvailable()
      val streamed = spark.table("bloom_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // members definitely hit; the fresh row came through as a miss
      // (no false negative on the stream either)
      assert(streamed(1L) && streamed(3L) && !streamed(2L))
    } finally q.stop()
  }
}
