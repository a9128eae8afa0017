package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.operators.Imbalance

/** Structured-Streaming face of the OI family (SURVEY §2.10): the
  * reference is pure batch, but its time-bucketed OI is tumbling-window
  * shaped, so the same conditional-sum aggregation (`Imbalance.oiColumn`)
  * runs over a stream with watermarked event time. "Drop the last
  * incomplete bin"
  * (`/root/reference/order_imbalance.py:324`) becomes emit-on-window-close
  * (append mode); J5 densification is a batch-side concern.
  *
  * Inputs are any streaming DataFrame with (event_time TIMESTAMP, ticker,
  * side INT in {-1,+1}, size) — e.g. `spark.readStream.format("rate")`
  * remapped, a Kafka topic, or a MemoryStream in tests.
  */
object StreamingOi {

  /** Tumbling-window OI per ticker with late-data watermark. Append mode
    * emits each window once, when the watermark passes its end — the
    * streaming twin of "drop the last incomplete bin". */
  def windowedOi(events: DataFrame, delta: String = "5 minutes",
                 watermark: String = "1 minute",
                 timeCol: String = "event_time",
                 side: Column = col("direction"),
                 size: Column = col("size")): DataFrame = {
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), delta), col("ticker"))
      .agg(Imbalance.oiColumn(side, size), count(lit(1)).as("n_events"))
      .select(col("window.start").as("bin_start"),
        col("window.end").as("bin_end"), col("ticker"),
        col("order_imbalance"), col("n_events"))
  }

  /** Running per-ticker state: cumulative buy/sell volume and current OI,
    * updated per micro-batch via mapGroupsWithState (the custom-state
    * mechanism SURVEY §2.10 calls for; no reference analog — extension). */
  final case class TickerState(buy: Double, sell: Double)
  final case class TickerOi(ticker: String, buy: Double, sell: Double,
                            oi: Double)

  def runningOi(events: DataFrame): org.apache.spark.sql.Dataset[TickerOi] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("ticker").as[String],
        col("direction").cast("int").as[Int],
        col("size").cast("double").as[Double])
      .as[(String, Int, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[TickerState, TickerOi](
        GroupStateTimeout.NoTimeout()) {
        case (ticker, rows, state: GroupState[TickerState]) =>
          val prev = state.getOption.getOrElse(TickerState(0.0, 0.0))
          var buy = prev.buy; var sell = prev.sell
          rows.foreach { case (_, dir, sz) =>
            if (dir == -1) buy += sz else sell += sz
          }
          state.update(TickerState(buy, sell))
          val tot = buy + sell
          TickerOi(ticker, buy, sell,
            if (tot == 0) 0.0 else (buy - sell) / tot)
      }
  }

  /** Convenience: write a windowed-OI stream to an in-memory sink (tests /
    * dashboards). Returns the started query. */
  def startMemorySink(oi: DataFrame, queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    oi.writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()

  private val sinkIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Unique in-process sink suffix — gates run the same query several
    * times per session (Verify once, Bench warm-up + reps) and a memory
    * sink's query name must be fresh per start. */
  def nextSinkId(): Int = sinkIds.incrementAndGet()

  /** Finite-replay materializer: run an already-composed streaming
    * aggregation to completion in COMPLETE output mode against an
    * in-memory sink and return the materialized table. This is the
    * stream == batch gate mechanism: a finite parquet replay's
    * complete-mode state is the full aggregation, so the table must
    * equal the batch query bit-for-bit (the q_stream_oi gate
    * hash-matches q_a1_oi's DuckDB oracle through this path).
    *
    * Complete mode — not append — on purpose: on a finite replay the
    * watermark never passes the last window, so append would hold the
    * final bin(s) back forever; the production emit-on-close semantics
    * live in [[windowedOi]] and its spec. Bounded state: the aggregate
    * is O(bins), never O(events). */
  def replayComplete(result: DataFrame, queryName: String): DataFrame = {
    val q = result.writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    result.sparkSession.table(queryName)
  }

  /** Finite-replay materializer for APPEND-mode pipelines — stateless
    * row-local transforms (scoring, decontam tagging, hash sampling) and
    * first-copy dedup, where every emitted row is final the moment it is
    * produced (a dedup filter emits immediately; its watermark only
    * drives state EVICTION, unlike a windowed aggregate that holds rows
    * until close). On a finite replay the appended memory table is
    * therefore the complete result and must equal the batch operator —
    * the q_stream_dedup / q_stream_quality / q_stream_decontam gate
    * mechanism, complementing [[replayComplete]] for aggregations. */
  def replayAppend(result: DataFrame, queryName: String): DataFrame = {
    val q = result.writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    result.sparkSession.table(queryName)
  }

  /** Finite-replay materializer that COUNTS instead of collecting: each
    * micro-batch is forced through a row-counting foreachBatch sink, so
    * nothing accumulates on the driver. This is the scale-probe face of
    * [[replayAppend]] — a k-fold inflated fixture replays at full
    * engine cost (state lookups, eviction, shuffles) while the memory
    * sink's O(output) driver collection, which would dominate and
    * distort the timing at 64x, never happens. Returns a 1-row frame
    * with the emitted-row total so harnesses can force and sanity-check
    * the result. Correctness gates keep using the collecting
    * materializers; this one is for measurement. */
  def replayCounted(result: DataFrame, queryName: String): DataFrame = {
    val total = new java.util.concurrent.atomic.AtomicLong()
    val q = result.writeStream
      .outputMode(OutputMode.Append())
      .queryName(queryName)
      .foreachBatch { (df: DataFrame, _: Long) =>
        total.addAndGet(df.count()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import result.sparkSession.implicits._
    Seq(total.get()).toDF("n_rows")
  }
}
