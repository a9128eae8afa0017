package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

import Fixtures._
import Shared._

/** Structured Streaming gates: finite replays of the tables or of
  * fixtures, each gated against its batch twin's oracle. */
object StreamingGates {

  // bench-gram set of q_stream_decontam, memoized per sf dir
  private val decontamGramCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Run `f` with the session's shuffle-partition count — which fixes a
    * streaming query's STATE partitioning at start — temporarily set to
    * `n`. State-store fixed cost per partition per micro-batch dominates
    * these bounded-state finite replays (measured on q_stream_join at
    * sf0.1: 6.5 s at 16 state partitions, 3.7 s at 8, 2.7 s at 4 — same
    * ~40k-row state). Results are partitioning-independent; at cluster
    * scale the same knob goes UP with state volume.
    * SEQUENTIAL-ONLY: this mutates the shared session's conf and restores
    * it in finally — safe because gate queries plan strictly one at a
    * time (Verify and Bench both iterate serially). A future parallel
    * harness must scope the override per query (SparkSession.newSession)
    * instead of calling this. */
  private def withStatePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Finite append-mode replay of `df` into a fresh memory sink
    * `graft_stream_<name>_<id>`, at 8 state partitions. */
  private def replayAppend(s: SparkSession, df: DataFrame, name: String)
      : DataFrame = withStatePartitions(s, 8) {
    graft.streaming.StreamingOi.replayAppend(df,
      s"graft_stream_${name}_" + graft.streaming.StreamingOi.nextSinkId())
  }

  /** [[replayAppend]] in complete output mode. */
  private def replayComplete(s: SparkSession, df: DataFrame, name: String)
      : DataFrame = withStatePartitions(s, 8) {
    graft.streaming.StreamingOi.replayComplete(df,
      s"graft_stream_${name}_" + graft.streaming.StreamingOi.nextSinkId())
  }

  /** `table` of the sf dir as a file stream; the streaming file source
    * wants a directory, so the sf dir is glob-filtered to the table. */
  private def tableStream(s: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)

  /** A replay fixture directory as a stream of one file per trigger. */
  private def fileByFileStream(s: SparkSession, root: String): DataFrame =
    s.readStream.schema(s.read.parquet(root).schema)
      .option("maxFilesPerTrigger", "1").parquet(root)

  val gates: Seq[Gate] = Seq(

    // --- §2.10: the SAME hourly-OI aggregation through the Structured
    //     Streaming engine — finite parquet replay, complete-mode memory
    //     sink — hash-matched against q_a1_oi's batch oracle. The gate
    //     that promotes the stream==batch spec pattern to the driver ---
    Gate("q_stream_oi", (s, dir) => {
      // batch loader first: resolves the on-disk ts layout (legacy LONG
      // epoch-ns or TIMESTAMP micros) so the streaming schema matches
      val stream = tableStream(s, dir, "events", Tables.events(s, dir).schema)
      val ev = Tables.tsToNs(stream).withColumnRenamed("ts", "ts_ns")
        .withColumn("bin_ns", TimeBins.ceilNs(col("ts_ns"), H))
      val oi = Imbalance.orderImbalance(ev, Seq(col("bin_ns")),
          side(col("event_type")), col("value"))
        .select(col("bin_ns"), r6(col("order_imbalance")).as("oi_micro"))
      replayComplete(s, oi, "oi")
    },
      // identical to q_a1_oi's oracle: the streaming replay must reproduce
      // the batch aggregation bit-for-bit
      s"""WITH e AS ($EventsNs)
         |SELECT ${CeilNs("ts_ns", H)} AS bin_ns,
         |  ${R6(s"(SUM(CASE WHEN $Side = -1 THEN value ELSE 0 END) - SUM(CASE WHEN $Side = 1 THEN value ELSE 0 END)) / NULLIF(SUM(CASE WHEN $Side = -1 THEN value ELSE 0 END) + SUM(CASE WHEN $Side = 1 THEN value ELSE 0 END), 0)")} AS oi_micro
         |FROM e GROUP BY 1""".stripMargin),

    // --- §2.10: the EVICTION face of streaming dedup — state for a key
    //     lives exactly one watermark horizon: an in-batch duplicate and
    //     a re-arrival of a still-live key drop; a re-arrival AFTER the
    //     horizon is kept again (the documented at-least-once
    //     trade-off); a sub-watermark row drops as late. The oracle is
    //     the exact expected kept set, so any deviation — a resurrected
    //     duplicate, a lost re-arrival, a kept late row — hash-misses ---
    Gate("q_stream_dedup_late", (s, dir) => {
      val root = streamDedupLateFixture(s, dir)
      val stream = fileByFileStream(s, root)
      val kept = graft.streaming.StreamingDedup.firstCopy(stream,
        "content", "event_time", "1 hour")
      replayAppend(s, kept, "dl")
        .select(col("event_id").as("k"), col("ts_ns"), col("value"))
    },
      // the dedup-eviction face: the exact expected kept set — every
      // key's first copy, the fresh-key sentinel, and precisely the
      // re-arrivals whose originals predate the eviction horizon
      s"""WITH e AS ($EventsNs),
         |mx AS (SELECT MAX(ts_ns) AS mt FROM e)
         |SELECT event_id AS k, ts_ns, value FROM e
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS k, (SELECT mt FROM mx) AS ts_ns,
         |  0.0 AS value
         |UNION ALL
         |SELECT event_id AS k, (SELECT mt FROM mx) - $M30 AS ts_ns, value
         |FROM e WHERE event_id % 7 = 0
         |  AND ts_ns < (SELECT mt FROM mx) - ${3 * H}""".stripMargin),

    // --- §2.10: the WATERMARK face of windowedOi — out-of-order events
    //     injected mid-replay: late rows INSIDE the 1 h watermark must be
    //     absorbed into their (still-open) window, rows HOURS past it
    //     must drop; append emits each window once on close. The oracle
    //     is the batch aggregation over exactly the absorbable rows, so
    //     a stream that kept a hopeless row (or lost a recoverable one)
    //     hash-mismatches ---
    Gate("q_stream_oi_late", (s, dir) => {
      val root = streamOiLateFixture(s, dir)
      val stream = fileByFileStream(s, root)
      val oi = graft.streaming.StreamingOi.windowedOi(stream,
        delta = "1 hour", watermark = "1 hour")
      replayAppend(s, oi, "oilate")
        .filter(col("ticker") =!= "~flush~")
        .select((unix_micros(col("bin_start")) * 1000L).as("bin_ns"),
          col("ticker"),
          r6(col("order_imbalance")).as("oi_micro"),
          col("n_events"))
    },
      // the watermark face: batch aggregation over exactly the rows a
      // correct watermark replay absorbs — the on-time bulk plus the
      // recoverable late rows (re-timed to maxT - 30 min), never the
      // hopeless ones (rewound to the long-closed first window)
      s"""WITH e AS ($EventsNs),
         |b AS (
         |  SELECT event_id, ts_ns,
         |    CAST(user_id % 5 AS VARCHAR) AS ticker,
         |    ($Side) AS side, value AS size
         |  FROM e),
         |mx AS (SELECT MAX(ts_ns) AS mt FROM b WHERE event_id % 7 <> 0),
         |kept AS (
         |  SELECT ticker, side, size, ts_ns FROM b WHERE event_id % 7 <> 0
         |  UNION ALL
         |  SELECT ticker, side, size,
         |    (SELECT mt FROM mx) - $M30 AS ts_ns
         |  FROM b WHERE event_id % 7 = 0 AND event_id % 14 <> 0)
         |SELECT (ts_ns // $H) * $H AS bin_ns, ticker,
         |  ${R6("(SUM(CASE WHEN side = -1 THEN size ELSE 0 END) - SUM(CASE WHEN side = 1 THEN size ELSE 0 END)) / NULLIF(SUM(CASE WHEN side = -1 THEN size ELSE 0 END) + SUM(CASE WHEN side = 1 THEN size ELSE 0 END), 0)")} AS oi_micro,
         |  COUNT(*) AS n_events
         |FROM kept GROUP BY 1, 2""".stripMargin),

    // --- §2.10: STREAM-STREAM left-outer interval join — the one big
    //     Structured Streaming primitive the other gates don't touch:
    //     each click joined to same-user purchases within the following
    //     hour, with watermarked state on BOTH sides; unmatched clicks
    //     emit their null row only when the purchase watermark proves no
    //     match can still arrive. Finite replay + sentinel pairs, gated
    //     against the batch LEFT JOIN twin ---
    Gate("q_stream_join", (s, dir) => {
      val root = streamJoinFixture(s, dir)
      val schema = s.read.parquet(root).schema
      // no maxFilesPerTrigger: everything (sentinels included) lands in
      // ONE batch — inner matches emit there, the watermark computed
      // from it covers every click, and the engine's no-data batch then
      // emits all outer null rows. Each extra micro-batch costs ~2.5 s
      // of state-store commit at sf0.1 (measured), and per-file
      // progression adds nothing here: join results don't depend on
      // arrival order, only on the final watermark.
      def sideStream(t: String): DataFrame =
        s.readStream.schema(schema)
          .parquet(root).filter(col("event_type") === t)
      val clicks = sideStream("click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_ns").as("c_ts"), col("event_time").as("c_time"))
        .withWatermark("c_time", "1 hour")
      val purchases = sideStream("purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts_ns").as("p_ts"),
          col("event_time").as("p_time"))
        .withWatermark("p_time", "1 hour")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND p_time >= c_time AND " +
          "p_time <= c_time + interval 1 hour"),
        "left_outer")
      replayAppend(s, joined, "join")
        .filter(col("user_id") >= 0)
        .select(col("click_id"), col("user_id"), col("c_ts"),
          col("purchase_id"), col("p_ts"))
    },
      // the stream-stream outer join vs the plain batch LEFT JOIN on the
      // same interval condition — engine parity incl. the null face
      s"""WITH e AS ($EventsNs),
         |c AS (SELECT event_id AS click_id, user_id, ts_ns AS c_ts
         |  FROM e WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts_ns AS p_ts
         |  FROM e WHERE event_type = 'purchase')
         |SELECT c.click_id, c.user_id, c.c_ts, p.purchase_id, p.p_ts
         |FROM c LEFT JOIN p ON c.user_id = p.user_id
         |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + ${H}""".stripMargin),

    // --- §2.10: CROSS-BATCH face of the stream-stream join — same join,
    //     replayed one file per micro-batch with synthetic purchases
    //     arriving a batch AFTER their clicks (inside the window, above
    //     the watermark). Proves the symmetric join state survives batch
    //     boundaries: dropped click state would surface as outer null
    //     rows where the batch LEFT JOIN twin has matches ---
    Gate("q_stream_join_xbatch", (s, dir) => {
      val root = streamJoinXbatchFixture(s, dir)
      val schema = s.read.parquet(root).schema
      def sideStream(t: String): DataFrame =
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(root).filter(col("event_type") === t)
      val clicks = sideStream("click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_ns").as("c_ts"), col("event_time").as("c_time"))
        .withWatermark("c_time", "1 hour")
      val purchases = sideStream("purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts_ns").as("p_ts"),
          col("event_time").as("p_time"))
        .withWatermark("p_time", "1 hour")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND p_time >= c_time AND " +
          "p_time <= c_time + interval 1 hour"),
        "left_outer")
      replayAppend(s, joined, "joinx")
        .filter(col("user_id") >= 0)
        .select(col("click_id"), col("user_id"), col("c_ts"),
          col("purchase_id"), col("p_ts"))
    },
      // the cross-batch face: the same LEFT JOIN, with both sides extended
      // by the fixture's probe pairs (disjoint 1e6+ user range; click in
      // batch 0 at maxT - 50 min, purchase in batch 1 at maxT - 30 min)
      s"""WITH e AS ($EventsNs),
         |b AS (SELECT event_id, user_id, ts_ns, event_type FROM e
         |  WHERE event_type IN ('click', 'purchase')),
         |mx AS (SELECT MAX(ts_ns) AS mt FROM b),
         |pr AS (SELECT event_id, 1000000 + event_id AS user_id FROM b
         |  WHERE event_id % 13 = 0),
         |c AS (
         |  SELECT event_id AS click_id, user_id, ts_ns AS c_ts
         |  FROM b WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT -1000000 - event_id AS click_id, user_id,
         |    (SELECT mt FROM mx) - ${5 * M10} AS c_ts FROM pr),
         |p AS (
         |  SELECT event_id AS purchase_id, user_id, ts_ns AS p_ts
         |  FROM b WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT -2000000 - event_id AS purchase_id, user_id,
         |    (SELECT mt FROM mx) - $M30 AS p_ts FROM pr)
         |SELECT c.click_id, c.user_id, c.c_ts, p.purchase_id, p.p_ts
         |FROM c LEFT JOIN p ON c.user_id = p.user_id
         |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + ${H}""".stripMargin),

    // --- §2.10: streaming iceberg-refill tagging — the
    //     flatMapGroupsWithState state machine (J3's streaming twin)
    //     replayed over the events table and hash-matched against the
    //     batch forward-as-of oracle restricted to the tag surface.
    //     clicks play the visible execs (type 4), purchases the
    //     refilling submits (type 1), user_id the (ticker, price) key.
    //     Two far-future sentinel flush files force the watermark past
    //     every exec's tolerance window, so unmatched execs provably
    //     emit their timeout iceberg=0 rows before the replay ends —
    //     EVERY click appears exactly once, matched or not ---
    Gate("q_stream_iceberg", (s, dir) => {
      val root = streamIcebergFixture(s, dir)
      val stream = fileByFileStream(s, root)
      val tagged = graft.streaming.StreamingIceberg
        .tagStream(stream, H, watermark = "10 seconds")
        .filter(col("ticker") =!= "~flush~")
        .select(col("execId").as("event_id"),
          col("ticker").cast("long").as("user_id"),
          col("tsNs").as("ts_ns"),
          col("iceberg").cast("long").as("matched"))
      replayAppend(s, tagged, "ice")
    },
      // the streaming iceberg state machine vs the batch forward-as-of
      // match indicator — q_j3_asof's oracle restricted to the tag surface
      s"""WITH e AS ($EventsNs)
         |SELECT l.event_id, l.user_id, l.ts_ns,
         |  CAST((SELECT MIN(r.ts_ns) FROM e r
         |   WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
         |     AND r.ts_ns >= l.ts_ns AND r.ts_ns <= l.ts_ns + ${H})
         |   IS NOT NULL AS BIGINT) AS matched
         |FROM e l WHERE l.event_type = 'click'""".stripMargin),

    // --- §2.10: streaming sessionization — the SAME gaps-and-islands
    //     sessions via the engine's native session_window (merging
    //     session state, complete mode on the finite replay),
    //     hash-matched against q_sessionize's batch oracle. Gap contract:
    //     the batch rule keeps a session when gap <= 30 min, while
    //     session_window merges on strict <, so the stream gap is
    //     30 min + 1 us (ts is us-truncated — see eventsNs), making the
    //     two rules identical. The per-user session INDEX is presentation
    //     (row_number over the materialized session starts); the sessions
    //     themselves — bounds, counts, sums — come out of the streaming
    //     state store ---
    Gate("q_stream_sessionize", (s, dir) => {
      val stream = tableStream(s, dir, "events",
        Tables.events(s, dir).schema)
      val ev = Tables.tsToNs(stream).withColumnRenamed("ts", "ts_ns")
        .withColumn("event_time",
          timestamp_micros(expr("ts_ns div 1000")))
      val sess = ev
        .groupBy(session_window(col("event_time"),
          "30 minutes 1 microseconds"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ns")).as("session_start"),
          max(col("ts_ns")).as("session_end"),
          moneySum(col("value")).as("sum_value"))
        .select(col("user_id"), col("n_events"), col("session_start"),
          col("session_end"), col("sum_value"))
      val mat = replayComplete(s, sess, "sess")
      // session windows of one user are disjoint, so session_start alone
      // is already a total order; session_end in the orderBy makes the
      // determinism self-evident rather than a disjointness argument
      mat.withColumn("session_id",
          (row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("session_start"), col("session_end"))) - 1)
            .cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"), col("session_end"),
          (col("session_end") - col("session_start")).as("duration_ns"),
          col("sum_value"))
    },
      // identical to q_sessionize's oracle: the engine's merging
      // session-window state must reproduce the batch gaps-and-islands
      s"""WITH e AS ($EventsNs),
         |tagged AS (
         |  SELECT user_id, ts_ns, value,
         |    CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > ${30L * 60 * 1000000000L}
         |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
         |          ORDER BY ts_ns, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
         |  FROM (SELECT user_id, event_id, ts_ns, value,
         |    LAG(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev_ts
         |    FROM e))
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts_ns) AS session_start, MAX(ts_ns) AS session_end,
         |  MAX(ts_ns) - MIN(ts_ns) AS duration_ns,
         |  ${MoneySum("value")} AS sum_value
         |FROM tagged GROUP BY 1, 2""".stripMargin),

    // --- §2.10: streaming HLL — the register sketch maintained BY the
    //     streaming engine (bounded state: groups x 2^p rows, max-rho
    //     is an algebraic agg), estimate read off the materialized
    //     registers. Registers are set-semantics (max), so the stream
    //     result equals the batch sketch exactly and the batch HLL
    //     oracle twin gates the streaming engine itself ---
    Gate("q_stream_hll", (s, dir) => {
      val stream = tableStream(s, dir, "events",
        Tables.events(s, dir).schema)
      val regs = Sketches.hllSketch(stream, Seq("event_type"), "user_id",
        p = 10, seed = 4L)
      val materialized = replayComplete(s, regs, "hll")
      val est = Sketches.hllEstimate(materialized, Seq("event_type"))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), r6(col("distinct_est")).as("est_micro"),
          col("exact_distinct"))
    },
      // streaming HLL == batch HLL (max-rho registers are set-semantics),
      // so the batch estimator chain gates the streaming aggregation
      s"""WITH hkeys AS (
         |  SELECT event_type AS g, user_id AS k FROM events),
         |${HllChainSql(seed = 4L)}
         |SELECT hll.g AS event_type, ${R6("est")} AS est_micro,
         |  x.exact_distinct
         |FROM hll JOIN (
         |  SELECT event_type AS g,
         |    COUNT(DISTINCT user_id) AS exact_distinct
         |  FROM events GROUP BY 1) x USING (g)""".stripMargin),

    // --- §2.10: streaming Count-Min — cells are a sum aggregation
    //     (depth x width bounded state); stream == batch because counts
    //     add across micro-batches. Probe runs on the materialized
    //     cells ---
    Gate("q_stream_cms", (s, dir) => {
      val stream = tableStream(s, dir, "events",
        Tables.events(s, dir).schema)
        .select(col("user_id"))
      val cells = Sketches.cmsSketch(stream, "user_id", depth = 4,
        width = 256, seed = 5L)
      val materialized = replayComplete(s, cells, "cms")
      val ev = Tables.events(s, dir).select(col("user_id"))
      Sketches.cmsLookup(materialized, ev.distinct(), "user_id",
          depth = 4, width = 256, seed = 5L)
        .join(ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("exact_cnt")), Seq("user_id"))
        .select(col("user_id"), col("est"), col("exact_cnt"))
    }, {
      // streaming CMS == batch CMS (cells add across micro-batches)
      val bucket = s"(${Mix31Sql("user_id", "5 + row * 1000003")}) % 256"
      s"""WITH d AS (SELECT * FROM range(0, 4) t(row)),
         |cells AS (
         |  SELECT row, $bucket AS bucket, COUNT(*) AS cnt
         |  FROM events CROSS JOIN d GROUP BY 1, 2),
         |probe AS (
         |  SELECT user_id, MIN(COALESCE(c.cnt, 0)) AS est
         |  FROM (
         |    SELECT user_id, row, $bucket AS bucket
         |    FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN d) k
         |  LEFT JOIN cells c USING (row, bucket) GROUP BY 1),
         |exact AS (
         |  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1)
         |SELECT user_id, est, exact_cnt
         |FROM probe JOIN exact USING (user_id)""".stripMargin
    }),

    // --- §2.10: streaming exact dedup — first-copy-wins over a finite
    //     replay of the documents table. WHICH physical row wins a
    //     content group is engine-chosen (arrival order inside a
    //     micro-batch), so the deterministic surface is the surviving
    //     CONTENT set — digest + length, functions of the content alone —
    //     which must equal batch DISTINCT exactly ---
    Gate("q_stream_dedup", (s, dir) => {
      val stream = tableStream(s, dir, "documents",
        Tables.documents(s, dir).schema)
      // synthetic event time (docs carry none): all rows land inside one
      // watermark horizon, so no state evicts and the dedup is global —
      // the configuration under which stream == batch is exact. The +1h
      // base keeps every row strictly ABOVE the engine's initial
      // watermark (epoch 0): a row AT the watermark is "late" and
      // silently dropped — doc_id 0 at timestamp_micros(0) vanished
      val kept = graft.streaming.StreamingDedup.firstCopy(
          stream.withColumn("event_time",
            timestamp_micros(col("doc_id") + lit(3600000000L))),
          "text", watermark = "10 minutes")
        .select(md5(col("text")).as("digest"),
          length(col("text")).cast("long").as("text_len"))
      replayAppend(s, kept, "dedup")
    },
      // first-copy dedup: WHICH row survives is engine-chosen, so the gate
      // surface is the content set itself — distinct (digest, length)
      s"""SELECT DISTINCT md5(text) AS digest,
         |  CAST(length(text) AS BIGINT) AS text_len
         |FROM documents""".stripMargin),

    // --- §2.10: streaming quality scoring — the row-local batch scorer
    //     verbatim on a streaming frame (stateless, so append-replay
    //     equals batch per-row including doc_id); same oracle as
    //     q_quality_score ---
    Gate("q_stream_quality", (s, dir) => {
      val stream = tableStream(s, dir, "documents",
        Tables.documents(s, dir).schema)
      val scored = stream.select(col("doc_id"),
        r6(TextFunctions.qualityScore(col("text"))).as("quality_micro"))
      replayAppend(s, scored, "quality")
    },
      // the streaming replay faces are gated against the SAME oracle as
      // their batch twins: append-replay of a stateless/first-copy pipeline
      // over a finite source must equal the batch operator bit-for-bit
      CurationGates.QualityScoreSql),

    // --- §2.10: streaming deterministic sampling + split tagging — the
    //     batch operators verbatim on a streaming frame (the POINT of
    //     hashing content keys instead of drawing per-partition randoms:
    //     the same rows survive under micro-batch replay/retry); batch
    //     oracles reused with the same fraction/seed ---
    Gate("q_stream_sample", (s, dir) => {
      val stream = tableStream(s, dir, "documents",
        Tables.documents(s, dir).schema)
      val kept = graft.streaming.StreamingDedup.sampleStream(
          stream, "doc_id", 0.1, seed = 1L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      replayAppend(s, kept, "sample")
    },
      CurationGates.SampleBernoulliSql),

    Gate("q_stream_split", (s, dir) => {
      val stream = tableStream(s, dir, "documents",
        Tables.documents(s, dir).schema)
      val tagged = graft.streaming.StreamingDedup.splitStream(
          stream, "doc_id", 0.25, seed = 3L)
        .select(col("doc_id"), col("is_test"))
      replayAppend(s, tagged, "split")
    },
      s"""SELECT doc_id,
         |  ${HashSql("doc_id", 3L)} < ${Sampling.threshold(0.25)}
         |    AS is_test
         |FROM documents""".stripMargin),

    // --- §2.10: streaming decontamination — bench grams built batch-side
    //     (bounded by the eval set), embedded row-locally in the stream's
    //     tag expression; same oracle as q_decontam_tag ---
    Gate("q_stream_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // gram set memoized per sf dir (pure function of the table) —
      // collecting it anew per bench rep added ~2 s of batch-side cost
      // that isn't the streaming operator under test
      val grams = decontamGramCache.computeIfAbsent(dir, d =>
        Decontam.benchGramSet(
          Tables.documents(s, d)
            .filter(pmod(col("doc_id"), lit(53L)) === 0)
            .select(col("text").as("q")), "q"))
      val stream = tableStream(s, dir, "documents", docs.schema)
      val tagged = Decontam.tagContamination(
          stream.filter(pmod(col("doc_id"), lit(53L)) =!= 0), grams, "text")
        .select(col("doc_id"), col("n_overlap"))
      replayAppend(s, tagged, "decontam")
    },
      DedupGates.DecontamTagSql),

    // --- §2.10: streaming calibration — the SAME reliability
    //     aggregation maintained BY the streaming engine (complete
    //     mode; bounded state: ≤ nBins groups of sums/counts). Counts
    //     and the exact dyadic sums add across micro-batches, so the
    //     stream equals the batch table bit-for-bit and the batch
    //     oracle gates the streaming engine itself ---
    // --- §2.10: streaming confusion matrix — counts are algebraic, so
    //     the complete-mode stream aggregate equals the batch operator
    //     exactly and the batch oracle gates the streaming engine ---
    Gate("q_stream_confusion", (s, dir) => {
      val stream = tableStream(s, dir, "events",
        Tables.events(s, dir).schema)
      val ev = Tables.tsToNs(stream).withColumnRenamed("ts", "ts_ns")
      val preds = sidePredictions(ev)
      val cm = graft.ml.DirectionModel.confusionMatrix(preds, "actual",
        "pred")
      replayComplete(s, cm, "conf")
    },
      // streaming confusion counts are algebraic — batch twin gates it
      MlGates.M9ConfusionSql),

    Gate("q_stream_calibration", (s, dir) => {
      val stream = tableStream(s, dir, "events",
        Tables.events(s, dir).schema)
      val preds = calibrationFrame(
        Tables.tsToNs(stream).withColumnRenamed("ts", "ts_ns"))
      val bins = graft.ml.DirectionModel.calibrationBins(preds, "p",
        "label")
      replayComplete(s, bins, "cal")
        .select(col("bin"), col("n"), col("n_pos"),
          r6(col("mean_p")).as("mean_p_micro"),
          r6(col("frac_pos")).as("frac_pos_micro"))
    },
      // streaming calibration == batch calibration (counts and exact
      // dyadic sums add across micro-batches)
      MlGates.CalibrationSql),
  )
}
