package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators._

import Shared._

/** Everything the gates write to or cache between gates: per-run
  * scratch paths, the versioned-table and stream-replay fixtures, and
  * the shared per-(session, dir) preps several gates read.
  *
  * Object init runs [[RunTag]] and then [[sweepStaleScratch]] before
  * anything else here, and every scratch path a gate writes comes from
  * this object ([[RunTag]] or [[scratchRoot]]), so the sweep always runs
  * before the first fixture is written. */
object Fixtures {

  /** Per-process tag keying every artifact-WRITING gate's scratch path
    * (S4/S5/S8/S9/S10): two concurrent Verify/Bench JVMs must not
    * cross-read each other's fixtures, and a stale artifact left by a
    * crashed run must not satisfy a later one. The tag is interpolated
    * into the oracle SQL this same process dumps, so the DuckDB check
    * always reads THIS run's artifacts. One value per JVM, shared by
    * every gate family. */
  private[gates] val RunTag =
    s"${ProcessHandle.current().pid()}_${java.lang.Long.toHexString(System.nanoTime())}"

  /** Sweep stale RunTag-keyed scratch (> 48 h old) left by earlier
    * runs: per-run tags never self-overwrite the way the old fixed
    * paths did, so without this /tmp grows one fixture set per
    * Verify/Bench invocation forever (r16 ADVICE). Deleting on exit is
    * deliberately NOT an option — the driver's DuckDB oracle reads
    * THIS run's fixtures after the Verify JVM exits — so age-based
    * sweep at startup is the correct lifecycle. Runs once at object
    * init, right after RunTag. */
  private val sweepStaleScratch: Unit = try {
    val cutoff = System.currentTimeMillis() - 48L * 3600 * 1000
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    Option(new java.io.File("/tmp").listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft_") && f.lastModified() < cutoff) rm(f)
    })
  } catch { case _: Throwable => () }

  /** Per-(process, dataset) scratch root `graft_<kind>_<dir hash>_<pid>`
    * for the fixtures keyed by sf dir rather than by run: concurrent
    * Verify and Bench JVMs must not race on one overwrite-then-read
    * directory. */
  private[gates] def scratchRoot(kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      java.lang.Integer.toHexString(dir.hashCode) + "_" +
      java.lang.ProcessHandle.current().pid()
  private[gates] def rmTree(root: String): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val it = java.nio.file.Files.list(p).iterator()
        val children = scala.collection.mutable.ArrayBuffer
          .empty[java.nio.file.Path]
        while (it.hasNext) children += it.next()
        children.foreach(rm)
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(root))
  }

  /** (Re)build the versioned-table fixture the TableOps gates read:
    * v1 = every-7th order (overwrite), v2 = MERGE INTO of doubled-price
    * updates (every-14th) plus inserted %7==3 rows, v3 = DELETE WHERE
    * o_totalprice < 50000. Rebuilt from scratch on every call so bench
    * repetitions and reruns see an identical three-version history. */
  private[gates] def tableOpsFixture(s: SparkSession, dir: String): String = {
    val root = scratchRoot("table", dir)
    rmTree(root)
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.tables.TableOps.overwrite(
      ord.filter(col("o_orderkey") % 7 === 0), root)
    val updates = ord.filter(col("o_orderkey") % 14 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2.0)
      .unionByName(ord.filter(col("o_orderkey") % 7 === 3))
    graft.tables.TableOps.merge(s, root, updates, Seq("o_orderkey"))
    graft.tables.TableOps.deleteWhere(s, root,
      col("o_totalprice") < 50000.0)
    root
  }

  // ---- stream-replay fixtures -------------------------------------------

  // memoized per (JVM, fixture, sf dir): each replay directory is a pure
  // function of the events table, and Bench rebuilds each query per rep —
  // re-deriving and re-writing the files added ~3 s/rep of pure fixture
  // IO. No writer may call another stream fixture: a nested
  // computeIfAbsent on this one map throws "Recursive update".
  private val streamFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The replay directory `graft_stream_<kind>_..` for `dir`: emptied,
    * then filled by `write(root)` once per JVM. */
  private def streamFixture(kind: String, dir: String)
      (write: String => Unit): String =
    streamFixtureCache.computeIfAbsent((kind, dir), _ => {
      val root = scratchRoot(s"stream_$kind", dir)
      rmTree(root)
      write(root)
      root
    })

  /** Appends `df` as the replay's next single data file. The sleep gives
    * each file a distinct modification time, which keeps the file
    * source's replay order. */
  private def appendFile(df: DataFrame, root: String): Unit = {
    Thread.sleep(15)
    df.coalesce(1).write.mode("append").parquet(root)
  }
  private def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))

  /** Replay directory for the q_stream_iceberg gate: the events table
    * mapped onto the iceberg state machine's input shape (clicks =
    * visible execs / type 4, purchases = refilling submits / type 1,
    * user_id = the key), written as ONE data file, followed by two
    * single-row "~flush~" sentinel files at +2 and +4 days past the max
    * event time. With maxFilesPerTrigger=1 the sentinels replay as
    * separate micro-batches, so the watermark provably passes every real
    * exec's tolerance window AND a data batch runs afterwards to fire
    * the event-time timeouts — no reliance on no-data micro-batches.
    * Sentinel rows are type-1 submits with no pending exec on their key,
    * so they emit nothing. */
  private[gates] def streamIcebergFixture(s: SparkSession, dir: String): String =
    streamFixture("ice", dir) { root =>
      val base = eventsNs(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          timestamp_micros(expr("ts_ns div 1000"))
            .as("event_time"),
          col("event_id"),
          col("user_id").cast("string").as("ticker"),
          lit(0L).as("price"),
          col("ts_ns"),
          when(col("event_type") === "click", 4).otherwise(1)
            .as("event_type"))
      base.coalesce(1).write.parquet(root)
      val maxTs = base.agg(max(col("ts_ns"))).head().getLong(0)
      import s.implicits._
      def flush(id: Long, tsNs: Long) = Seq(
        (new java.sql.Timestamp(tsNs / 1000000L), id, "~flush~", 0L,
          tsNs, 1))
        .toDF("event_time", "event_id", "ticker", "price", "ts_ns",
          "event_type")
      appendFile(flush(-1L, maxTs + 2 * DAY), root)
      appendFile(flush(-2L, maxTs + 4 * DAY), root)
    }

  /** Sentinel PAIR of the stream-stream join fixtures: one row per
    * stream side (users -1/-2, never matching each other) at `tsNs`. */
  private def joinSentinels(s: SparkSession, idBase: Long, tsNs: Long)
      : DataFrame = {
    import s.implicits._
    withEventTime(Seq(
      (idBase, tsNs, -1L, "click"),
      (idBase - 1, tsNs, -2L, "purchase"))
      .toDF("event_id", "ts_ns", "user_id", "event_type"))
  }
  private def clicksAndPurchases(s: SparkSession, dir: String): DataFrame =
    eventsNs(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"))

  /** Fixture for the q_stream_join stream-stream outer-join gate:
    * file 0 — every click + purchase row; files 1-2 — sentinel PAIRS
    * two days and four days past the data, so BOTH sides' watermarks
    * advance and the left-outer null rows provably emit before the
    * replay ends (the two-sentinel q_stream_iceberg trick — outer
    * emission uses the watermark from the PREVIOUS batch). */
  private[gates] def streamJoinFixture(s: SparkSession, dir: String): String =
    streamFixture("join", dir) { root =>
      val base = clicksAndPurchases(s, dir)
      withEventTime(base).coalesce(1).write.parquet(root)
      val maxTs = base.agg(max(col("ts_ns"))).head().getLong(0)
      appendFile(joinSentinels(s, -10L, maxTs + 2 * DAY), root)
      appendFile(joinSentinels(s, -20L, maxTs + 4 * DAY), root)
    }

  /** Fixture for q_stream_join_xbatch — the CROSS-BATCH face of the
    * stream-stream join (the one-batch gate above never probes the
    * symmetric join state with a match arriving in a LATER micro-batch).
    * One synthetic probe PAIR per base row with event_id % 13 == 0, on a
    * user-id range (1e6 + event_id, unique per probe) disjoint from every
    * real user — so probes can ONLY match their own partner and the base
    * join surface is untouched. Replayed one file per micro-batch:
    *   file 0 — every click + purchase row PLUS the probe clicks
    *     (c_ts = maxT - 50 min); its end advances both watermarks to
    *     maxT - 1 h;
    *   file 1 — the probe purchases (p_ts = maxT - 30 min): 20 min into
    *     their click's 1 h join window AND 30 min ABOVE the batch-0
    *     watermark, so a correct engine MUST absorb them and join them
    *     against batch-0 click state — an engine that dropped that state
    *     across the batch boundary emits outer null rows for every probe
    *     click instead and hash-mismatches. The first sentinel pair
    *     rides in this file (watermark advance applies at batch END,
    *     after the probes joined);
    *   file 2 — the second sentinel pair, whose batch runs UNDER the
    *     advanced watermark so every outer null row provably emits
    *     before the replay ends. */
  private[gates] def streamJoinXbatchFixture(s: SparkSession, dir: String)
      : String =
    streamFixture("joinx", dir) { root =>
      val base = clicksAndPurchases(s, dir)
      val maxTs = base.agg(max(col("ts_ns"))).head().getLong(0)
      def probeSide(idBase: Long, tsNs: Long, et: String): DataFrame =
        base.filter(col("event_id") % 13 === 0)
          .select((lit(idBase) - col("event_id")).as("event_id"),
            lit(tsNs).as("ts_ns"),
            (lit(1000000L) + col("event_id")).as("user_id"),
            lit(et).as("event_type"))
      val probeClicks = probeSide(-1000000L, maxTs - 5 * M10, "click")
      val xbatch = probeSide(-2000000L, maxTs - M30, "purchase")
      withEventTime(base.unionByName(probeClicks)).coalesce(1)
        .write.parquet(root)
      appendFile(withEventTime(xbatch)
        .unionByName(joinSentinels(s, -10L, maxTs + 2 * DAY)), root)
      appendFile(joinSentinels(s, -20L, maxTs + 4 * DAY), root)
    }

  /** Fixture for the q_stream_dedup_late eviction gate, replayed one
    * file per micro-batch:
    *   file 0 — every event (content key "k<id>"), plus an IDENTICAL
    *     in-batch duplicate for id % 11 == 0 (either copy hashing the
    *     same, so which survives is immaterial);
    *   file 1 — the max-ts row(s), carved out as the settle batch;
    *   file 2 — a fresh-key sentinel at maxT (a second interposed batch,
    *     so state EVICTION under the advanced watermark has provably run
    *     before the re-arrivals, whatever the engine's one-batch lag);
    *   file 3 — the probes: re-arrivals of keys whose originals are
    *     OLDER than maxT-3h (state evicted -> KEPT again, the
    *     at-least-once horizon semantics), re-arrivals of keys from the
    *     last hour (state alive -> dropped), and fresh-key rows rewound
    *     to minT (late -> dropped; they carry shifted ids so a wrongly
    *     kept one shows up in the hash instead of being filtered away).
    * Watermark 1 h; eviction boundary maxT-2h — every probe sits >= 1 h
    * from it, so the kept set is deterministic. */
  private[gates] def streamDedupLateFixture(s: SparkSession, dir: String)
      : String =
    streamFixture("dl", dir) { root =>
      val base = eventsNs(s, dir)
        .select(col("event_id"), col("ts_ns"), col("value"))
        .withColumn("content", concat(lit("k"), col("event_id")))
      val Array(minTs, maxTs) = base
        .agg(min(col("ts_ns")), max(col("ts_ns"))).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      val withDupes = base.unionByName(base.filter(col("event_id") % 11 === 0))
      withEventTime(withDupes.filter(col("ts_ns") =!= maxTs)).coalesce(1)
        .write.parquet(root)
      appendFile(withEventTime(withDupes.filter(col("ts_ns") === maxTs)),
        root)
      import s.implicits._
      appendFile(withEventTime(Seq((-1L, maxTs, 0.0, "~s~"))
        .toDF("event_id", "ts_ns", "value", "content")), root)
      val sevens = base.filter(col("event_id") % 7 === 0)
      val re = sevens.filter(col("ts_ns") < maxTs - 3 * H)
        .withColumn("ts_ns", lit(maxTs - M30))
      val alive = sevens.filter(col("ts_ns") >= maxTs - H)
        .withColumn("ts_ns", lit(maxTs - M30))
      val late = base.filter(col("event_id") % 13 === 0)
        .withColumn("content", concat(lit("late"), col("event_id")))
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("ts_ns", lit(minTs))
      appendFile(withEventTime(re.unionByName(alive).unionByName(late)),
        root)
    }

  /** Late-data fixture for the q_stream_oi_late watermark gate:
    * modification-time-ordered parquet files replayed one per
    * micro-batch.
    *   file 0 — the on-time bulk (event_id % 7 != 0), original times;
    *   file 1 — the max-ts row(s) as a SETTLE batch (see below);
    *   file 2 — the % 7 == 0 rows arriving LATE: half re-timed to
    *     maxT - 30 min (inside the 1 h watermark -> must be absorbed),
    *     half rewound to the stream's FIRST window (hours past the
    *     watermark -> must be dropped);
    *   file 3+4 — two far-future sentinels (the q_stream_iceberg trick):
    *     the first advances the watermark past every real window, the
    *     second's batch runs UNDER that watermark so append emits all
    *     closed windows before processAllAvailable returns.
    * Margins are 30 min / hours — no window boundary sits near the
    * watermark, so the kept/dropped split is deterministic. */
  private[gates] def streamOiLateFixture(s: SparkSession, dir: String): String =
    streamFixture("oilate", dir) { root =>
      val base = eventsNs(s, dir).select(
        col("event_id"), col("ts_ns"),
        pmod(col("user_id"), lit(5L)).cast("string").as("ticker"),
        side(col("event_type")).as("direction"),
        col("value").as("size"))
      val onTime = base.filter(col("event_id") % 7 =!= 0)
      val Array(minTs, maxTs) = onTime
        .agg(min(col("ts_ns")), max(col("ts_ns"))).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      // the bulk, then the max-ts row(s) as a SETTLE batch: the file
      // source's filtering watermark lags one batch behind the displayed
      // one (measured: a late row arriving in the very next batch after
      // the bulk is absorbed, dropped=0; with one interposed batch it is
      // dropped) — the settle file makes the bulk's watermark effective
      // before the late file arrives
      withEventTime(onTime.filter(col("ts_ns") =!= maxTs)).coalesce(1)
        .write.parquet(root)
      appendFile(withEventTime(onTime.filter(col("ts_ns") === maxTs)), root)
      val late = base.filter(col("event_id") % 7 === 0)
        .withColumn("ts_ns", when(col("event_id") % 14 =!= 0,
          lit(maxTs - M30)).otherwise(lit(minTs)))
      appendFile(withEventTime(late), root)
      import s.implicits._
      def sentinel(id: Long, tsNs: Long) = withEventTime(
        Seq((id, tsNs, "~flush~", 1, 0.0))
          .toDF("event_id", "ts_ns", "ticker", "direction", "size"))
      appendFile(sentinel(-1L, maxTs + 2 * DAY), root)
      appendFile(sentinel(-2L, maxTs + 4 * DAY), root)
    }


  private[gates] val FfFixturePath = s"/tmp/graft_ff_fixture_$RunTag.csv"
  private[gates] val FfFixtureCsv =
    """This file mirrors the Ken-French data library daily-factor layout
      |Daily factors in percent; the annual section at the bottom is dropped
      |,SMB,HML,RF,CMA,RMW
      |20171228,0.11,-0.22,0.009,0.05,0.15
      |20171229,0.10,-0.20,0.010,0.04,0.16
      |20180102,0.25,0.30,0.010,-0.10,0.05
      |20180103,-0.15,0.40,0.010,0.20,-0.25
      |20180104,0.05,-0.10,0.010,0.00,0.30
      |Annual Factors: January-December
      |2018,1.00,2.00,0.50,0.30,0.10
      |""".stripMargin

  /** S4 multi-file glob fixture dir (shared by query + oracle). */
  private[gates] val MultiCsvDir = s"/tmp/graft_multi_csv_$RunTag"
  private[gates] val GzFixturePath = s"/tmp/graft_prices_fixture_$RunTag.csv.gz"

  /** S9 CSV sink dir (shared by query + oracle). */
  private[gates] val CsvSinkDir = s"/tmp/graft_csv_sink_$RunTag"

  /** Quality-classifier oracle faces (r16): per-run weight-fixture dirs
    * — one per gate, so each stays self-contained under
    * SPARK_GRAFT_ONLY subsets — plus the shared portable-hash
    * parameters. The gate trains, persists the learned weights, and
    * the oracle re-reads THIS run's fixture to replay the scoring
    * fold in SQL. */
  private[gates] val QClsWeightsDir = s"/tmp/graft_qcls_weights_$RunTag"
  private[gates] val QScoreWeightsDir = s"/tmp/graft_qscore_weights_$RunTag"

  /** q_m2_predict's per-run fixture (r17): the LR fit's raw per-row
    * P(label=1) — the one piece SQL cannot replay; everything
    * downstream (threshold, {-1,+1} remap, per-row correctness against
    * the side-tag direction) is oracled from it. */
  private[gates] val M2ScoresDir = s"/tmp/graft_m2_scores_$RunTag"

  /** q_m1_gbt / q_m3_rf_lr per-run fixtures (r17): each training gate
    * persists its fit's per-row test predictions; the oracle replays
    * split membership and counts, the planted-direction twin, and the
    * accuracy fold from the fixture — so the whole gate row is
    * SQL-gated and only the raw fits themselves stay un-replayed. */
  private[gates] val M1PredsDir = s"/tmp/graft_m1_preds_$RunTag"
  private[gates] val M3PredsDir = s"/tmp/graft_m3_preds_$RunTag"

  /** The quality gates' ONE trained model per (process, sf dir):
    * q_quality_classifier and q_quality_score_oracle fit the IDENTICAL
    * LR (same corpus, planted label, split seed, portable hash,
    * iterations) — as two independent fits they were the two most
    * expensive bench entries (13.1 s = 7.9% of the r16 run). Trained
    * lazily on first use and shared; each gate still persists its OWN
    * weight fixture from this scorer, so SPARK_GRAFT_ONLY subsets stay
    * self-contained (the oracle always reads the fixture the gate
    * itself wrote this run). Keyed by dir: one Verify/Bench process
    * runs one sf dir, but a test session may touch several. */
  private[gates] val qClsScorerCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, graft.ml.QualityClassifier.LinearScorer]()
  private[gates] def qClsSharedScorer(s: SparkSession, dir: String)
      : graft.ml.QualityClassifier.LinearScorer =
    qClsScorerCache.computeIfAbsent(dir, _ => {
      val docs = Tables.documents(s, dir).withColumn("label",
        (TextFunctions.qualityScore(col("text")) >= 0.6).cast("double"))
      val trainDf = Sampling.hashSplitTag(docs, "doc_id", 0.3, seed = 12L)
        .filter(!col("is_test"))
      graft.ml.QualityClassifier.train(trainDf, "text", "label",
        numFeatures = QClsFeatures, maxIter = 30,
        portableSeed = Some(QClsSeed))
    })

  /** The graph gates' ONE trade-graph edge prep per (session, sf dir):
    * q_pagerank / q_ppr / q_pagerank_weighted all build the identical
    * lineitem⋈orders customer<->supplier frame — as three independent
    * preps they were the largest duplicated block in the r17 bench
    * (13.1 s combined = 8.6% of the run), the same shape the shared
    * quality scorer eliminated. Cached as the DEDUPED forward edge
    * frame with per-pair co-order line counts, localCheckpoint'd so
    * all three gates read the pinned result. Semantics are UNCHANGED
    * for every face:
    *  - unweighted/ppr: project (src, dst) — pageRank's distinct sees
    *    an already-unique set, the identical edge set the per-line
    *    input deduped to;
    *  - weighted: project (src, dst, w = line count) — pageRank's
    *    duplicate-edge SUM contract sees one pre-summed row per edge,
    *    and the sums are identical because the forward (even→odd) and
    *    reversed (odd→even) key spaces are disjoint.
    * Keyed by (session, dir): checkpointed frames are session-tied,
    * and a test session may touch several sf dirs. ScaleBench sets
    * -Dgraft.noSharedFixtures=1 to bypass the cache: its q_pagerank
    * entry must keep measuring the FULL uncached edge prep at every
    * scale and rep — the prep contains the one memory-marginal stage
    * the 16g protocol exists for, and a warm-rep cache would silently
    * remove it from the growth law. */
  private[gates] val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  /** A cached localCheckpoint'd frame's blocks can be swept out from
    * under the cache by RDD-level hygiene (Bench/ScaleBench/SoakSpec
    * drop all persistent RDDs between queries; checkpoint blocks are
    * NOT recomputable) — a hit on a dead checkpoint throws
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at read time. Liveness =
    * the analyzed plan is still a pinned LogicalRDD leaf. */
  private[gates] def checkpointLive(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  /** Drop cache entries whose owning SparkContext has stopped: RDD
    * ids are per-SparkContext counters, so a stale session's id can
    * collide with an unrelated live RDD in a later session (making a
    * block sweep spare the wrong RDD), and a stopped entry also pins
    * the dead SparkSession + DataFrame (r18 ADVICE). */
  private[gates] def evictStoppedSessions(): Unit = {
    import scala.jdk.CollectionConverters._
    fixtureCache.keySet.asScala
      .filter(_._1.sparkContext.isStopped).toList
      .foreach(fixtureCache.remove)
    mlLrFitCache.keySet.asScala
      .filter(_._1.sparkContext.isStopped).toList
      .foreach(mlLrFitCache.remove)
  }

  /** RDD ids of the currently-LIVE shared fixtures OWNED BY `s`:
    * Bench's between-query block sweep spares these (and only these),
    * so the fixture actually survives across its reader gates instead
    * of being rebuilt per gate — every other persistent RDD is still
    * dropped (they are recomputable or never read again; a fixture
    * is neither, being a checkpoint that IS read again). Scoped to
    * the sweeping session because RDD ids are per-SparkContext
    * counters — another session's fixture id would spare an arbitrary
    * unrelated RDD here (r18 ADVICE). */
  private[graft] def sharedFixtureRddIds(s: SparkSession): Set[Int] = {
    import scala.jdk.CollectionConverters._
    evictStoppedSessions()
    fixtureCache.entrySet.asScala.toSeq
      .filter(_.getKey._1 eq s)
      .flatMap { e =>
        val df = e.getValue
        df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD
              if checkpointLive(df) => Some(lr.rdd.id)
          case _ => None
        }
      }.toSet
  }

  /** Per-process log of shared-fixture builds (fixture name, build
    * wall seconds). Bench drains it after its warmup pass and after
    * each timed query, stamping WHO paid each build into the bench
    * artifact — without the stamp, a family's per-query times are
    * order-dependent (the first reader pays the prep) and misread
    * across rounds (r18 verdict). */
  private[gates] val fixtureBuilds =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  private[graft] def drainFixtureBuilds(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = fixtureBuilds.poll()
    while (e != null) { out += e; e = fixtureBuilds.poll() }
    out.toSeq
  }

  /** Lazily-built, liveness-revalidated per-(session, dir) checkpoint
    * fixture — the shared-prep pattern (r17 quality scorer, r18 trade
    * graph / Jaccard pairs). `graft.noSharedFixtures=1` (set by
    * ScaleBench) bypasses the cache entirely so scale entries keep
    * measuring full uncached per-invocation cost. */
  private[gates] def sharedFixture(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    if (sys.props.get("graft.noSharedFixtures").contains("1")) build
    else fixtureCache.compute((s, dir, name), (_, prev) =>
      // revalidate on every hit: rebuild if an RDD sweep killed the
      // pinned blocks since the last use
      if (prev != null && checkpointLive(prev)) prev
      else {
        val t0 = System.nanoTime()
        val built = build.localCheckpoint()
        fixtureBuilds.add((name, (System.nanoTime() - t0) / 1e9))
        built
      })

  // ScaleBench's q_pagerank_prep attribution entry measures this prep
  // alone (uncached, via the noSharedFixtures bypass) to separate prep
  // growth from iteration growth
  private[graft] def tradeGraphEdges(s: SparkSession, dir: String): DataFrame =
    sharedFixture(s, dir, "tradeEdges") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      // disjoint node spaces: customers on even ids, suppliers on odd
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    }

  /** The duplicate-cluster family's ONE exact Jaccard pair set per
    * (session, dir): q_dedup_jaccard, q_dup_clusters, q_group_split
    * and q_cluster_dedup all compute the identical
    * `jaccardPairs(documents, n=3, t=0.5, block=source)` — three of
    * the four preps were duplicated work (the family cost 8.35 s on
    * the committed yardstick, most of it the PPJoin prep). The output
    * is O(near-dup pairs) — tiny — so the checkpoint pins almost
    * nothing while the downstream gates (CC labels, leakage-safe
    * split, cluster dedup) keep exercising their own operators in
    * full. Oracles are unaffected: each gate's DuckDB twin recomputes
    * the pair set from the raw documents table, so the fixture is
    * itself differentially verified four ways every run. */
  private[gates] def jaccardDupPairs(s: SparkSession, dir: String): DataFrame =
    sharedFixture(s, dir, "jaccardDupPairs") {
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, blockCols = Seq("source"))
    }

  /** The part-graph family's ONE repeat-co-purchase pair set per
    * (session, dir): q_triangles, q_link_pred, q_kcore,
    * q_degree_dist, q_clustering_coef, q_khop and q_assortativity all
    * start from the IDENTICAL `lineitem self-join -> (l_partkey,
    * l_partkey) pairs -> co-order count >= 2` frame — seven copies of
    * the most expensive prep on the board (family 14.4 s = 11% of the
    * r18 quiet yardstick). The output is O(edges) — small relative to
    * the self-join input — so the checkpoint pins little while every
    * downstream gate keeps exercising its own graph operator in full.
    * Oracles are unaffected: each gate's DuckDB twin recomputes the
    * pair set from raw lineitem, so the fixture is differentially
    * verified seven ways every run. ScaleBench's
    * `graft.noSharedFixtures=1` bypass keeps scale entries measuring
    * the full uncached prep. */
  // ScaleBench's q_kcore_prep attribution entry measures this prep alone
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    sharedFixture(s, dir, "coPurchasePairs") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("src"),
          col("b.l_partkey").as("dst"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
    }

  /** The ML gates' ONE logistic fit on the mlPlanted train split per
    * (session, sf dir): q_m2_predict, q_m3_rf_lr's lr face and
    * q_s10_model_io all fit the IDENTICAL pipeline (same feature
    * columns, same deterministic hash split, same data) — the fits
    * were bit-interchangeable already, so sharing changes no gate's
    * output, and each gate still persists/replays its OWN per-run
    * fixture from this model, keeping SPARK_GRAFT_ONLY subsets
    * self-contained (r17 verdict item 7). Not oracle-weakening: every
    * oracle fold reads the fixture the gate itself wrote this run. */
  private[gates] val mlLrFitCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), org.apache.spark.ml.PipelineModel]()
  private[gates] def mlPlantedLrFit(s: SparkSession, dir: String)
      : org.apache.spark.ml.PipelineModel =
    if (sys.props.get("graft.noSharedFixtures").contains("1"))
      graft.ml.DirectionModel.logisticPipeline(MlGateCols)
        .fit(mlPlanted(s, dir).filter(!col("is_test")))
    else mlLrFitCache.computeIfAbsent((s, dir), _ =>
      graft.ml.DirectionModel.logisticPipeline(MlGateCols)
        .fit(mlPlanted(s, dir).filter(!col("is_test"))))

  /** Persist a trained LinearScorer as (idx, w) parquet rows — idx -1
    * carries the intercept — the oracle-side fixture. */
  private[gates] def writeScorer(s: SparkSession,
                          scorer: graft.ml.QualityClassifier.LinearScorer,
                          path: String): Unit = {
    import s.implicits._
    (scorer.weights.toSeq.zipWithIndex
        .map { case (w, i) => (i.toLong, w) } :+ ((-1L, scorer.intercept)))
      .toDF("idx", "w").coalesce(1).write.mode("overwrite").parquet(path)
  }
  private[gates] val GzFixtureCsv =
    """AAPL,190.5,100
      |MSFT,410.25,50
      |GOOG,170.0,80
      |AMZN,185.75,60
      |META,505.5,30
      |NVDA,880.0,20
      |""".stripMargin

}
