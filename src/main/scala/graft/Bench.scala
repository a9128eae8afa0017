package graft
import org.apache.spark.sql.SparkSession

/** Driver bench main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric","value","unit","queries","sf"}.
  *
  * Protocol v4:
  *  - an untimed warm-up pass over the same scale factor compiles each
  *    query's actual (AQE-shaped) plan, so the timed pass measures
  *    steady-state execution, not first-run codegen;
  *  - each query's time is the min of SPARK_GRAFT_REPS reps; a failed
  *    rep is never timed and the query is reported under `errors`;
  *  - every persistent block except the shared fixtures is dropped
  *    between queries, so no query inherits another's memory pressure;
  *  - each fixture build is logged with the warm-up or the query and rep
  *    that paid it (`fixture_builds`).
  * The board reports wall-clock times as measured. A per-gate A/B is
  * alternating SPARK_GRAFT_ONLY runs on one host, never a comparison
  * against a record taken on another machine or in another window.
  */
object Bench {

  /** Measurement-protocol version, stamped into every artifact. Bump
    * whenever the measurement discipline changes in a way that makes
    * old numbers incomparable. History:
    *   v1 — through r15's run (implicit; no stamp in the artifact);
    *   v2 — ALL persistent RDD blocks (incl. localCheckpoint frames)
    *        dropped between timed queries;
    *   v3 — contention probes min-of-3, with load-triggered re-measures
    *        folded into each query's min;
    *   v4 — no contention probes or re-measures: the min is over the
    *        SPARK_GRAFT_REPS reps only. */
  private val ProtocolVersion = 4

  /** Max heap rounded to NEAREST GiB for artifact stamps (some
    * collectors report maxMemory slightly below -Xmx — a survivor
    * space is deducted — so flooring would stamp a 16g run as 15).
    * -1 when the JVM reports no cap (maxMemory == Long.MaxValue, no
    * -Xmx): the rounding expression would otherwise overflow to a
    * large negative number (r18 ADVICE). */
  def heapGbStamp(maxBytes: Long): Long =
    if (maxBytes == Long.MaxValue) -1L else (maxBytes + (1L << 29)) >> 30

  /** Protocol-floor check against the RAW byte count, not the rounded
    * GiB — rounding lets a true 11.5-11.99g heap round up and
    * silently pass (r18 ADVICE). The slack absorbs the collector's
    * maxMemory deduction so a compliant `-Xmx<floor>g` run never
    * false-warns: G1/ZGC report maxMemory == -Xmx, but Serial/Parallel
    * deduct one survivor space, which at default NewRatio=2 /
    * SurvivorRatio=8 is young/10 = heap/30 (~410 MiB at 12g — larger
    * than the old fixed 256 MiB, r19 ADVICE). 64 MiB per floor-GiB
    * (~heap/16) covers that worst case with margin; the accepted cost
    * is that a true heap in [floor-slack, floor) passes silently —
    * at most ~6% under, far from the 8g-vs-16g regime difference the
    * check exists to catch. An uncapped heap (Long.MaxValue) never
    * warns. */
  def heapBelowFloor(maxBytes: Long, floorGb: Int): Boolean =
    maxBytes != Long.MaxValue &&
      maxBytes < (floorGb.toLong << 30) - (floorGb.toLong << 26)

  /** Executable band verdict for the adjudicated q_stream_join_xbatch
    * irreducible floor (SCALE.md): "below" means the replay stopped
    * doing its mandated 4-trigger state work (a correctness smell,
    * not a win); "above" means the state machinery regressed in a way
    * no oracle catches. The upper bound is generous because hot
    * windows legitimately inflate the gate ~1.1-1.3x. */
  private[graft] val XBatchFloorBand: (Double, Double) = (2.5, 6.0)
  private[graft] def xbatchVerdict(t: Double): String =
    if (t < XBatchFloorBand._1) "below"
    else if (t > XBatchFloorBand._2) "above" else "ok"

  /** `local[N]` width of Bench and ScaleBench: `SPARK_GRAFT_CPUS`, else
    * the machine's processors, so a bare run is stamped with what ran. */
  private[graft] def cpusFromEnv: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cpusFromEnv
    // decoupled for the strong-scaling probe (tools/core_scaling.py):
    // partition COUNT is a property of the data, parallelism of the
    // machine — tying them means fewer cores also means bigger
    // partitions, which conflates memory pressure with core scaling
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated subset for local iteration; a typo or an
    // empty value must fail loudly — a zero-query run still prints a
    // well-formed JSON line and reads as a (vacuous) result
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    def fmt(v: Double): String = f"$v%.3f"

    // between-query block hygiene: clearCache drops SQL-cached plans,
    // but localCheckpoint blocks (graph/CC final frames) are RDD-level
    // and survive it — across a 239-query run they accumulate until
    // driver GC, squeezing the unified memory pool (measured at x64:
    // late heavy queries 1.3-2x slower in a long session than fresh).
    // Between independent query invocations every persistent RDD is
    // either recomputable (plain persist) or never read again (a
    // completed invocation's checkpoint), so dropping all is safe —
    // EXCEPT the per-run shared fixtures (r18: the trade-graph edge
    // checkpoint three graph gates read), which are checkpoints that
    // ARE read again; sweeping them forces a rebuild per gate (the
    // exact duplicated work the sharing removes) via the cache's
    // liveness revalidation.
    def dropAllBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      val keep = SparkEntry.sharedFixtureRddIds(spark)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep(r.id))
        .foreach(_.unpersist(blocking = false))
    }

    // which (fixture, build sec, paid-by, rep-info) this run saw:
    // shared fixtures are normally all built once, here in the warmup
    // pass; any rebuild inside a TIMED query (a sweep killed the
    // checkpoint) is attributed to that query so its number stays
    // interpretable (r18 verdict: family per-query times were
    // order-dependent with no record of who paid the prep). rep-info
    // is (rep index, whether that rep was the call's recorded min):
    // a build paid by rep 1 of 3 is normally NOT in the min-of-reps
    // time (a later rep hits the rebuilt checkpoint), so "paid_by a
    // query" means the build occurred during its reps and is included
    // in its recorded time ONLY when in_min is true (r19 ADVICE — the
    // old convention overclaimed inclusion and would over-subtract).
    var fixtureBuildLog =
      Vector.empty[(String, Double, String, Option[(Int, Boolean)])]
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      // drop persisted blocks a query left behind so later warmups don't
      // inherit its memory pressure
      dropAllBlocks()
    }
    fixtureBuildLog ++= SparkEntry.drainFixtureBuilds()
      .map { case (fx, sec) => (fx, sec, "warmup", None) }

    // min-of-N per query: single-shot times at these scale factors swing
    // up to 4x run-to-run from GC/JIT/page-cache noise (r5->r6 showed 4x
    // on untouched operators), which made per-round regression detection
    // worthless; the minimum is the stable estimator of a query's actual
    // cost (noise only ever ADDS time)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // a crashed rep must NOT contribute its time-to-throw as a measurement
    // (round 10: 57 broken queries recorded ~0.05 s each and the bench
    // read as if they ran) — failed queries are reported separately and
    // loudly, never as times
    var errors = Map.empty[String, String]
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      var repBuilds = Vector.empty[(String, Double, Int)]
      val times = (1 to reps).flatMap { rep =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors += name -> e.toString.linesIterator.next().take(200)
            false
          }
        val d = (System.nanoTime() - t0) / 1e9
        // outside the timer: a query's own persist cost is measured above,
        // but its cached blocks must not degrade the NEXT run (round-2
        // bench showed cross-query GC pressure inflating unrelated queries)
        dropAllBlocks()
        // drained PER REP, not per call: a build is paid by exactly one
        // rep, and whether that rep is the recorded min decides whether
        // the query's time actually includes the build seconds
        repBuilds ++= SparkEntry.drainFixtureBuilds()
          .map { case (fx, sec) => (fx, sec, rep) }
        if (ok) Some(rep -> d) else None
      }
      val best = times.minByOption(_._2)
      fixtureBuildLog ++= repBuilds.map { case (fx, sec, rep) =>
        (fx, sec, name, Some((rep, best.exists(_._1 == rep))))
      }
      best.map(_._2)
    }
    val results = queries.toSeq.flatMap { case (name, fn) =>
      timeQuery(name, fn).map(name -> _)
    }.toMap
    errors.toSeq.sortBy(_._1).foreach { case (n, e) =>
      System.err.println(s"[bench] FAILED $n: $e")
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0

    // executable floor-band check (r19 verdict item 3; see
    // xbatchVerdict): the stamp self-labels every artifact and the
    // stderr line makes a drift loud.
    val xbatchFloor: Option[String] =
      results.get("q_stream_join_xbatch").map { t =>
        val verdict = xbatchVerdict(t)
        if (verdict != "ok")
          System.err.println(f"[bench] q_stream_join_xbatch $t%.2f s is " +
            s"$verdict the documented irreducible-floor band " +
            s"${XBatchFloorBand._1}-${XBatchFloorBand._2} s " +
            "(SCALE.md xbatch floor adjudication) — investigate the " +
            "state machinery")
        verdict
      }

    // full per-query breakdown to a file (the one-line contract below is
    // size-limited; this keeps every number for local regression diffs).
    // "env" records what the numbers were measured on — round-7 showed
    // two runs of identical code 2-3x apart across sessions, so a bench
    // artifact without its environment is not comparable to anything.
    // Reading convention for fixture_builds: a fixture paid_by "warmup"
    // costs NO timed query anything; paid_by a query name means the
    // build occurred during that query's reps and is included in its
    // recorded time ONLY when in_min is true (the min normally comes
    // from a later rep that hit the rebuilt checkpoint — r19 ADVICE)
    val fixtureJson = fixtureBuildLog.map { case (fx, sec, by, rep) =>
      val repJson = rep.fold("") { case (r, inMin) =>
        s""","rep":$r,"in_min":$inMin""" }
      s"""{"fixture":"$fx","sec":${fmt(sec)},"paid_by":"$by"$repJson}"""
    }.mkString("[", ",", "]")
    val xbatchJson = xbatchFloor.fold("null")("\"" + _ + "\"")
    val env = s""""protocol":$ProtocolVersion,"reps":$reps,"cpus":"$cpus","jvm":"${System.getProperty("java.version")}","heap_gb":${heapGbStamp(Runtime.getRuntime.maxMemory())},"xbatch_floor":$xbatchJson,"fixture_builds":$fixtureJson"""
    val full = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, e) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"n_failed":${errors.size},$env,"queries":$full,"errors":$errJson,"sf":"$sfDir"}"""
    // run output never overwrites the committed bench_full.json record;
    // subset runs go to their own file so local iteration never clobbers
    // a full run's breakdown
    val fullPath =
      if (only.isDefined) "bench_full_subset.json" else "bench_out.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullLine + "\n").getBytes("UTF-8"))

    // THE one JSON line. The driver captures only the last ~2000 chars of
    // stdout (sbt appends a ~100-char [success] trailer after this line),
    // so the line must stay well under that or it is truncated mid-JSON
    // and never parses — observed in every round before this budget
    // existed. Keep the slowest queries (the ones a perf grade hinges on)
    // until the budget is spent; the full breakdown is in bench_out.json.
    val budget = 1600
    val header =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"n_failed":${errors.size},"xbatch_floor":$xbatchJson,"queries":"""
    val footer = s""","sf":"$sfDir"}"""
    val slowestFirst = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val fixed = header.length + footer.length + 2 // braces of "queries"
    var used = fixed
    val kept = slowestFirst.takeWhile { case (k, v) =>
      val entry = "\"" + k + "\":" + fmt(v)
      val ok = used + entry.length + 1 <= budget
      if (ok) used += entry.length + 1
      ok
    }
    val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(header + qs + footer)
    spark.stop()
  }
}
