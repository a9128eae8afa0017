package graft
package gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._
import graft.sources.AuxSources

import Fixtures._
import Shared._

/** Source, sink and versioned-table gates: file scans, CSV/JSONL
  * round trips and the TableOps MERGE / time-travel / compaction
  * lifecycle. */
object TableGates {

  val gates: Seq[Gate] = Seq(

    // --- S3: filename metadata extraction (partition-pruning analog) ---
    Gate("q_s3_file_meta", (s, dir) => {
      eventsNs(s, dir)
        .select(regexp_extract(input_file_name(), "(sf[0-9.]+)", 1).as("sf"),
          lit("events").as("table_name"))
        .distinct()
    },
      s"""SELECT DISTINCT 'sf0.01' AS sf, 'events' AS table_name FROM events""".stripMargin),

    // --- LLM ops: JSONL round-trip with corrupt-line accounting (the
    //     pretraining interchange format; text + from_json read, so the
    //     bad-line audit needs no corpus cache). Two injected garbage
    //     lines must surface in the corrupt count, never as rows ---
    Gate("q_jsonl_roundtrip", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val out = scratchRoot("jsonl", dir)
      AuxSources.writeJsonl(
        docs.select(col("doc_id"), col("text"), col("lang"), col("source")),
        out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "zz_corrupt.json"),
        "{\"doc_id\": oops}\nnot json either\n".getBytes("UTF-8"))
      val back = AuxSources.readJsonl(s, out,
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
      val (good, bad) = AuxSources.jsonlSplit(back)
      val nBad = bad.count()
      good.select(col("doc_id"), md5(col("text")).as("text_md5"),
        lit(nBad).as("n_corrupt"))
    },
      s"""SELECT doc_id, md5(text) AS text_md5,
         |  CAST(2 AS BIGINT) AS n_corrupt
         |FROM documents""".stripMargin),

    // --- Iceberg-style table ops under the DuckDB gate: the final
    //     snapshot after overwrite -> MERGE INTO (update + insert) ->
    //     DELETE WHERE must equal the same relational algebra computed
    //     directly over the source table ---
    Gate("q_table_merge", (s, dir) => {
      val root = tableOpsFixture(s, dir)
      graft.tables.TableOps.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"),
          r6(col("o_totalprice")).as("price_micro"))
    },
      // the TableOps lifecycle recomputed as plain relational algebra:
      // v1 = every-7th order, v2 = MERGE (matched keys replaced, new keys
      // inserted), v3 = DELETE WHERE price < 50000
      s"""WITH v1 AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 7 = 0),
         |upd AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 14 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |v2 AS (
         |  SELECT * FROM v1
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
         |  UNION ALL SELECT * FROM upd)
         |SELECT o_orderkey, o_custkey, ${R6("o_totalprice")} AS price_micro
         |FROM v2 WHERE o_totalprice >= 50000.0""".stripMargin),

    // --- SCD Type-2 dimension history: init without the %7 keys at
    //     t=0, one merge batch at t=1000 that doubles %5 balances
    //     (changed -> close + reopen), repeats the rest verbatim
    //     (no-op), and introduces the %7 keys (insert). The final
    //     history must reproduce the relational replay exactly ---
    Gate("q_scd2", (s, dir) => {
      val root = scratchRoot("table", dir) + "_scd2"
      rmTree(root)
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.tables.TableOps.scd2Overwrite(
        dim.filter(col("c_custkey") % 7 =!= 0), root, asOfNs = 0L)
      val batch = dim.withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") * 2.0)
          .otherwise(col("c_acctbal")))
      graft.tables.TableOps.scd2Merge(s, root, batch,
        Seq("c_custkey"), asOfNs = 1000L)
      graft.tables.TableOps.read(s, root)
        .select(col("c_custkey"), col("c_name"),
          r6(col("c_acctbal")).as("bal_micro"),
          col("valid_from"), col("valid_to"), col("is_current"))
    },
      // SCD2: the relational replay — changed keys contribute a closed
      // copy plus a reopened one; no-op updates keep the t=0 row; %7
      // keys insert at t=1000. Null-safe attribute comparison mirrors
      // the engine's <=> per column
      s"""WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         |init AS (SELECT * FROM dim WHERE c_custkey % 7 <> 0),
         |upd AS (SELECT c_custkey, c_name,
         |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2.0
         |         ELSE c_acctbal END AS c_acctbal FROM dim),
         |changed AS (
         |  SELECT i.c_custkey FROM init i JOIN upd u USING (c_custkey)
         |  WHERE u.c_acctbal IS DISTINCT FROM i.c_acctbal
         |     OR u.c_name IS DISTINCT FROM i.c_name),
         |rows_out AS (
         |  SELECT i.c_custkey, i.c_name, i.c_acctbal,
         |    CAST(0 AS BIGINT) AS valid_from,
         |    CAST(1000 AS BIGINT) AS valid_to, FALSE AS is_current
         |  FROM init i JOIN changed USING (c_custkey)
         |  UNION ALL
         |  SELECT i.c_custkey, i.c_name, i.c_acctbal,
         |    CAST(0 AS BIGINT), CAST(NULL AS BIGINT), TRUE
         |  FROM init i
         |  WHERE i.c_custkey NOT IN (SELECT c_custkey FROM changed)
         |  UNION ALL
         |  SELECT u.c_custkey, u.c_name, u.c_acctbal,
         |    CAST(1000 AS BIGINT), CAST(NULL AS BIGINT), TRUE
         |  FROM upd u
         |  WHERE u.c_custkey % 7 = 0
         |     OR u.c_custkey IN (SELECT c_custkey FROM changed))
         |SELECT c_custkey, c_name, ${R6("c_acctbal")} AS bal_micro,
         |  valid_from, valid_to, is_current
         |FROM rows_out""".stripMargin),

    // --- Iceberg-style time travel: per-snapshot row count + exact
    //     money sum across the WHOLE version history (v1 base, v2 after
    //     the merge, v3 after the delete) — each VERSION AS OF read must
    //     reproduce the state the oracle recomputes from scratch ---
    Gate("q_table_history", (s, dir) => {
      val root = tableOpsFixture(s, dir)
      graft.tables.TableOps.versions(root).map { v =>
        graft.tables.TableOps.read(s, root, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            r6(moneySum(col("o_totalprice"))).as("sum_price_micro"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_price_micro"))
      }.reduce(_ unionByName _)
    },
      s"""WITH v1 AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 7 = 0),
         |upd AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 14 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |v2 AS (
         |  SELECT * FROM v1
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
         |  UNION ALL SELECT * FROM upd),
         |v3 AS (SELECT * FROM v2 WHERE o_totalprice >= 50000.0)
         |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
         |  ${R6(MoneySum("o_totalprice"))} AS sum_price_micro FROM v1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), COUNT(*),
         |  ${R6(MoneySum("o_totalprice"))} FROM v2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), COUNT(*),
         |  ${R6(MoneySum("o_totalprice"))} FROM v3""".stripMargin),

    // --- Iceberg-style Z-order clustering: the rewrite reorganizes file
    //     layout for two-dimensional data skipping but must be a PURE
    //     reorganization — the read-back content equals the source
    //     exactly (the skipping itself is pinned by TableOpsSpec's
    //     per-file range-narrowing tests) ---
    Gate("q_table_zorder", (s, dir) => {
      val root = scratchRoot("table", dir) + "_zo"
      rmTree(root)
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.tables.TableOps.overwrite(ord, root)
      graft.tables.TableOps.clusterBy(s, root,
        Seq("o_custkey", "o_totalprice"))
      graft.tables.TableOps.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"),
          r6(col("o_totalprice")).as("price_micro"))
    },
      // Z-order rewrite is a pure layout reorganization: content == source
      s"""SELECT o_orderkey, o_custkey,
         |  ${R6("o_totalprice")} AS price_micro
         |FROM orders""".stripMargin),

    // --- Iceberg-style dynamic partition overwrite: replace exactly the
    //     partitions present in the replacement frame, keep the rest ---
    Gate("q_table_part_overwrite", (s, dir) => {
      val root = scratchRoot("table", dir) + "_po"
      rmTree(root)
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      graft.tables.TableOps.overwrite(ord, root,
        partitionBy = Seq("o_orderpriority"))
      val repl = ord.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
      graft.tables.TableOps.overwritePartitions(s, root, repl,
        Seq("o_orderpriority"))
      graft.tables.TableOps.read(s, root)
        .select(col("o_orderkey"), col("o_orderpriority"),
          r6(col("o_totalprice")).as("price_micro"))
    },
      // dynamic partition overwrite: only the 1-URGENT partition is
      // replaced (half price), every other partition is untouched
      s"""SELECT o_orderkey, o_orderpriority,
         |  ${R6("CASE WHEN o_orderpriority = '1-URGENT' " +
               "THEN o_totalprice * 0.5 ELSE o_totalprice END")}
         |    AS price_micro
         |FROM orders""".stripMargin),

    // --- Iceberg-style compaction (rewrite_data_files): a PURE layout
    //     rewrite — read-back content equals the source row-for-row —
    //     whose file-count effect is carried as constant columns the
    //     oracle pins to literal 1 (a failed compaction flips them to 0
    //     and hash-mismatches) ---
    Gate("q_table_compact", (s, dir) => {
      val root = scratchRoot("table", dir) + "_cp"
      rmTree(root)
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      // 16-way fragmented base snapshot: guarantees files to compact
      // even at the small verify SFs
      graft.tables.TableOps.overwrite(ord.repartition(16), root)
      graft.tables.TableOps.compact(s, root, targetFiles = 2)
      val before = graft.tables.TableOps.dataFileCount(root, 1)
      val after = graft.tables.TableOps.dataFileCount(root, 2)
      graft.tables.TableOps.read(s, root)
        .select(col("o_orderkey"),
          r6(col("o_totalprice")).as("price_micro"),
          lit(if (after < before) 1L else 0L).as("files_dropped"),
          lit(if (after == 2) 1L else 0L).as("files_at_target"))
    },
      // compaction is a pure layout rewrite: content == source; the
      // file-count effect rides as literal-pinned constant columns
      s"""SELECT o_orderkey, ${R6("o_totalprice")} AS price_micro,
         |  CAST(1 AS BIGINT) AS files_dropped,
         |  CAST(1 AS BIGINT) AS files_at_target
         |FROM orders""".stripMargin),

    // --- Iceberg-style snapshot expiry: after expireSnapshots(keep=2)
    //     on a three-version history, v1's VERSION AS OF read must FAIL
    //     (its data files are gone), v2 and v3 must reproduce exactly
    //     the states the oracle recomputes from scratch ---
    Gate("q_table_expire", (s, dir) => {
      val root = scratchRoot("table", dir) + "_ex"
      rmTree(root)
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.tables.TableOps.overwrite(ord, root)
      graft.tables.TableOps.deleteWhere(s, root,
        col("o_totalprice") < 100000.0)
      graft.tables.TableOps.deleteWhere(s, root,
        col("o_orderkey") % 2 === 0)
      graft.tables.TableOps.expireSnapshots(root, keep = 2)
      import s.implicits._
      (1 to 3).map { v =>
        try {
          val r = graft.tables.TableOps.read(s, root, Some(v))
            .agg(count(lit(1)).as("n"),
              r6(moneySum(col("o_totalprice"))).as("m"))
            .head()
          (v.toLong, 1L, r.getLong(0), r.getLong(1))
        } catch { case scala.util.control.NonFatal(_) =>
          (v.toLong, 0L, 0L, 0L)
        }
      }.toDF("version", "readable", "n_rows", "sum_price_micro")
    },
      // snapshot expiry: v1 unreadable (0-row sentinel), v2/v3 recomputed
      // from scratch (delete < 100k, then delete even keys)
      s"""WITH v2 AS (
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE NOT (o_totalprice < 100000.0)),
         |v3 AS (SELECT * FROM v2 WHERE NOT (o_orderkey % 2 = 0))
         |SELECT CAST(1 AS BIGINT) AS version, CAST(0 AS BIGINT) AS readable,
         |  CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS sum_price_micro
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), COUNT(*),
         |  ${R6(MoneySum("o_totalprice"))} FROM v2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), CAST(1 AS BIGINT), COUNT(*),
         |  ${R6(MoneySum("o_totalprice"))} FROM v3""".stripMargin),

    // --- S5: Fama-French factor CSV parse (order_imbalance.py:116-129).
    //     The driver ships no CSV table, so the gate writes a fixed
    //     Ken-French-layout fixture (banners, yyyyMMdd dates, trailing
    //     annual section) and both engines parse THE SAME FILE ---
    Gate("q_s5_ff_csv", (s, dir) => {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(FfFixturePath),
        FfFixtureCsv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.sources.AuxSources.ffFactorsCsv(s, FfFixturePath)
        .select(col("date"), col("SMB").as("smb"), col("HML").as("hml"),
          col("RF").as("rf"), col("CMA").as("cma"), col("RMW").as("rmw"))
    },
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$FfFixturePath', header=false,
         |    columns={'date_str': 'VARCHAR', 'smb': 'VARCHAR',
         |             'hml': 'VARCHAR', 'rf': 'VARCHAR',
         |             'cma': 'VARCHAR', 'rmw': 'VARCHAR'},
         |    null_padding=true, ignore_errors=true, delim=',', quote='"',
         |    auto_detect=false)),
         |p AS (
         |  SELECT CAST(strptime(trim(date_str), '%Y%m%d') AS DATE) AS date,
         |    CAST(smb AS DOUBLE) AS smb, CAST(hml AS DOUBLE) AS hml,
         |    CAST(rf AS DOUBLE) AS rf, CAST(cma AS DOUBLE) AS cma,
         |    CAST(rmw AS DOUBLE) AS rmw
         |  FROM raw
         |  WHERE length(trim(date_str)) = 8
         |    AND TRY_CAST(trim(date_str) AS BIGINT) IS NOT NULL)
         |SELECT * FROM p WHERE date >= DATE '2018-01-01'""".stripMargin),

    // --- S8: gzip CSV source (native .gz codec on both engines; fixture
    //     written by the gate, parsed by both) ---
    Gate("q_s8_gzip_csv", (s, dir) => {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(GzFixturePath))
      out.write(GzFixtureCsv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      s.read.schema("ticker STRING, price DOUBLE, qty BIGINT")
        .option("header", "false").csv(GzFixturePath)
    },
      s"""SELECT ticker, price, qty
         |FROM read_csv('$GzFixturePath', header=false,
         |  columns={'ticker': 'VARCHAR', 'price': 'DOUBLE', 'qty': 'BIGINT'},
         |  delim=',', quote='"', auto_detect=false,
         |  compression='gzip')""".stripMargin),

    // --- S9: CSV sink round-trip — writeCsv (header, overwrite-per-folder,
    //     prediction_ML_pipeline.py:366-374), read back by both engines ---
    Gate("q_s9_csv_sink", (s, dir) => {
      val path = CsvSinkDir
      val agg = eventsNs(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      // one part file: the oracle's glob must not see empty parts
      graft.sources.AuxSources.writeCsv(agg.coalesce(1), path)
      s.read.schema("event_type STRING, n BIGINT")
        .option("header", "true").csv(path)
    },
      s"""SELECT event_type, n
         |FROM read_csv('$CsvSinkDir/*.csv', header=true,
         |  columns={'event_type': 'VARCHAR', 'n': 'BIGINT'},
         |  delim=',', quote='"', auto_detect=false)""".stripMargin),

    // --- S11: trading calendar (weekdays minus holidays, generated
    //     distributedly; trading_strategy.py:114-120) ---
    Gate("q_s11_trading_calendar", (s, dir) => {
      graft.sources.AuxSources.tradingDays(s, "2024-01-01", "2024-06-30",
        Seq("2024-01-15", "2024-02-19"))
    },
      s"""SELECT CAST(d AS DATE) AS date,
         |  (dayofweek(d) BETWEEN 1 AND 5) AND CAST(d AS DATE) NOT IN
         |    (DATE '2024-01-15', DATE '2024-02-19') AS is_session
         |FROM generate_series(DATE '2024-01-01', DATE '2024-06-30',
         |  INTERVAL 1 DAY) t(d)""".stripMargin),

    // --- S4: multi-file concat scan — glob union of two CSV parts, file
    //     provenance from the filename on both engines ---
    Gate("q_s4_multifile", (s, dir) => {
      val d = new java.io.File(MultiCsvDir)
      d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$MultiCsvDir/a.csv"),
        "1,alpha\n2,beta\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$MultiCsvDir/b.csv"),
        "3,gamma\n4,delta\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.read.schema("id BIGINT, name STRING").option("header", "false")
        .csv(MultiCsvDir)
        .withColumn("src",
          regexp_extract(input_file_name(), "([ab])\\.csv", 1))
    },
      s"""SELECT id, name, regexp_extract(filename, '([ab])\\.csv', 1) AS src
         |FROM read_csv('$MultiCsvDir/*.csv', header=false,
         |  columns={'id': 'BIGINT', 'name': 'VARCHAR'},
         |  delim=',', quote='"', auto_detect=false, filename=true)""".stripMargin),
  )
}
