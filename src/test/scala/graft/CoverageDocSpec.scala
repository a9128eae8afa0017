package graft

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md's header counts drifted once already (r14 shipped "230
  * gate queries — 226 hash-matched" against a 235/231 repo — flagged in
  * the round-14 verdict). This spec makes the doc a checked artifact:
  * the "N gate queries — M DuckDB-oracle hash-matched" sentence must
  * equal `SparkEntry.queries.size` / `SparkEntry.oracleSql.size`, and
  * the rows-only remainder must stay exactly the documented ML-fit set.
  * No Spark session needed — a pure doc-vs-code consistency pin.
  */
class CoverageDocSpec extends AnyFunSuite {

  private def coverageDoc: String = {
    // sbt forks tests with cwd = the project base directory
    val p = java.nio.file.Paths.get("COVERAGE.md")
    assert(java.nio.file.Files.exists(p), s"COVERAGE.md not found at $p")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("COVERAGE.md header counts equal the registered gate counts") {
    val re = """(\d+) gate queries — (\d+) DuckDB-oracle hash-matched""".r
    val m = re.findFirstMatchIn(coverageDoc).getOrElse(
      fail("COVERAGE.md lost its 'N gate queries — M DuckDB-oracle " +
        "hash-matched' header sentence"))
    assert(m.group(1).toInt == SparkEntry.queries.size,
      s"COVERAGE.md says ${m.group(1)} gate queries but SparkEntry " +
        s"registers ${SparkEntry.queries.size} — refresh the doc header")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size,
      s"COVERAGE.md says ${m.group(2)} oracled queries but SparkEntry " +
        s"registers ${SparkEntry.oracleSql.size} oracles — refresh the doc")
  }

  test("rows-only remainder is exactly the documented ML-fit set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r16: q_quality_classifier graduated to fully-oracled (portable
    // hash + persisted-weights fixture); r17: q_m1_gbt, q_m2_predict and
    // q_m3_rf_lr graduated the same way (per-run prediction/score
    // fixtures; split counts, direction twins, remap, and accuracy
    // folds replayed in SQL — only the raw fits themselves go
    // un-replayed, via the fixture). Rows-only is now EMPTY; any new
    // un-oracled gate must be documented here deliberately.
    val documented = Set.empty[String]
    assert(rowsOnly == documented,
      s"rows-only gate set changed: ${rowsOnly.diff(documented)} new / " +
        s"${documented.diff(rowsOnly)} gone — update COVERAGE.md's header " +
        "paragraph (and this spec) so the doc stays truthful")
  }

  test("every q_ name in COVERAGE.md is a registered gate or a ScaleBench " +
    "entry") {
    val known = SparkEntry.queries.keySet ++ ScaleBench.entries.map(_._1)
    // family globs such as `q_stream_*` end in '_' and name no query
    val named = """\bq_[a-z0-9_]*[a-z0-9]\b""".r.findAllIn(coverageDoc).toSet
    val unknown = named -- known
    assert(unknown.isEmpty,
      s"COVERAGE.md names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
  }
}
