package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract (see SURVEY.md §7): one gate per implemented
  * operator from SURVEY.md §2.
  *  - `queries(name)(session, sfDir)` builds the gate's Spark result;
  *  - `oracleSql(name)` is DuckDB SQL over the same parquet tables that
  *    must hash-match it (columns sorted by name, rows sorted);
  *  - `entry` is the flagship query the driver smoke-checks;
  *  - `sharedFixtureRddIds` / `drainFixtureBuilds` let Bench spare and
  *    attribute the shared per-(session, dir) fixtures.
  *
  * The gates live in `graft.gates`, one `Seq[Gate]` per operator family;
  * each [[graft.gates.Gate]] holds a query and its oracle together. To
  * add a gate, add one `Gate` value to its family. Helpers shared across
  * families are in [[graft.gates.Shared]] (with the cross-engine float
  * parity rules), scratch paths and fixtures in [[graft.gates.Fixtures]].
  */
object SparkEntry {

  private val byName: Map[String, Gate] = Gate.index(
    LobsterGates.gates ++ StreamingGates.gates ++ TableGates.gates ++
      DedupGates.gates ++ CurationGates.gates ++ TextGates.gates ++
      VectorGates.gates ++ GraphGates.gates ++ SketchGates.gates ++
      MlGates.gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.build }

  val oracleSql: Map[String, String] =
    byName.map { case (n, g) => n -> g.oracleSql }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the EP1
    * spine — scan, join, conditional-sum OI aggregation per time bin. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_a1_oi")(spark, "/root/testdata/sf0.001")

  /** RDD ids of the live shared fixtures owned by `s`; see
    * [[graft.gates.Fixtures.sharedFixtureRddIds]]. */
  def sharedFixtureRddIds(s: SparkSession): Set[Int] =
    Fixtures.sharedFixtureRddIds(s)

  /** Shared-fixture builds since the last drain: (fixture, seconds). */
  def drainFixtureBuilds(): Seq[(String, Double)] =
    Fixtures.drainFixtureBuilds()

  // ScaleBench's q_pagerank_prep / q_kcore_prep attribution entries time
  // these preps alone
  private[graft] def tradeGraphEdges(s: SparkSession, dir: String): DataFrame =
    Fixtures.tradeGraphEdges(s, dir)
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    Fixtures.coPurchasePairs(s, dir)
}
