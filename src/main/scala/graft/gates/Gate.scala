package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: the Spark query `build(session, sfDir)` and the
  * DuckDB SQL over the same parquet tables whose result must hash-match
  * it. The two sit in one value so neither can be added, renamed or
  * dropped without the other. */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Gate {

  /** `gates` by name. Two gates of one name would otherwise override
    * each other silently, so a duplicate is refused by name. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
