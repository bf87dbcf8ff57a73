package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: a named Spark build over an sf dir and the DuckDB SQL
  * that must reproduce its result on the same parquet tables. A build
  * without an oracle does not compile. */
final case class Gate(name: String,
                      build: (SparkSession, String) => DataFrame,
                      oracleSql: String)

/** The gate registry: every family's gates, each name exactly once. Add a
  * gate by appending one [[Gate]] to the `gates` of the family object
  * whose library module its build calls. */
object Gates {
  /** `gates` in order; throws on a name registered more than once. */
  def registry(gates: Seq[Gate]): Seq[Gate] = {
    val dups =
      gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  val all: Seq[Gate] = registry(
    RelationalGates.gates ++ SourceGates.gates ++ GraphGates.gates ++
      DedupGates.gates ++ SimilarityGates.gates ++ TextGates.gates ++
      TemporalGates.gates ++ StreamingGates.gates ++ WarehouseGates.gates)
}
