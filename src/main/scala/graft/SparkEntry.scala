package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.gates.Gates
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query (gene-set pathway enrichment, reference
    * compath/manager.py:203-236) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a6_enrich")(spark, "/root/testdata/sf0.001")
  /** One entry per registered gate ([[graft.gates.Gates.all]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query has an oracle: the
    * two approximate/engine-hash ops are gated via boolean invariant
    * queries (s_lsh_recall, d_simhash_invariant) instead of raw dumps. */
  def oracleSql: Map[String, String] =
    Gates.all.map(g => g.name -> g.oracleSql).toMap
}
