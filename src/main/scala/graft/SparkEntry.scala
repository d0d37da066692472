package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory (SURVEY.md §2); each
  * entry has a matching DuckDB oracle in `oracleSql` unless the operator
  * is not SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by nation: lineitem ⋈ orders ⋈ customer ⋈ nation with
    * broadcast dims, partial-agg groupBy — exercises the core join+agg
    * path end-to-end.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q0_flagship")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Queries.oracle
}
