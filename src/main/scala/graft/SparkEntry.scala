package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator in SURVEY.md §2 appears as one `queries` entry; every
  * oracle-checkable one has a DuckDB SQL twin in `oracleSql` producing the
  * same column names and engine-portable deterministic values (§3).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full ncagg pipeline: valid -> bounds -> dedup -> gap fill. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.QueryRegistry.queries("q_agg_full")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QueryRegistry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.QueryRegistry.oracleSql
}
