package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The catalog lives in [[graft.queries.Catalog]]; every entry pairs a
  * Spark plan with its DuckDB oracle SQL (when SQL-expressible).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0.
    * The composed SURVEY §3.1 signal backtest — screen → NYSE fractiles
    * → cap-weighted legs → drift → spread return, the reference's
    * headline path (oracle-checked as `b1_backtest`).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("b1_backtest")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Run them on a
    * session tuned once with [[graft.core.Tables.tune]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Catalog.queries

  /** DuckDB-equivalent SQL per query (same column names — the driver's
    * compare sorts columns by name before hashing).
    */
  def oracleSql: Map[String, String] = graft.queries.Catalog.oracleSql
}
