package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One oracle-checked catalog entry: the Spark plan and (when the op is
  * SQL-expressible) the equivalent ANSI SQL the driver runs in DuckDB over
  * the same parquet tables. Column names MUST match between the two — the
  * driver's compare sorts columns by name before hashing.
  */
case class Q(name: String, fn: (SparkSession, String) => DataFrame, sql: Option[String])

/** Cross-engine hash-stability helpers.
  *
  * Float discipline (what makes DuckDB and Spark agree bit-for-bit):
  *   - big SUMs are order-dependent in double → per-row cast to
  *     DECIMAL(38,6) (deterministic nearest-rounding of the identical
  *     double), exact decimal sum, cast back to double ([[dsum]]);
  *   - everything else deterministic-per-row or noise ≪ 1e-6 → round(,6);
  *   - integral outputs normalized to BIGINT ([[bi]]) so parquet physical
  *     types match the oracle's.
  */
object QHelp {
  def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")
  def bi(c: Column): Column = c.cast("long")
  def r6(c: Column): Column = round(c, 6)
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** null-if-equal helper (pandas NaN analog in the testdata mapping). */
  def nullIf(c: Column, v: Double): Column = when(c =!= v, c)
}

object Catalog {
  val all: Seq[Q] =
    Relational.qs ++ Joins.qs ++ Aggs.qs ++ WindowsQ.qs ++ EventsQ.qs ++ TextQ.qs ++
      Batch2.qs ++ Batch3.qs ++ GraphQ.qs ++ BacktestQ.qs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.sql.map(q.name -> _)).toMap
}
