package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Int-date (YYYYMMDD) column algebra.
  *
  * The reference keeps dates as plain ints YYYYMMDD throughout the SQL layer
  * (`finds/structured/busday.py:288-395`); these are the Spark-column
  * equivalents of its year/month/day extraction by integer division and
  * month/quarter-end rounding (SURVEY.md §2.7 F1). Pure `Column` arithmetic —
  * codegen'd, no UDFs.
  */
object DateInt {

  /** TimestampType/DateType → int YYYYMMDD. */
  def fromTimestamp(ts: Column): Column =
    (year(ts) * 10000 + month(ts) * 100 + dayofmonth(ts)).cast("int")

  /** int YYYYMMDD → year (busday.py:372-378). */
  def yearOf(d: Column): Column = (d / 10000).cast("int")

  /** int YYYYMMDD → month 1-12 (busday.py:380-387). */
  def monthOf(d: Column): Column = ((d / 100) % 100).cast("int")

  /** Calendar month-end rounding of an int date (busday.py:329-344):
    * last calendar day of the month containing `d`.
    */
  def endmo(d: Column): Column = {
    val y = yearOf(d); val m = monthOf(d)
    val lastDay = when(m.isin(1, 3, 5, 7, 8, 10, 12), 31)
      .when(m.isin(4, 6, 9, 11), 30)
      .otherwise(when((y % 4 === 0 && y % 100 =!= 0) || y % 400 === 0, 29).otherwise(28))
    (y * 10000 + m * 100 + lastDay).cast("int")
  }

  /** Quarter-end rounding (busday.py:346-370). */
  def endqr(d: Column): Column = {
    val y = yearOf(d)
    val q = ((monthOf(d) - 1) / 3).cast("int")
    val m = q * 3 + 3
    val lastDay = when(m.isin(3, 12), 31).otherwise(30)
    (y * 10000 + m * 100 + lastDay).cast("int")
  }

  /** int YYYYMMDD → DateType (IO boundary only; SURVEY.md §1.4). */
  def toDate(d: Column): Column =
    to_date(format_string("%08d", d), "yyyyMMdd")

  /** Fama-French fiscal-year mapping (busday.py:457-468): datadates in
    * Jan..Jun map to June-end of the same year... actually reference maps
    * fiscal-year-end month to the June rebalance convention: months 1-5
    * → June 30 of same year, months 6-12 → June 30 of following year.
    */
  def ffMonthEnd(d: Column): Column = {
    val y = yearOf(d)
    when(monthOf(d) < 6, y * 10000 + 630).otherwise((y + 1) * 10000 + 630).cast("int")
  }
}
