package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{AsOf, CompoundReturn, Dedup, IntervalJoin}

/** Stocks-dataset facade — the reference's query surface re-expressed
  * over a long fact table (SURVEY.md §2.2 P1/P2, §2.3 J1/J2/J6/J7,
  * §2.4 A1, §2.5 W1; reference: `finds/structured/stocks.py`).
  *
  * `facts`: (id, date, fields...) with int YYYYMMDD dates — the shape of
  * CRSP daily/monthly. Every method is a declarative plan; nothing
  * collects. At cluster scale, store `facts` bucketed by `id` so the
  * as-of/window operations shuffle once or not at all.
  */
class Stocks(facts: DataFrame, id: String = "permno", date: String = "date") {

  /** P1: field panel over a date range and optional id set
    * (get_series stocks.py:55-69).
    */
  def getSeries(field: String, beg: Int, end: Int, ids: Seq[Any] = Nil): DataFrame = {
    val ranged = facts.where(col(date).between(beg, end))
    (if (ids.isEmpty) ranged else ranged.where(col(id).isInCollection(ids)))
      .select(col(id), col(date), col(field))
  }

  /** P2/W1: cross-section of fields prevailing at `asof`, looking back to
    * `start` exclusive (get_section stocks.py:354-407). `start = asof`
    * gives the exact-date section.
    */
  def getSection(fields: Seq[String], asof: Int, start: Int): DataFrame = {
    val ranged =
      if (start == asof) facts.where(col(date) === asof)
      else facts.where(col(date) > start && col(date) <= asof)
    Dedup.keepLast(ranged, Seq(id), Seq(col(date)))
      .select((id +: date +: fields).map(col): _*)
  }

  /** A1: compounded return per id over [beg, end]
    * (get_ret stocks.py:128-145) with pandas min_count=1 null semantics.
    */
  def getRet(retField: String, beg: Int, end: Int): DataFrame =
    facts.where(col(date).between(beg, end))
      .groupBy(col(id))
      .agg(CompoundReturn.compoundRet(col(retField)).as("ret"),
        count(col(retField)).as("n"))

  /** J1/J2: batch lookup of `fields` at (id, date) key pairs — exact
    * match or backward as-of (get_many stocks.py:316-351).
    */
  def getMany(keys: DataFrame, fields: Seq[String], exact: Boolean = true): DataFrame =
    if (exact) keys.join(facts.select((id +: date +: fields).map(col): _*),
      Seq(id, date), "left")
    else AsOf.joinBackward(keys, facts.select((id +: date +: fields).map(col): _*),
      Seq(id), date, fields)

  /** J6/J7: event-window panel — for each (id, event date), all fact rows
    * within `left..right` calendar days, labeled by relative day
    * (get_window stocks.py:227-294). Uses a binned range join; day
    * arithmetic via DateType for calendar correctness.
    */
  def getWindow(field: String, events: DataFrame, left: Int, right: Int): DataFrame = {
    val toDay = (c: org.apache.spark.sql.Column) =>
      datediff(graft.core.DateInt.toDate(c), lit("1970-01-01").cast("date")).cast("long")
    val ev = events.select(col(id), col(date).as("event_date"))
      .withColumn("t0", toDay(col("event_date")))
      .withColumn("lo", col("t0") + left).withColumn("hi", col("t0") + right)
      .withColumn("event_id", monotonically_increasing_id())
    val f = facts.select(col(id), col(date), col(field))
      .withColumn("t", toDay(col(date)))
    IntervalJoin.joinRange(ev, f, Seq(id), "t", "lo", "hi",
        math.max(right - left + 1, 1).toLong)
      .withColumn("rel", col("t") - col("t0"))
      .select(col(id), col("event_date"), col("rel"), col(date), col(field))
  }
}

/** Signals store (SURVEY.md §2.1 S18, §2.5 W1; reference:
  * `finds/structured/signals.py`): long `(id, rebaldate, label, value)`
  * rows partitioned by label; as-of cross-sections via keep-last.
  */
object Signals {

  /** Clean + dedup a signal frame for writing (signals.py:62-101):
    * ±inf → null, drop nulls, keep FIRST per (id, rebaldate) under an
    * ascending value sort — the reference sorts by [permno, rebaldate,
    * label] and drop_duplicates keep='first', resolving duplicate keys to
    * the smallest value.
    */
  def prepare(df: DataFrame, id: String, rebaldate: String, value: String): DataFrame = {
    val cleaned = df.withColumn(value,
      when(col(value).isNotNull && !isnan(col(value)) &&
        col(value) =!= Double.PositiveInfinity &&
        col(value) =!= Double.NegativeInfinity, col(value)))
      .where(col(value).isNotNull)
    Dedup.keepFirst(cleaned, Seq(id, rebaldate), Seq(col(value)))
  }

  /** As-of cross-section: latest signal value per id with rebaldate in
    * (start, asof] (signals.py:28-45).
    */
  def section(signals: DataFrame, id: String, rebaldate: String,
              asof: Int, start: Int): DataFrame =
    Dedup.keepLast(
      signals.where(col(rebaldate) > start && col(rebaldate) <= asof),
      Seq(id), Seq(col(rebaldate)))
}
