package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward / forward) joins — the single most load-bearing operator
  * family in the reference (SURVEY.md §2.3 J2/J3/J5, §2.5 W1/W8):
  * `Stocks.get_many(exact=False)` `stocks.py:336-351`, the correlated
  * link-subquery in `Structured.get_linked` `structured.py:274-328`, and the
  * prevailing-quote alignment `taq.py:383-415`.
  *
  * Implementation is the scale-safe union-merge form, NOT a range join:
  * tag both sides, union on the key, sort by (time, side), and carry the
  * latest right-side ROW forward as one `last(struct(values), ignoreNulls)`
  * window — a single struct, not per-column fills, so every attribute
  * comes from the same prevailing row even when that row carries nulls
  * (per-column fills would stitch a null attribute from an older row,
  * diverging from pandas merge_asof and the reference's correlated-MAX
  * link join — the round-5 ADVICE finding). One shuffle on the join key,
  * zero candidate-pair explosion — at 100 TB both sides hash-partition
  * by key and each partition is a linear merge (Catalyst plans a single
  * sort per partition; AQE handles skew).
  */
object AsOf {

  /** Backward as-of join: for each left row, attach `valueCols` from the
    * latest right row with `right(timeCol) <= left(timeCol)` (strict `<`
    * when `allowExact=false`) matching on `keys`.
    *
    * Right-side ties at the same timestamp resolve to the last row by
    * `tieBreak` ordering (reference sorts then `keep='last'`,
    * `stocks.py:347-350`).
    *
    * One path per call shape: without `tieBreak` this is the native
    * sort-merge operator ([[graft.plans.AsOfJoin]], SURVEY §4.2.1: one
    * exchange + one sort per side, no window); with it, the union-merge
    * form, because the native merge keeps input order for right-side
    * time ties.
    */
  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valueCols: Seq[String],
      allowExact: Boolean = true,
      tieBreak: Option[String] = None): DataFrame =
    if (tieBreak.isEmpty)
      graft.plans.AsOfJoin.joinBackward(left, right, keys, timeCol, valueCols, allowExact)
    else unionMergeBackward(left, right, keys, timeCol, valueCols, allowExact, tieBreak)

  /** The union-merge backward as-of join: the `tieBreak` path of
    * [[joinBackward]] and the reference the native operator is
    * differential-tested against (AsOfStrategySpec, AsOfPropertySpec,
    * PlanSpec).
    */
  private[graft] def unionMergeBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valueCols: Seq[String],
      allowExact: Boolean = true,
      tieBreak: Option[String] = None): DataFrame = {
    val leftCols = left.columns
    // side marker orders right rows before left rows at equal time when
    // exact matches are allowed (so left sees them), after when not.
    val rightSide = if (allowExact) 0 else 2
    val lTagged = left.withColumn("__side", lit(1))
    // ONE struct per right row: left rows get a null struct (skipped by
    // ignoreNulls); a right row's struct is non-null even when individual
    // attributes are null, so the prevailing ROW wins wholesale
    val rProj = keys.map(col) ++ Seq(col(timeCol)) ++
      Seq(struct(valueCols.map(col): _*).as("__vs"))
    val rTagged = right.select(rProj: _*).withColumn("__side", lit(rightSide))

    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val tb = tieBreak.map(c => col("__vs").getField(c).asc_nulls_first).toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(timeCol).asc, col("__side").asc) ++ tb): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__fs", last(col("__vs"), ignoreNulls = true).over(w))
    filled.where(col("__side") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c => col("__fs").getField(c).as(c)): _*)
  }

  /** Forward as-of join: latest→earliest mirror (right row with
    * `right(timeCol) >= left(timeCol)`), used for the +5min forward
    * midquote in `taq.py:406-411` (W8).
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valueCols: Seq[String],
      allowExact: Boolean = true,
      tieBreak: Option[String] = None): DataFrame = {

    val leftCols = left.columns
    val rightSide = if (allowExact) 2 else 0
    val lTagged = left.withColumn("__side", lit(1))
    val rProj = keys.map(col) ++ Seq(col(timeCol)) ++
      Seq(struct(valueCols.map(col): _*).as("__vs"))
    val rTagged = right.select(rProj: _*).withColumn("__side", lit(rightSide))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val tb = tieBreak.map(c => col("__vs").getField(c).asc_nulls_last).toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(timeCol).asc, col("__side").asc) ++ tb): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = unioned.withColumn("__fs", first(col("__vs"), ignoreNulls = true).over(w))
    filled.where(col("__side") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c => col("__fs").getField(c).as(c)): _*)
  }

  /** As-of *link* join (J3/J4, `structured.py:274-328`): attach link-table
    * attributes prevailing at each fact row's date — the decorrelated form
    * of the reference's `MAX(linkdt) <= date` correlated subquery. Links
    * with `linkDate = 0` (reference encodes "always valid" as 0,
    * `pstat.py:449-455`) match any fact date for free: 0 sorts before every
    * real YYYYMMDD, so the backward merge picks it only when nothing later
    * prevails. Left rows with no eligible link keep nulls (LEFT JOIN).
    */
  def linkJoin(
      fact: DataFrame,
      links: DataFrame,
      key: String,
      factDate: String,
      linkDate: String,
      linkCols: Seq[String]): DataFrame = {
    val r = links.withColumn(factDate, col(linkDate))
    joinBackward(fact, r, Seq(key), factDate, linkCols)
  }
}
