package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.plans.AsOfJoinPlan

/** As-of (backward / forward) joins — the single most load-bearing operator
  * family in the reference (SURVEY.md §2.3 J2/J3/J5, §2.5 W1/W8):
  * `Stocks.get_many(exact=False)` `stocks.py:336-351`, the correlated
  * link-subquery in `Structured.get_linked` `structured.py:274-328`, and the
  * prevailing-quote alignment `taq.py:383-415`.
  *
  * Every entry point builds one native sort-merge node
  * ([[graft.plans.AsOfJoinPlan]], SURVEY §4.2.1), NOT a range join: one
  * exchange + one sort per side on the join key, then a linear merge per
  * partition with zero candidate-pair explosion — at 100 TB both sides
  * hash-partition by key (AQE handles skew). The merge carries the
  * prevailing right ROW whole, not per-column fills, so every attribute
  * comes from the same row even when that row carries nulls (per-column
  * fills would stitch a null attribute from an older row, diverging from
  * pandas merge_asof and the reference's correlated-MAX link join — the
  * round-5 ADVICE finding).
  */
object AsOf {

  /** Backward as-of join: for each left row, attach `valueCols` from the
    * latest right row with `right(timeCol) <= left(timeCol)` (strict `<`
    * when `allowExact=false`) matching on `keys`.
    *
    * Right-side ties at the same timestamp resolve to the last row by
    * `tieBreak` ordering, nulls lowest (reference sorts then `keep='last'`,
    * `stocks.py:347-350`); without it, to one of the tied rows.
    */
  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valueCols: Seq[String],
      allowExact: Boolean = true,
      tieBreak: Option[String] = None): DataFrame =
    merge(left, right, keys, timeCol, valueCols, allowExact, tieBreak, forward = false)

  /** Forward as-of join: latest→earliest mirror (right row with
    * `right(timeCol) >= left(timeCol)`), used for the +5min forward
    * midquote in `taq.py:406-411` (W8). Right-side ties resolve to the
    * first row by `tieBreak` ordering, nulls highest.
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valueCols: Seq[String],
      allowExact: Boolean = true,
      tieBreak: Option[String] = None): DataFrame =
    merge(left, right, keys, timeCol, valueCols, allowExact, tieBreak, forward = true)

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

  /** The one builder behind every entry point: left columns plus
    * `valueCols` under their own names. The right side's columns take
    * fresh names (fresh attribute ids) first: the node is not a Catalyst
    * join, so the analyzer dedups no ids under it, and two sides read from
    * one scan would otherwise carry the same ids into the merge.
    */
  private def merge(left: DataFrame, right: DataFrame, keys: Seq[String],
                    timeCol: String, valueCols: Seq[String], allowExact: Boolean,
                    tieBreak: Option[String], forward: Boolean): DataFrame = {
    val rCols = ((keys :+ timeCol) ++ valueCols ++ tieBreak).distinct
    val rPlan = Bridge.analyzed(right.select(
      rCols.zipWithIndex.map { case (c, i) => col(c).as(s"__asof_r$i") }: _*))
    val rAttr = rCols.zip(rPlan.output).toMap
    val lPlan = Bridge.analyzed(left)
    def lAttr(n: String): Attribute = lPlan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(lAttr), keys.map(rAttr),
      lAttr(timeCol), rAttr(timeCol),
      valueCols.map(rAttr), allowExact, tieBreak.map(rAttr), forward)
    val carried = node.output.drop(lPlan.output.length)
    Bridge.ofRows(left.sparkSession, Project(lPlan.output ++
      carried.zip(valueCols).map { case (a, c) => Alias(a, c)() }, node))
  }
}
