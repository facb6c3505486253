package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.DataType
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
  * hash-partition by key. Every row of one key lands in one task, and
  * AQE's skew-join split does not apply to this node (it matches only
  * sort-merge and shuffled-hash joins), so a hot key is one long task.
  * Each key pair and the time pair are compared in their common wider
  * type (int against bigint as bigint, date against timestamp as
  * timestamp); a pair with none is rejected. The merge carries the
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
    *
    * A key or time column whose two sides differ in type is cast to the
    * common wider type on the side that needs it (the left side's cast
    * rides in an extra column that the result drops): the merge compares
    * both sides with one ordering, and the shuffle must hash a key to the
    * same partition from either side.
    */
  private def merge(left: DataFrame, right: DataFrame, keys: Seq[String],
                    timeCol: String, valueCols: Seq[String], allowExact: Boolean,
                    tieBreak: Option[String], forward: Boolean): DataFrame = {
    def typeOf(df: DataFrame, c: String): DataType =
      df.schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"column $c not found")).dataType
    val wide = (keys :+ timeCol).map { c =>
      val (l, r) = (typeOf(left, c), typeOf(right, c))
      c -> TypeCoercion.findWiderTypeWithoutStringPromotion(Seq(l, r)).getOrElse(
        throw new IllegalArgumentException(
          s"as-of column $c: ${l.simpleString} and ${r.simpleString} have no common type"))
    }.toMap
    def cast(df: DataFrame, c: String): Option[DataType] =
      wide.get(c).filter(_ != typeOf(df, c))
    val rCols = ((keys :+ timeCol) ++ valueCols ++ tieBreak).distinct
    val rPlan = Bridge.analyzed(right.select(rCols.zipWithIndex.map { case (c, i) =>
      cast(right, c).fold(col(c))(col(c).cast).as(s"__asof_r$i") }: _*))
    val rAttr = rCols.zip(rPlan.output).toMap
    val lOut = Bridge.analyzed(left).output
    val lCast = (keys :+ timeCol).distinct.flatMap(c => cast(left, c).map(c -> _))
    val lPlan = Bridge.analyzed(if (lCast.isEmpty) left else left.select(col("*") +:
      lCast.zipWithIndex.map { case ((c, t), i) => col(c).cast(t).as(s"__asof_l$i") }: _*))
    val lCastAttr = lCast.map(_._1).zip(lPlan.output.drop(lOut.length)).toMap
    def lAttr(n: String): Attribute = lCastAttr.getOrElse(n, lOut.find(_.name == n).get)
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(lAttr), keys.map(rAttr),
      lAttr(timeCol), rAttr(timeCol),
      valueCols.map(rAttr), allowExact, tieBreak.map(rAttr), forward)
    val carried = node.output.drop(lPlan.output.length)
    Bridge.ofRows(left.sparkSession, Project(lOut ++
      carried.zip(valueCols).map { case (a, c) => Alias(a, c)() }, node))
  }
}
