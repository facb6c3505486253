package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-function kernels (SURVEY.md §2.5): forward-fill (W9), tick test
  * (W7), gaps-and-islands (W6), running max / drawdown (W4), lag/diff
  * transform chains (W5), reverse cumulative product (W10), release
  * numbering (W12).
  */
object WindowOps {

  /** Forward-fill: last non-null value at or before the current row
    * (`taq.py:556`, `real_time.py:88`).
    */
  def ffill(v: Column, w: WindowSpec): Column =
    last(v, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Tick test (`align_trades` `taq.py:412-413`): sign of price change vs
    * previous trade — `np.sign(diff).fillna(0)` exactly, so zero-change
    * trades and the first trade get sign 0 (the reference keeps zeros;
    * see [[classicTickSign]] for the textbook zero-run forward-fill).
    */
  def tickSign(price: Column, w: WindowSpec): Column =
    coalesce(signum(price - lag(price, 1).over(w)), lit(0.0))

  /** Classic tick test: zero-runs forward-filled with the prior nonzero
    * sign (a deliberate variant — NOT what `align_trades` computes).
    */
  def classicTickSign(price: Column, w: WindowSpec): Column = {
    val raw = signum(price - lag(price, 1).over(w))
    ffill(when(raw =!= 0, raw), w)
  }

  /** Gaps-and-islands run id (`Alfred.date_spans` `alfred.py:244-259`):
    * increments whenever `flag` changes from the previous row.
    */
  def islandId(flag: Column, w: WindowSpec): Column = {
    val changed = when(lag(flag, 1).over(w).isNull ||
      lag(flag, 1).over(w) =!= flag, 1).otherwise(0)
    sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** Running maximum (drawdown numerator, `maximum_drawdown`
    * `finance.py:286-307`).
    */
  def runningMax(v: Column, w: WindowSpec): Column =
    max(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Cumulative sum. */
  def cumSum(v: Column, w: WindowSpec): Column =
    sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Reverse cumulative product over FOLLOWING rows, excluding the current
    * one — the split-factor back-adjustment shape
    * (`real_time.py:71-80`, W10): `shift(-1) reversed cumprod reversed`.
    * Log-sum form assumes positive factors (split factors are); a
    * non-positive factor in the window (retx ≤ −1, e.g. a special
    * dividend exceeding the prior close) would make `log` null and
    * `sum` silently SKIP it — every earlier price would be wrong with
    * no signal — so the result is NULL instead when any following
    * factor is ≤ 0 (the same hazard CompoundReturn documents).
    */
  def reverseCumProdAfter(factor: Column, w: WindowSpec): Column = {
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    when(min(factor).over(after) <= 0, lit(null).cast("double"))
      .otherwise(exp(coalesce(sum(log(factor)).over(after), lit(0.0))))
  }

  /** Release sequence number per observation date (`alfred.py:388-393`,
    * W12): 0-based rank of realtime_start within each date.
    */
  def releaseNum(w: WindowSpec): Column = row_number().over(w) - 1

  /** Percent change over k periods (`Alfred.transform` tcode pipelines,
    * `alfred.py:205-242`, W5).
    */
  def pctChange(v: Column, k: Int, w: WindowSpec): Column =
    v / lag(v, k).over(w) - 1

  def diffK(v: Column, k: Int, w: WindowSpec): Column =
    v - lag(v, k).over(w)
}
