package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winsorization and outlier fencing (SURVEY.md §2.2 P7):
  * `winsorize` clip at quantiles (`filters.py:145-157`), Tukey/IQR fences
  * to null (`is_outlier` `filters.py:161-205`, `remove_outliers`
  * `filters.py:230-263`), NaN-aware weighted mean (`filters.py:208-228`).
  *
  * Quantiles are exact (`percentile`) to match the oracle — a scalar pair
  * per column, computed in one aggregate pass and folded back as literals
  * (no second shuffle for the clip itself).
  */
object Outliers {

  /** Clip `valueCol` at its [lo, hi] exact quantiles. */
  def winsorize(df: DataFrame, valueCol: String, lo: Double = 0.05,
                hi: Double = 0.95, outCol: String = "winsorized"): DataFrame = {
    val r = df.agg(
      expr(s"percentile($valueCol, $lo)").as("lo"),
      expr(s"percentile($valueCol, $hi)").as("hi")).head()
    val (l, h) = (r.getDouble(0), r.getDouble(1))
    df.withColumn(outCol, clip(col(valueCol), l, h))
  }

  def clip(v: Column, lo: Double, hi: Double): Column =
    when(v < lo, lo).when(v > hi, hi).otherwise(v)

  /** Tukey fences: values outside [q1 − f·IQR, q3 + f·IQR] → null
    * (`filters.py:161-205`, default f=1.5).
    */
  def iqrFence(df: DataFrame, valueCol: String, factor: Double = 1.5,
               outCol: String = "fenced"): DataFrame = {
    val r = df.agg(
      expr(s"percentile($valueCol, 0.25)").as("q1"),
      expr(s"percentile($valueCol, 0.75)").as("q3")).head()
    val (q1, q3) = (r.getDouble(0), r.getDouble(1))
    val iqr = q3 - q1
    val (lo, hi) = (q1 - factor * iqr, q3 + factor * iqr)
    df.withColumn(outCol,
      when(col(valueCol) < lo || col(valueCol) > hi, lit(null)).otherwise(col(valueCol)))
  }

  /** [[winsorize]] + [[iqrFence]] fused: all four quantiles come from ONE
    * aggregate pass over the data instead of two (each `head()` is a full
    * scan + driver round-trip — at corpus scale the quantile pass IS the
    * cost, so halving the passes halves the op).
    */
  def winsorizeAndFence(df: DataFrame, valueCol: String,
                        lo: Double = 0.05, hi: Double = 0.95,
                        factor: Double = 1.5,
                        winCol: String = "winsorized",
                        fenceCol: String = "fenced"): DataFrame = {
    val r = df.agg(
      expr(s"percentile($valueCol, array($lo, $hi, 0.25, 0.75))").as("q")).head()
    val q = r.getSeq[Double](0)
    val (l, h, q1, q3) = (q(0), q(1), q(2), q(3))
    val iqr = q3 - q1
    val (fl, fh) = (q1 - factor * iqr, q3 + factor * iqr)
    df.withColumn(winCol, clip(col(valueCol), l, h))
      .withColumn(fenceCol,
        when(col(valueCol) < fl || col(valueCol) > fh, lit(null))
          .otherwise(col(valueCol)))
  }
}
