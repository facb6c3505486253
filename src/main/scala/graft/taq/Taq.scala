package graft.taq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{AsOf, WindowOps}

/** Intraday tick microstructure kernels (SURVEY.md §2.8, §3.3; reference:
  * `finds/readers/taq.py`). The reference iterates gzip'd ticks one
  * symbol at a time (its manual partitioning, taq.py:173-204); here
  * symbol is just a partition key and every kernel is a declarative plan
  * over all symbols at once.
  */
object Taq {

  /** Trade cleaning (clean_trade taq.py:293-340): positive price/size, no
    * correction, no excluded sale conditions, inside the session. The
    * default excluded set is the reference's full "MOZBTLGWJK145789"
    * (extended-hours T included); null-condition trades are KEPT — a null
    * cond must not be silently dropped by three-valued `NOT rlike`.
    */
  def cleanTrades(trades: DataFrame, excludedCondChars: String = "MOZBTLGWJK145789"): DataFrame =
    trades.where(col("price") > 0 && col("volume") > 0 && col("corr") === 0
      && (col("cond").isNull || !col("cond").rlike(s"[$excludedCondChars]")))

  /** Quote cleaning (clean_nbbo taq.py:342-380): positive prices/sizes,
    * offer > bid, spread cap, best-sequence per timestamp, unchanged
    * consecutive quotes dropped.
    */
  def cleanQuotes(quotes: DataFrame, maxSpread: Double = 5.0): DataFrame = {
    val base = quotes.where(col("bid") > 0 && col("ask") > 0
      && col("bidsize") > 0 && col("asksize") > 0
      && col("ask") > col("bid") && (col("ask") - col("bid")) <= maxSpread)
    val lastPerTs = graft.ops.Dedup.keepLast(base, Seq("symbol", "ts"), Seq(col("seqno")))
    val w = Window.partitionBy("symbol").orderBy("ts", "seqno")
    lastPerTs
      .withColumn("__chg",
        lag(col("bid"), 1).over(w).isNull ||
        lag(col("bid"), 1).over(w) =!= col("bid") ||
        lag(col("ask"), 1).over(w) =!= col("ask") ||
        lag(col("bidsize"), 1).over(w) =!= col("bidsize") ||
        lag(col("asksize"), 1).over(w) =!= col("asksize"))
      .where(col("__chg")).drop("__chg")
  }

  /** Trade-quote alignment (align_trades taq.py:383-415): prevailing
    * midquote 1ns before the trade (backward as-of), forward midquote
    * `fwdUs` later, and the Lee-Ready sign — midquote test with tick-test
    * fallback (taq.py:584-587).
    */
  def alignTrades(trades: DataFrame, quotes: DataFrame, fwdUs: Long): DataFrame = {
    val q = quotes.select(col("symbol"), col("us"),
      ((col("bid") + col("ask")) / 2).as("mid"))
    val prev = AsOf.joinBackward(
      trades.withColumn("us", col("us") - 1), q,
      Seq("symbol"), "us", Seq("mid"), allowExact = true)
      .withColumn("us", col("us") + 1)
      .withColumnRenamed("mid", "prev_mid")
    val fwd = AsOf.joinBackward(
      prev.withColumn("us", col("us") + fwdUs), q,
      Seq("symbol"), "us", Seq("mid"), allowExact = true)
      .withColumn("us", col("us") - fwdUs)
      .withColumnRenamed("mid", "fwd_mid")
    val w = Window.partitionBy("symbol").orderBy("us", "seqno")
    fwd.withColumn("tick_sign", WindowOps.tickSign(col("price"), w))
      .withColumn("sign",
        when(col("price") > col("prev_mid"), 1.0)
          .when(col("price") < col("prev_mid"), -1.0)
          .otherwise(col("tick_sign")))
  }

  /** Tumbling trade bins (bin_trades taq.py:494-602): per (symbol, bin):
    * volume, counts, first/last/min/max price, VWAP, and signed effective
    * half-spread vs prevailing mid. `binUs` in microseconds; bins are
    * left-closed and labeled by their start.
    */
  def binTrades(aligned: DataFrame, binUs: Long): DataFrame = {
    val bin = (col("us").cast("long") / binUs).cast("long") * binUs
    aligned.groupBy(col("symbol"), bin.as("bin_us"))
      .agg(sum(col("volume")).as("volume"),
        count(lit(1)).as("n_trades"),
        // (us, seqno) tie-break: same-microsecond trades are routine and
        // min_by on us alone picks an arbitrary one of the tied rows —
        // the same order alignTrades' tick-test window already uses
        min_by(col("price"), struct(col("us"), col("seqno"))).as("first_price"),
        max_by(col("price"), struct(col("us"), col("seqno"))).as("last_price"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"),
        (sum(col("price") * col("volume")) / sum(col("volume"))).as("vwap"),
        // volume-weighted, as the reference's 'effective' (taq.py:575-580):
        // Σ sign·(price−mid)·volume / Σ volume over rows with a known mid
        (sum(when(col("prev_mid").isNotNull,
            col("sign") * (col("price") - col("prev_mid")) * col("volume")))
          / sum(when(col("prev_mid").isNotNull, col("volume"))))
          .as("eff_halfspread"))
  }
}
