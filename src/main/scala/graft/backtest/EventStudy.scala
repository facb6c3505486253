package graft.backtest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event studies (SURVEY.md §3.2; reference:
  * `finds/backtesting/eventstudy.py:72-284`).
  *
  * Input is the LONG event matrix `(event_id, rel, ret, mkt)` produced by
  * the windowed range join (J7 — see the `j7_eventmatrix` catalog query):
  * one row per event per relative day. CAR/BHAR are cumulative windows
  * within each event; the cross-event summary is a groupBy(rel). The
  * events×days matrix never materializes on the driver.
  */
object EventStudy {

  /** Abnormal-return paths (eventstudy.py:120-122):
    * car = Σ (ret − mkt), bhar = Π(1+ret) − Π(1+mkt), cumulative in rel.
    */
  def paths(ars: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_id").orderBy("rel")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ars
      .withColumn("ar", col("ret") - col("mkt"))
      .withColumn("car", sum(col("ar")).over(w))
      .withColumn("bhar", // shared growth kernel, not an inline re-derivation
        graft.ops.CompoundReturn.cumGrowth(col("ret"), w)
          - graft.ops.CompoundReturn.cumGrowth(col("mkt"), w))
  }

  /** Mean path and naive t-stats per relative day (eventstudy.py:231,
    * 264-278 without the KPP overlap correction — that correction needs
    * the event-date overlap structure and runs on the aggregated matrix).
    */
  def summarize(paths: DataFrame, valueCol: String = "car"): DataFrame =
    paths.groupBy("rel")
      .agg(avg(col(valueCol)).as("mean"),
        stddev_samp(col(valueCol)).as("std"),
        count(lit(1)).as("n"))
      .withColumn("tstat", col("mean") / (col("std") / sqrt(col("n"))))
      .orderBy("rel")

  /** Kolari-Pape-Pynnönen (2018) eqn 15 overlap-corrected summary
    * (eventstudy.py:181-284 fit):
    *
    *   effective N = n / (1 + ρ·τ·(n−1))
    *
    * with τ = average pairwise post-window overlap of announcement dates
    * (truncated at 0, relative to post length D) and ρ = average max
    * cross-correlation between the dates' post-announcement return
    * series (via [[graft.ml.Filters.align]], the fft_align analog).
    *
    * The DISTRIBUTED stage is the portfolio grouping by announcement
    * date (same-date events averaged, eventstudy.py:231) done upstream;
    * this runs on the collected dates × window matrix, which is small by
    * construction.
    *
    * @param carByDate (tradingDaySeq, cum-path over rel −left..post),
    *                  one row per distinct announcement date, sorted paths
    * @param window    event window length (right − left + 1)
    * @param d         post-announcement length (post − right)
    */
  def fitKpp(carByDate: Array[(Int, Array[Double])], window: Int, d: Int,
             rhoOverride: Option[Double] = None): KppSummary = {
    val n = carByDate.length
    require(n > 1, "need at least two distinct announcement dates")
    val L = carByDate.head._2.length

    // 1. average truncated overlap of all date pairs (eventstudy.py:236-245)
    val seqs = carByDate.map(_._1).sorted
    val overlaps = for {
      k <- seqs.indices; j <- (k + 1) until seqs.length
    } yield math.max(0, d - (seqs(j) - seqs(k)))
    val tau = if (overlaps.isEmpty) 0.0 else overlaps.sum.toDouble / overlaps.size / d

    // 2. average max cross-correlation of post-announcement log-diff
    //    returns between dates (eventstudy.py:248-254)
    val rho = rhoOverride.getOrElse {
      val post = carByDate.map { case (_, path) =>
        val logp = path.map(v => math.log(1 + math.max(v, -0.99)))
        (window until L).map(i => logp(i) - logp(i - 1)).toArray
      }
      // exact = true: ρ feeds the oracle-compared a10_kpp row (rounded
      // to 6 decimals); the FFT path's 1e-15 round-off must not flip a
      // value on a rounding boundary once post windows reach 512 points
      val corrs = graft.ml.Filters.align(post, exact = true)
        .map(_._4).filterNot(_.isNaN)
      if (corrs.isEmpty) 0.0 else corrs.sum / corrs.size
    }

    // 3. KPP eqn 15 (eventstudy.py:256-263)
    val effective = n / (1 + rho * tau * (n - 1))

    def std(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      math.sqrt(xs.map(v => (v - m) * (v - m)).sum / (xs.length - 1))
    }
    val atWinEnd = carByDate.map(_._2(window - 1))
    val windowMean = atWinEnd.sum / n
    val windowT = windowMean / (std(atWinEnd) / math.sqrt(effective))
    val postX = carByDate.map { case (_, p) => p(L - 1) - p(window - 1) }
    val postMean = postX.sum / n
    val postT = postMean / (std(postX) / math.sqrt(effective))
    KppSummary(windowMean, windowT, postMean, postT, rho, tau, effective, n)
  }
}

/** KPP summary row (eventstudy.py:270-281). */
case class KppSummary(window: Double, windowT: Double, post: Double,
                      postT: Double, rho: Double, tau: Double,
                      effective: Double, days: Int)
