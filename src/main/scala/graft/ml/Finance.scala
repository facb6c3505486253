package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Finance math kernels (SURVEY.md §2.7 F8; reference:
  * `finds/recipes/finance.py:83-276`). Scalar bond math runs on the
  * driver (per-instrument, tiny); the OHLC volatility estimators are
  * aggregate Columns — distributed over (date × stock) panels.
  */
object Finance {

  /** Present value of a bond (finance.py:108-133): `coupon` annual rate,
    * `n` remaining coupons, `m` compounding periods/year, one yield-to-
    * maturity or per-period spot rates.
    */
  def bondPrice(coupon: Double, n: Int, m: Int, yields: Seq[Double],
                par: Double = 1.0): Double = {
    val ys = if (yields.size == 1) Seq.fill(n)(yields.head) else yields
    require(ys.size == n, "number of spot rates must equal number of coupons")
    (1 to n).map { t =>
      math.pow(1 + ys(t - 1) / m, -t) * (coupon / m + (if (t == n) par else 0.0))
    }.sum
  }

  def bondPrice(coupon: Double, n: Int, m: Int, ytm: Double): Double =
    bondPrice(coupon, n, m, Seq(ytm))

  /** Macaulay duration (finance.py:155-175). */
  def macaulayDuration(coupon: Double, n: Int, m: Int, price: Double,
                       yields: Seq[Double], par: Double = 1.0): Double = {
    val ys = if (yields.size == 1) Seq.fill(n)(yields.head) else yields
    (1 to n).map { t =>
      math.pow(1 + ys(t - 1) / m, -t) * (t.toDouble / m) *
        (coupon / m + (if (t == n) par else 0.0))
    }.sum / price
  }

  /** Bootstrap the spot rate to maturity of a par bond from its yield and
    * the shorter spots (finance.py:85-106): used iteratively to build a
    * spot curve from a par-yield curve.
    */
  def bootstrapSpot(coupon: Double, spots: Seq[Double], m: Int,
                    price: Double = 1.0): Double = {
    if (spots.isEmpty) return coupon / price
    val n = spots.size + 1
    val discount = spots.zipWithIndex.map { case (s, t) => math.pow(1 + s / m, -(t + 1)) }
    val lastPayment = 1 + coupon / m
    val lastPv = price - discount.sum * coupon / m
    (math.pow(lastPayment / lastPv, 1.0 / n) - 1) * m
  }

  /** Forward rates from spot rates (finance.py:135-153). */
  def forwardsFromSpots(spots: Seq[Double], m: Int, skip: Int = 0): Seq[Double] = {
    require(spots.size >= 2, "require at least two spot rates")
    (1 until spots.size).map { t =>
      val n = skip + t
      val num = math.pow(1 + spots(n) / m, n)
      val den = math.pow(1 + spots(n - 1) / m, n - 1)
      (num / den - 1) * m
    }
  }

  /** EWMA halflife from alpha (finance.py:391-398). */
  def halflife(alpha: Double): Double =
    if (alpha > 0 && alpha < 1) -math.log(2) / math.log(1 - alpha)
    else if (alpha > 0) Double.PositiveInfinity else 0.0

  /** Parkinson high-low volatility as an aggregate Column
    * (hl_vol finance.py:230-248): sqrt(mean(ln(hi/lo)²) / (4 ln 2)).
    */
  def parkinsonVol(high: Column, low: Column): Column =
    sqrt(avg(pow(log(high / low), 2)) / (4 * math.log(2)))

  /** Garman-Klass OHLC volatility as an aggregate Column
    * (ohlc_vol zero_mean finance.py:250-276).
    */
  def garmanKlassVol(open: Column, high: Column, low: Column, close: Column): Column =
    sqrt(avg(pow(log(high / low), 2) / 2
      - lit(2 * math.log(2) - 1) * pow(log(close / open), 2)))
}
