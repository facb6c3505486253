package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed rows for the custom-state stream operators. */
case class KeyedValue(key: String, ts: java.sql.Timestamp, value: Double)
case class RunningState(cum: Double, peak: Double)
case class RunningOut(key: String, ts: java.sql.Timestamp,
                      cum: Double, drawdown: Double)
/** A tagged two-stream row: side "q" updates state, side "t" reads it. */
case class TaggedEvent(key: String, ts: java.sql.Timestamp, side: String,
                       value: Double)
case class PrevailingState(ts: Long, value: Double)
case class PrevailingOut(key: String, ts: java.sql.Timestamp, value: Double,
                         prevailing: Option[Double])

/** Event-stream transforms written ONCE and applied to both batch frames
  * and readStream frames (SURVEY.md §2.8): the same function literally
  * runs under `groupBy` in batch and under a watermark in streaming —
  * Structured Streaming's contract, exercised by StreamingSpec (batch
  * result == streamed result on replay).
  */
object EventStreams {

  /** Tumbling-window aggregation (bin_trades taq.py:549-566 shape):
    * count/sum/min/max of `valueCol` per (keyCol, window).
    */
  def tumblingAgg(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, width: String): DataFrame =
    df.groupBy(col(keyCol), window(col(tsCol), width))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .select(col(keyCol), col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n"), col("sum_value"), col("min_value"), col("max_value"))

  /** Watermarked streaming twin of [[tumblingAgg]]: closed windows emit
    * once (append mode), rows later than `lateness` drop.
    */
  def tumblingAggStream(stream: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, width: String,
                        lateness: String): DataFrame =
    tumblingAgg(stream.withWatermark(tsCol, lateness), keyCol, tsCol, valueCol, width)

  /** Session windows by inactivity gap — Spark's native session_window
    * (the streaming-capable form of the batch gaps-and-islands
    * sessionization in the e_session catalog query).
    */
  def sessionAgg(df: DataFrame, keyCol: String, tsCol: String, gap: String): DataFrame =
    df.groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))

  /** STREAMING backward as-of: a union of reference updates (side "q",
    * e.g. quotes) and observations (side "t", e.g. trades) keyed by
    * symbol; per micro-batch the group's rows process in (ts, side)
    * order — updates before observations at equal timestamps — and each
    * observation emits with the PREVAILING (latest ≤ ts) reference value,
    * which persists across batches. The streaming twin of
    * `AsOf.joinBackward` / the Lee-Ready prevailing-quote alignment
    * (`taq.py:383-415`), expressed as `flatMapGroupsWithState` because a
    * stream-stream as-of is not a supported streaming join.
    *
    * Within-batch ordering is exact; an update arriving in a LATER batch
    * than an observation it precedes cannot retro-correct it (append
    * mode) — the same trade-off as any watermarked stream join.
    *
    * `allowExact` mirrors `AsOf.joinBackward`: true (default) lets an
    * observation read an update AT its own timestamp; false takes only
    * STRICTLY-earlier updates — the Lee-Ready alignment semantics
    * (`Taq.alignTrades` shifts trades by us−1 for exactly this), where
    * a same-instant quote is often CAUSED by the trade and reading it
    * is lookahead.
    */
  def prevailingJoin(events: Dataset[TaggedEvent],
                     allowExact: Boolean = true): Dataset[PrevailingOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[PrevailingState, PrevailingOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[TaggedEvent], state: GroupState[PrevailingState]) =>
          var st = state.getOption.orNull
          // equal-ts order follows the mode: allowExact processes the
          // update first (the observation then reads it); strict mode
          // processes the observation first, so a same-ts update cannot
          // overwrite the strictly-earlier state it should read. (A
          // same-ts update from an EARLIER batch already sits in the
          // single-value state — strict mode then yields None, the same
          // cross-batch approximation as the late-arrival trade-off.)
          val qOrd = if (allowExact) 0 else 1
          val out = it.toSeq.sortBy(e => (e.ts.getTime, if (e.side == "q") qOrd else 1 - qOrd))
            .flatMap { e =>
              if (e.side == "q") {
                if (st == null || e.ts.getTime >= st.ts)
                  st = PrevailingState(e.ts.getTime, e.value)
                None
              } else {
                val cut = if (allowExact) e.ts.getTime else e.ts.getTime - 1
                val pv = if (st != null && st.ts <= cut) Some(st.value) else None
                Some(PrevailingOut(key, e.ts, e.value, pv))
              }
            }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** STREAMING twin of the TAQ tumbling trade bins (`Taq.binTrades` /
    * A7): per (symbol, window) volume, counts, first/last/min/max price,
    * VWAP and the volume-weighted signed effective half-spread — the
    * identical aggregate list, under a watermark so closed bins emit
    * once and late trades drop. On a batch frame `withWatermark` is a
    * no-op and this equals the batch bins (parity spec'd).
    *
    * `aligned` carries event-time `tsCol` plus price/volume/sign/
    * prev_mid (the `Taq.alignTrades` output shape). One divergence from
    * the batch twin: first/last tie-break on same-`tsCol` trades —
    * batch `binTrades` breaks ties on (us, seqno), but the streaming
    * schema carries no sequence number, so equal-timestamp first/last
    * is arbitrary here; callers needing the exact batch order should
    * fold the sequence into the event-time column's sub-second digits.
    */
  def binTradesStream(aligned: DataFrame, tsCol: String, width: String,
                      lateness: String): DataFrame =
    aligned.withWatermark(tsCol, lateness)
      .groupBy(col("symbol"), window(col(tsCol), width))
      .agg(sum(col("volume")).as("volume"),
        count(lit(1)).as("n_trades"),
        min_by(col("price"), col(tsCol)).as("first_price"),
        max_by(col("price"), col(tsCol)).as("last_price"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"),
        (sum(col("price") * col("volume")) / sum(col("volume"))).as("vwap"),
        (sum(when(col("prev_mid").isNotNull,
            col("sign") * (col("price") - col("prev_mid")) * col("volume")))
          / sum(when(col("prev_mid").isNotNull, col("volume"))))
          .as("eff_halfspread"))
      .select(col("symbol"), col("window.start").as("bin_start"),
        col("volume"), col("n_trades"), col("first_price"), col("last_price"),
        col("min_price"), col("max_price"), col("vwap"), col("eff_halfspread"))

  /** STREAMING exact dedup — the streaming twin of the batch exact-dedup
    * (`Dedup.exactGroups` / W2): keep the first row per key column set.
    * On a stream this is Spark's native
    * `dropDuplicatesWithinWatermark` — state for a key expires once the
    * watermark passes it, so state stays bounded (an unbounded
    * `dropDuplicates` would accumulate every key forever — the 100 TB
    * failure mode). On a batch frame the same call degrades to plain
    * dropDuplicates semantics.
    */
  def dedupStream(stream: DataFrame, tsCol: String, lateness: String,
                  keyCols: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Event-time interval join, written once for batch and stream (the
    * trades⋈quotes / events⋈events enrichment shape): left rows pair
    * with same-key right rows whose timestamp lies in
    * [leftTs − `before`, leftTs]. Column names must be disjoint except
    * `key`; output carries all columns of both sides.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, before: String): DataFrame =
    left.join(right,
      left(key) === right(key) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs),
      "inner").drop(right(key))

  /** Streaming twin of [[intervalJoin]] — the canonical STREAM-STREAM
    * join: both sides watermarked, the time-range condition lets Spark
    * bound each side's buffered state (right rows are dropped once the
    * left watermark passes rightTs + `before`; late rows beyond
    * `lateness` drop). Append mode; inner join, so no emit-on-timeout
    * semantics to configure.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String, before: String,
                         lateness: String): DataFrame =
    intervalJoin(left.withWatermark(leftTs, lateness),
      right.withWatermark(rightTs, lateness), key, leftTs, rightTs, before)

  /** Per-key running cumulative sum + drawdown over an unbounded stream
    * via `flatMapGroupsWithState` — the W3/W4 (cumsum / running-max
    * drawdown) STREAMING twins. Windows over unbounded history are not
    * expressible with streaming window aggregates; the (cum, peak) pair
    * is exactly the custom state SURVEY §2.8 calls for. Within a
    * micro-batch each group's rows process in event-time order; state
    * carries across batches. Works identically on a batch Dataset
    * (flatMapGroupsWithState on a batch source sees one "batch").
    */
  def runningDrawdown(events: Dataset[KeyedValue]): Dataset[RunningOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[RunningState, RunningOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedValue], state: GroupState[RunningState]) =>
          var st = state.getOption.getOrElse(RunningState(0.0, Double.NegativeInfinity))
          val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
            val cum = st.cum + e.value
            val peak = math.max(st.peak, cum)
            st = RunningState(cum, peak)
            RunningOut(key, e.ts, cum, cum - peak)
          }
          state.update(st)
          out.iterator
      }
  }
}
