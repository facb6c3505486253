package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.backtest.{Backtesting, EventStudy}
import graft.core.Tables
import graft.ops.CompoundReturn
import QHelp._

/** Composed backtesting-path queries (SURVEY.md §3.1/§3.2): the flagship
  * end-to-end signal backtest (`b1_backtest`), the IBES link build
  * (`j9_ibeslink`, ibes.py:142-158), and the KPP overlap-corrected event
  * study summary (`a10_kpp`, eventstudy.py:236-263). Each stage already
  * passes individually (w13/j11/j14/a1/j2); these pin the COMPOSITIONS
  * with one oracle apiece.
  */
object BacktestQ {

  val qs: Seq[Q] = Seq(

    // §3.1 flagship: momentum signal cross-section → universe screen →
    // NYSE fractiles (k=5) → cap-weighted long/short legs → monthly drift
    // by retx → weighted spread return per month
    // (backtesting.py:17-91 univariate_sorts + backtest.py:101-181 +
    // dailyperformance.py:14-47, composed). Synthetic monthly panel from
    // orders: permno = custkey%100, ret derived from exact decimal sums;
    // signal at year-end y = compound(year-y rets) (momentum), cap =
    // year-y decimal dollar volume, NYSE flag = permno%3=0. Holdings at
    // rebal (y)1231 drift through year y+1. The signal is ROUNDED to 6dp
    // before fractiling so breakpoint comparisons are cross-engine exact.
    Q("b1_backtest", (s, dir) => {
      val o = Tables.orders(s, dir)
      // ~permnos×years×12 rows; feeds THREE consumers (signal compound,
      // year caps, the drifted holding-period panel) — persist so the
      // orders aggregation runs once, not once per consumer. Catalog
      // queries return lazy frames, so these persists are released by
      // the harness (Bench/Verify clearCache between queries); an
      // embedding driver should unpersist via the plan's cached nodes or
      // re-compose from the Backtesting API with its own lifecycle.
      // PERSIST AUDIT (r17, the round-16 VERDICT #4 item): dropping the
      // monthly persist measured 1.64 -> 1.31 s and dropping both it and
      // the cs persist 1.24 s (b1 solo, min-of-6, clean adjacent
      // windows) — the ~0.4 s is fixed InMemoryRelation build latency on
      // 8k/700-row caches. REJECTED anyway: the rebalance-calendar
      // collect (dailyPerformance) is a SEPARATE action, and exchange
      // reuse does not span jobs — un-persisted, the full orders
      // aggregation (the dominant scan+shuffle at corpus scale) runs
      // once per action instead of once. A sub-second local latency is
      // the wrong trade against doubling the base-table pass at 100 TB.
      // ONE orders scan (r17): cap used to be a SECOND full orders
      // aggregation joined back onto sig. Decimal addition is exact and
      // associative, so carrying the month-level DECIMAL(38,6) partial
      // (__msum) in `monthly` and re-summing it per (permno, y) yields
      // the bit-identical cap (same values, same overflow behavior), and
      // signal + cap then come out of ONE aggregation over the persisted
      // monthly frame — no second scan, no sig⋈cap join (guide §1.2
      // "don't compute things twice", §2.4 fewer exchanges). `ret`
      // derives from __msum exactly as before (cast-to-double then the
      // same arithmetic). Oracle SQL unchanged; hash-checked.
      val monthly = o.groupBy((col("o_custkey") % 100).as("permno"),
          year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"))
        .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("__msum"))
        .select(col("permno"), col("y"), col("mo"),
          ((col("__msum").cast("double") % 100) / 1000.0 - 0.045).as("ret"),
          col("__msum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the cross-section is ~permnos×years rows and is scanned four ways
      // by the sort (screen, NYSE population percentiles, label join) —
      // persist the tiny frame instead of re-running the agg chain
      val cs = monthly.groupBy("permno", "y")
        .agg(r6(CompoundReturn.compoundRet(col("ret"))).as("signal"),
          sum(col("__msum")).cast("double").as("cap"))
        .where(col("y") < 1998)
        .select(col("permno"), (col("y") * 10000 + 1231).as("rebaldate"),
          col("signal"), col("cap"), (col("permno") % 3 === 0).as("nyse"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val holdings = Backtesting.univariateSorts(cs, k = 5)
      val daily = monthly.select(col("permno"),
        (col("y") * 10000 + col("mo") * 100 + 28).as("date"),
        col("ret"), (col("ret") / 2).as("retx"))
      Backtesting.dailyPerformance(holdings, daily)
        .select(bi(col("date")).as("date"), r6(col("ret")).as("ret"),
          bi(col("n_holdings")).as("n_holdings"))
    }, Some("""
      WITH m AS (
        SELECT o_custkey % 100 AS permno, year(o_orderdate) AS y, month(o_orderdate) AS mo,
               (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) % 100) / 1000.0 - 0.045 AS ret
        FROM orders GROUP BY 1, 2, 3
      ), sig AS (
        SELECT permno, y, ROUND(product(1.0 + ret) - 1.0, 6) AS signal
        FROM m GROUP BY 1, 2
      ), cap AS (
        SELECT o_custkey % 100 AS permno, year(o_orderdate) AS y,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS cap
        FROM orders GROUP BY 1, 2
      ), cs AS (
        SELECT s.permno, s.y * 10000 + 1231 AS rebaldate, s.signal, c.cap,
               s.permno % 3 = 0 AS nyse
        FROM sig s JOIN cap c ON s.permno = c.permno AND s.y = c.y
        WHERE s.y < 1998
      ), scr AS (
        SELECT * FROM cs WHERE cap > 0.0 AND signal IS NOT NULL
      ), bp AS (
        SELECT rebaldate, quantile_cont(signal, [0.2, 0.4, 0.6, 0.8]) AS b
        FROM scr WHERE nyse GROUP BY 1
      ), lab AS (
        SELECT scr.*, 1 + len(list_filter(bp.b, x -> x < scr.signal)) AS f
        FROM scr JOIN bp USING (rebaldate)
      ), legs AS (
        SELECT rebaldate, permno, cap,
               CASE WHEN f = 5 THEN 1.0 ELSE -1.0 END AS side
        FROM lab WHERE f IN (1, 5)
      ), hold AS (
        SELECT rebaldate, permno,
               side * cap / SUM(cap) OVER (PARTITION BY rebaldate, side) AS weight
        FROM legs
      ), d2 AS (
        SELECT permno, y * 10000 + mo * 100 + 28 AS date, ret, ret / 2 AS retx
        FROM m
      ), rb AS (
        SELECT DISTINCT rebaldate FROM hold
      ), gv AS (
        SELECT d.*, (SELECT max(rebaldate) FROM rb WHERE rebaldate < d.date) AS r
        FROM d2 d
      ), dd AS (
        SELECT g.date, g.permno, g.ret, g.retx, g.r, h.weight
        FROM gv g JOIN hold h ON h.rebaldate = g.r AND h.permno = g.permno
      ), drift AS (
        SELECT date, weight, ret,
               coalesce(product(1.0 + coalesce(retx, 0.0)) OVER (
                 PARTITION BY r, permno ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0) AS dr
        FROM dd
      )
      SELECT CAST(date AS BIGINT) AS date,
             ROUND(SUM(weight * dr * coalesce(ret, 0.0)), 6) AS ret,
             COUNT(*) AS n_holdings
      FROM drift GROUP BY 1""")),

    // §3.1 bivariate (independent 5×5 double) sort
    // (backtesting.py:93-205): the b1 synthetic cross-section with a
    // second cap-derived signal, both fractile dimensions assigned
    // independently per rebalance from the NYSE population, cap-weighted
    // within each (f1, f2) cell. The oracle replays the grid summary:
    // per-cell membership count, max weight, and the weight·permno dot
    // product (pins WHICH permnos landed in the cell and their weights,
    // not just the totals — Σweight ≡ 1 per cell would be vacuous).
    Q("b2_bivariate", (s, dir) => {
      val o = Tables.orders(s, dir)
      // NOT rewritten to the b1 single-scan form (r17): measured 0.797 ->
      // 1.020 s (min-of-6, clean adjacent windows) — unlike b1, cs here
      // is un-persisted and its four consumers share the old two-branch
      // sig/cap work via exchange reuse, while the combined
      // ObjectHashAggregate (udaf + decimal sum in one operator) lands on
      // every consumer's critical path. The cs-persist variant measured
      // 0.92-1.01 s — also worse. Both rejected; two-branch form kept.
      val monthly = o.groupBy((col("o_custkey") % 100).as("permno"),
          year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"))
        .agg(((dsum(col("o_totalprice")) % 100) / 1000.0 - 0.045).as("ret"))
      val sig = monthly.groupBy("permno", "y")
        .agg(r6(CompoundReturn.compoundRet(col("ret"))).as("signal"))
      val cap = o.groupBy((col("o_custkey") % 100).as("permno"),
          year(col("o_orderdate")).as("y"))
        .agg(dsum(col("o_totalprice")).as("cap"))
      val cs = sig.join(cap, Seq("permno", "y")).where(col("y") < 1998)
        .select(col("permno"), (col("y") * 10000 + 1231).as("rebaldate"),
          col("signal"), r6((col("cap") % 97) / 97.0).as("signal2"),
          col("cap"), (col("permno") % 3 === 0).as("nyse"))
      Backtesting.bivariateSorts(cs, k1 = 5, k2 = 5)
        .groupBy("rebaldate", "f1", "f2")
        .agg(count(lit(1)).as("n"), max(col("weight")).as("wmax"),
          sum(col("weight") * col("permno")).as("wdot"))
        .select(bi(col("rebaldate")).as("rebaldate"), bi(col("f1")).as("f1"),
          bi(col("f2")).as("f2"), bi(col("n")).as("n"),
          r6(col("wmax")).as("wmax"), r6(col("wdot")).as("wdot"))
    }, Some("""
      WITH m AS (
        SELECT o_custkey % 100 AS permno, year(o_orderdate) AS y, month(o_orderdate) AS mo,
               (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) % 100) / 1000.0 - 0.045 AS ret
        FROM orders GROUP BY 1, 2, 3
      ), sig AS (
        SELECT permno, y, ROUND(product(1.0 + ret) - 1.0, 6) AS signal
        FROM m GROUP BY 1, 2
      ), cap AS (
        SELECT o_custkey % 100 AS permno, year(o_orderdate) AS y,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS cap
        FROM orders GROUP BY 1, 2
      ), cs AS (
        SELECT s.permno, s.y * 10000 + 1231 AS rebaldate, s.signal,
               ROUND((c.cap % 97) / 97.0, 6) AS signal2, c.cap,
               s.permno % 3 = 0 AS nyse
        FROM sig s JOIN cap c ON s.permno = c.permno AND s.y = c.y
        WHERE s.y < 1998
      ), scr AS (
        SELECT * FROM cs WHERE signal IS NOT NULL AND signal2 IS NOT NULL
      ), bp1 AS (
        SELECT rebaldate, quantile_cont(signal, [0.2, 0.4, 0.6, 0.8]) AS b
        FROM cs WHERE nyse GROUP BY 1
      ), bp2 AS (
        SELECT rebaldate, quantile_cont(signal2, [0.2, 0.4, 0.6, 0.8]) AS b
        FROM cs WHERE nyse GROUP BY 1
      ), lab AS (
        SELECT scr.*, 1 + len(list_filter(bp1.b, x -> x < scr.signal)) AS f1,
               1 + len(list_filter(bp2.b, x -> x < scr.signal2)) AS f2
        FROM scr JOIN bp1 USING (rebaldate) JOIN bp2 USING (rebaldate)
      ), wt AS (
        SELECT rebaldate, permno, f1, f2,
               cap / SUM(cap) OVER (PARTITION BY rebaldate, f1, f2) AS weight
        FROM lab
      )
      SELECT CAST(rebaldate AS BIGINT) AS rebaldate, CAST(f1 AS BIGINT) AS f1,
             CAST(f2 AS BIGINT) AS f2, COUNT(*) AS n,
             ROUND(MAX(weight), 6) AS wmax,
             ROUND(SUM(weight * permno), 6) AS wdot
      FROM wt GROUP BY 1, 2, 3""")),

    // J9: the IBES link build end-to-end (ibes.py:142-158 write_links) —
    // ident LEFT as-of-joined to the names history on cusip at the latest
    // names.date <= sdates (the reference's correlated MAX subquery,
    // decorrelated here through the J3 linkJoin kernel). names =
    // per-(custkey, date) aggregates of orders; ident = one row per
    // customer with a deterministic sdates; customers with no prevailing
    // names row keep nulls (the write_links missing count).
    Q("j9_ibeslink", (s, dir) => {
      // ONE exchange on the names side (r17): the un-hinted plan shuffled
      // orders twice — partial SortAggregate → Exchange(custkey, date) →
      // final SortAggregate → Exchange(custkey) → Sort for the as-of
      // merge. Repartitioning by custkey FIRST satisfies the aggregation's
      // ClusteredDistribution (subset clustering) AND the as-of join's
      // exact-key distribution, so the same exchange serves both and the
      // post-agg re-shuffle disappears (guide §2.4 "two operations keyed
      // the same way share one exchange"). Partial aggregation compressed
      // ~nothing here ((custkey, exact-date) groups are ≈1 row), so the
      // raw-row shuffle moves the same bytes. Column-less repartition
      // (no N) stays AQE-coalescible — scale-adaptive, not a local[32]
      // constant. Results identical (same agg, same as-of semantics).
      val names = Tables.orders(s, dir)
        .repartition(col("o_custkey"))
        .groupBy(col("o_custkey").as("ncusip"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
            dayofmonth(col("o_orderdate"))).as("date"))
        .agg(max(col("o_orderkey")).as("permno"),
          max(col("o_orderpriority")).as("comnam"))
      val ident = Tables.customer(s, dir)
        .select(col("c_custkey").as("cusip"),
          (lit(19950000) + (col("c_custkey") % 4) * 10000 + 601).as("sdates"),
          col("c_mktsegment").as("cname"))
      graft.ops.AsOf.linkJoin(ident,
          names.withColumnRenamed("ncusip", "cusip"),
          key = "cusip", factDate = "sdates", linkDate = "date",
          linkCols = Seq("permno", "date", "comnam"))
        .select(bi(col("cusip")).as("cusip"), bi(col("sdates")).as("sdates"),
          bi(col("permno")).as("permno"), bi(col("date")).as("date"),
          col("comnam"), col("cname"))
    }, Some("""
      WITH names AS (
        SELECT o_custkey AS ncusip,
               year(o_orderdate) * 10000 + month(o_orderdate) * 100 + day(o_orderdate) AS date,
               max(o_orderkey) AS permno, max(o_orderpriority) AS comnam
        FROM orders GROUP BY 1, 2
      ), ident AS (
        SELECT c_custkey AS cusip,
               19950000 + (c_custkey % 4) * 10000 + 601 AS sdates,
               c_mktsegment AS cname
        FROM customer
      )
      SELECT CAST(i.cusip AS BIGINT) AS cusip, CAST(i.sdates AS BIGINT) AS sdates,
             CAST(n.permno AS BIGINT) AS permno, CAST(n.date AS BIGINT) AS date,
             n.comnam, i.cname
      FROM ident i LEFT JOIN names n
        ON n.ncusip = i.cusip
       AND n.date = (SELECT MAX(c.date) FROM names c
                     WHERE c.ncusip = i.cusip AND c.date <= i.sdates)""")),

    // A10: Kolari-Pape-Pynnönen (2018) eqn-15 overlap-corrected event
    // study summary (eventstudy.py:236-263 fit): planted events (every
    // 1000th orderkey), per-event CAR over rel 0..12 with missing days
    // as 0, portfolio-grouped by announcement date, then τ = mean
    // truncated pairwise date overlap / D, ρ = mean max-lag
    // cross-correlation of the dates' post-window log-diff series
    // (fft_align filters.py:67-97, computed here by Filters.align and
    // replayed in the oracle as brute-force lagged sums over all date
    // pairs — O(n²·D·lags), trivial at oracle scale), effective
    // N = n/(1+ρτ(n−1)), and window/post t-stats. The dates×window
    // matrix is provably small (one row per distinct announce date) —
    // collected by design, matching the reference's driver-side fit.
    Q("a10_kpp", (s, dir) => {
      val W = 5   // event window rel 0..4
      val L = 13  // full path rel 0..12
      val D = L - W
      val (byDate, ev) = a10ByDate(s, dir, L)
      val nEvents = ev.count()
      // the dates×window matrix is provably small (≤ one row-group per
      // planted event); guard BEFORE collecting, like the breakpoint and
      // rebalance-calendar collects. Byte bound at the guard (round-16
      // VERDICT residual #3): ≤ nEvents × L rows × ~40 B/row (int t0,
      // int rel, double car + row overhead) = 100k × 13 × 40 B ≈ 52 MB
      // collected worst-case — well inside the 1 GB driver-result cap;
      // the KPP fit itself is O(nDates²·D) driver arithmetic, the
      // reference's own driver-side shape.
      require(nEvents <= 100000, s"a10_kpp: $nEvents planted events — matrix too large to collect")
      val mat = byDate.orderBy("t0", "rel").collect()
        .grouped(L).map { rows =>
          (rows.head.getInt(0), rows.map(_.getDouble(2)).toArray)
        }.toArray
      val k = EventStudy.fitKpp(mat, window = W, d = D)
      import s.implicits._
      Seq((k.window, k.windowT, k.post, k.postT, k.rho, k.tau, k.effective,
          k.days.toLong, nEvents))
        .toDF("window", "window_t", "post", "post_t", "rho", "tau",
          "effective", "days", "rows")
        .select(r6(col("window")).as("window"), r6(col("window_t")).as("window_t"),
          r6(col("post")).as("post"), r6(col("post_t")).as("post_t"),
          r6(col("rho")).as("rho"), r6(col("tau")).as("tau"),
          r6(col("effective")).as("effective"), bi(col("days")).as("days"),
          bi(col("rows")).as("rows"))
    }, Some("""
      WITH dr AS (
        SELECT o_custkey % 100 AS permno,
               datediff('day', DATE '1992-01-01', o_orderdate::DATE) AS t,
               (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) % 10) / 100.0 - 0.045 AS r
        FROM orders GROUP BY 1, 2
      ), ev AS (
        SELECT o_orderkey AS event_id, o_custkey % 100 AS permno,
               datediff('day', DATE '1992-01-01', o_orderdate::DATE) AS t0
        FROM orders WHERE o_orderkey % 1000 = 0
      ), ars AS (
        SELECT ev.event_id, ev.t0, g.rel, coalesce(dr.r, 0.0) AS ar
        FROM ev CROSS JOIN (SELECT unnest(range(13)) AS rel) g
        LEFT JOIN dr ON dr.permno = ev.permno AND dr.t = ev.t0 + g.rel
      ), car AS (
        SELECT event_id, t0, rel,
               SUM(ar) OVER (PARTITION BY event_id ORDER BY rel
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS car
        FROM ars
      ), byd AS (
        SELECT t0, rel, AVG(car) AS car FROM car GROUP BY 1, 2
      ), dts AS (
        SELECT DISTINCT t0 FROM byd
      ), ov AS (
        SELECT greatest(8 - (b.t0 - a.t0), 0) AS x
        FROM dts a JOIN dts b ON b.t0 > a.t0
      ), tau AS (
        SELECT coalesce(AVG(x), 0.0) / 8.0 AS tau FROM ov
      ), nn AS (
        SELECT COUNT(*) AS n FROM dts
      ), lp AS (
        -- rho (fft_align replay): log CAR path per date...
        SELECT t0, rel, ln(1 + greatest(car, -0.99)) AS logp FROM byd
      ), pd AS (
        -- ...post-window first differences, re-indexed m = 0..7...
        SELECT a.t0, a.rel - 5 AS m, a.logp - b.logp AS v
        FROM lp a JOIN lp b ON a.t0 = b.t0 AND b.rel = a.rel - 1
        WHERE a.rel >= 5
      ), st AS (
        SELECT t0, AVG(v) AS mu FROM pd GROUP BY 1
      ), dm AS (
        SELECT pd.t0, pd.m, pd.v - st.mu AS d FROM pd JOIN st USING (t0)
      ), nrm AS (
        SELECT t0, sqrt(SUM(d * d)) AS nm FROM dm GROUP BY 1
      ), xs AS (
        -- ...demeaned and L2-normalized (degenerate all-zero series stay
        -- unnormalized zeros, contributing corr 0 like the engine)...
        SELECT dm.t0, dm.m,
               CASE WHEN nrm.nm > 0 THEN dm.d / nrm.nm ELSE dm.d END AS x
        FROM dm JOIN nrm USING (t0)
      ), pc AS (
        -- ...cross-correlation of every date pair at every lag -4..4...
        SELECT xa.t0 AS ta, xb.t0 AS tb, lg.l, SUM(xa.x * xb.x) AS c
        FROM (SELECT unnest(range(-4, 5)) AS l) lg
        CROSS JOIN xs xa
        JOIN xs xb ON xb.t0 > xa.t0 AND xb.m = xa.m + lg.l
        GROUP BY 1, 2, 3
      ), mx AS (
        SELECT ta, tb, MAX(c) AS c FROM pc GROUP BY 1, 2
      ), rho AS (
        -- ...mean of the per-pair maxima
        SELECT coalesce(AVG(c), 0.0) AS rho FROM mx
      ), eff AS (
        SELECT nn.n / (1 + rho.rho * tau.tau * (nn.n - 1)) AS effective,
               nn.n AS n, tau.tau AS tau, rho.rho AS rho
        FROM nn CROSS JOIN tau CROSS JOIN rho
      ), winend AS (
        SELECT t0, car AS cw FROM byd WHERE rel = 4
      ), lastc AS (
        SELECT t0, car AS cl FROM byd WHERE rel = 12
      ), px AS (
        SELECT w.t0, w.cw, l.cl - w.cw AS post
        FROM winend w JOIN lastc l ON w.t0 = l.t0
      ), stats AS (
        SELECT AVG(cw) AS wmean, STDDEV_SAMP(cw) AS wstd,
               AVG(post) AS pmean, STDDEV_SAMP(post) AS pstd
        FROM px
      )
      SELECT ROUND(stats.wmean, 6) AS window,
             ROUND(stats.wmean / (stats.wstd / sqrt(eff.effective)), 6) AS window_t,
             ROUND(stats.pmean, 6) AS post,
             ROUND(stats.pmean / (stats.pstd / sqrt(eff.effective)), 6) AS post_t,
             ROUND(eff.rho, 6) AS rho, ROUND(eff.tau, 6) AS tau,
             ROUND(eff.effective, 6) AS effective,
             CAST(eff.n AS BIGINT) AS days,
             (SELECT COUNT(*) FROM ev) AS rows
      FROM stats CROSS JOIN eff"""))
  )

  /** The DISTRIBUTED stage of `a10_kpp` up to the provably-small
    * dates×window matrix: planted events, per-event CAR paths, portfolio
    * grouping by announcement date. Shared by the query (which collects
    * it under the event-count guard and runs the driver-side KPP fit) and
    * by PlanAudit — the query itself returns a 1-row local frame, so
    * without this hook its joins/shuffles would be invisible to the
    * plan-regression gate (the round-5 ADVICE blind spot). Returns
    * (byDate matrix frame, planted-event frame).
    */
  def a10ByDate(s: org.apache.spark.sql.SparkSession, dir: String,
                L: Int = 13): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val o = Tables.orders(s, dir)
    val t = datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
    val dailyRet = o.groupBy((col("o_custkey") % 100).as("permno"), t.as("t"))
      .agg(((dsum(col("o_totalprice")) % 10) / 100.0 - 0.045).as("r"))
    val ev = o.where(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("event_id"),
        (col("o_custkey") % 100).as("permno"), t.as("t0"))
    val rel = ev.crossJoin(spark_range_df(s, L))
    val ars = rel
      .join(dailyRet.withColumnRenamed("t", "__t"),
        rel("permno") === dailyRet("permno") &&
          col("__t") === rel("t0") + col("rel"), "left")
      .select(rel("event_id"), rel("t0"), col("rel"),
        coalesce(col("r"), lit(0.0)).as("ar"))
    val wcum = Window.partitionBy("event_id").orderBy("rel")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val car = ars.withColumn("car", sum("ar").over(wcum))
    (car.groupBy("t0", "rel").agg(avg("car").as("car")), ev)
  }

  /** Small helper: a 1-column (rel: int 0..n-1) frame. */
  private def spark_range_df(s: org.apache.spark.sql.SparkSession, n: Int) =
    s.range(n).select(col("id").cast("int").as("rel"))
}
