package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.ops.AsOf
import graft.plans.SortMergeAsOfExec

/** Differential tests: the native sort-merge as-of operator must agree
  * with the union-merge twin (`SpecTwins`) on every (key, time) shape —
  * matches, strict/exact boundaries, missing keys, multiple updates
  * between observations — and every entry point must plan it.
  */
class AsOfStrategySpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random fixture: 6 keys, irregular times
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => (1103515245L * s + 12345L) % (1L << 31)).drop(1)

  private def trades = lcg(7).take(300).zipWithIndex.map { case (r, i) =>
    (s"K${r % 6}", (r % 1000).toInt, i.toLong)
  }.toSeq.toDF("sym", "t", "trade_id")

  private def quotes = lcg(99).take(200).zipWithIndex.map { case (r, i) =>
    (s"K${r % 7}", (r % 990).toInt, r.toDouble % 100 / 7.0)
  }.toSeq.toDF("sym", "t", "mid")
    .groupBy("sym", "t").agg(max("mid").as("mid")) // unique (key, time)

  private def sortedRows(df: DataFrame) =
    df.select("sym", "t", "trade_id", "mid")
      .as[(String, Int, Long, Option[Double])].collect().sortBy(r => (r._1, r._2, r._3))

  // the as-of merges and the windows of the physical plan, read inside
  // AQE's wrapper
  private def nodes(df: DataFrame) = {
    val aqe = new AdaptiveSparkPlanHelper {}
    val p = df.queryExecution.executedPlan
    (aqe.collect(p) { case n: SortMergeAsOfExec => n }, aqe.collect(p) { case w: WindowExec => w })
  }

  test("native sort-merge as-of equals union-merge (allowExact = true)") {
    val base = SpecTwins.unionMergeBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    val native = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    assert(sortedRows(native).toSeq == sortedRows(base).toSeq)
    assert(native.count() == trades.count())
  }

  test("native sort-merge as-of equals union-merge (strict <)") {
    val base = SpecTwins.unionMergeBackward(trades, quotes, Seq("sym"), "t", Seq("mid"),
      allowExact = false)
    val native = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"),
      allowExact = false)
    assert(sortedRows(native).toSeq == sortedRows(base).toSeq)
  }

  test("every AsOf entry point plans SortMergeAsOfExec and no WindowExec") {
    val links = quotes.withColumnRenamed("t", "linkdt")
    val outs = Seq(
      AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid")),
      AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"), tieBreak = Some("mid")),
      AsOf.joinForward(trades, quotes, Seq("sym"), "t", Seq("mid")),
      AsOf.joinForward(trades, quotes, Seq("sym"), "t", Seq("mid"), tieBreak = Some("mid")),
      AsOf.linkJoin(trades, links, "sym", "t", "linkdt", Seq("mid")))
    for (out <- outs) {
      val (merges, windows) = nodes(out)
      assert(merges.size == 1 && windows.isEmpty, out.queryExecution.executedPlan.treeString)
    }
    // quotes are unique per (sym, t), so the tie-break changes nothing
    assert(sortedRows(outs(0)).toSeq == sortedRows(outs(1)).toSeq)
    assert(sortedRows(outs(2)).toSeq == sortedRows(outs(3)).toSeq)
  }

  test("native plan has one exchange+sort per side and no window") {
    val native = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    val (merges, windows) = nodes(native)
    val tree = native.queryExecution.executedPlan.treeString
    assert(merges.size == 1 && windows.isEmpty, tree)
    assert(merges.head.children.forall {
      case SortExec(_, _, _: ShuffleExchangeExec, _) => true
      case _ => false
    }, tree)
  }

  test("self as-of joins over one table agree with the union-merge twins") {
    // both sides filter one parquet scan, so they share its attribute ids;
    // clicks are unique per (user, ts), purchases may share a click's ts
    val seen = scala.collection.mutable.Set.empty[(Long, Int)]
    val events = lcg(5).take(400).zipWithIndex.map { case (r, i) =>
      (i.toLong, (r >> 8) % 9, ((r >> 12) % 300).toInt, if (r % 3 == 0) "purchase" else "click",
        if ((r >> 4) % 5 == 0) None else Some((r >> 16) % 50 / 4.0))
    }.filter(e => e._4 == "purchase" || seen.add((e._2, e._3))).toSeq
    withTempDir("asofself") { dir =>
      events.toDF("event_id", "user_id", "ts", "event_type", "value")
        .write.parquet(s"$dir/events")
      val e = spark.read.parquet(s"$dir/events")
      val left = e.where(col("event_type") === "purchase").select("event_id", "user_id", "ts")
      val right = e.where(col("event_type") === "click").select("user_id", "ts", "value")
      def rows(df: DataFrame) =
        df.select("event_id", "user_id", "ts", "value")
          .as[(Long, Long, Int, Option[Double])].collect().sorted.toSeq
      for (forward <- Seq(false, true); exact <- Seq(true, false);
           tieBreak <- Seq(None, Some("value"))) {
        val (native, twin) =
          if (forward) (AsOf.joinForward _, SpecTwins.unionMergeForward _)
          else (AsOf.joinBackward _, SpecTwins.unionMergeBackward _)
        def run(f: (DataFrame, DataFrame, Seq[String], String, Seq[String], Boolean,
            Option[String]) => DataFrame) =
          rows(f(left, right, Seq("user_id"), "ts", Seq("value"), exact, tieBreak))
        val got = run(native)
        assert(got == run(twin), s"forward=$forward exact=$exact tieBreak=$tieBreak")
        assert(got.count(_._4.isDefined) > 20)
      }
    }
  }

  test("the strategy is installed by Tables.tune, once; building a query writes no session state") {
    val ns = spark.newSession()
    def installed = ns.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy)
    val l = ns.range(20).selectExpr("'K' AS sym", "CAST(id AS INT) AS t", "id AS trade_id")
    val r = ns.range(10).selectExpr("'K' AS sym", "CAST(id * 2 AS INT) AS t", "id * 0.5 AS mid")
    AsOf.joinBackward(l, r, Seq("sym"), "t", Seq("mid"))
    assert(installed == 0)
    graft.core.Tables.tune(ns)
    graft.core.Tables.tune(ns)
    assert(installed == 1)
    val before = ns.experimental.extraStrategies
    val out = AsOf.joinBackward(l, r, Seq("sym"), "t", Seq("mid"))
    assert(ns.experimental.extraStrategies == before)
    assert(out.queryExecution.sparkPlan.collectFirst { case p: SortMergeAsOfExec => p }.isDefined)
  }
}
