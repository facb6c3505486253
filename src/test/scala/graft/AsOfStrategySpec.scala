package graft

import org.apache.spark.sql.functions._
import graft.ops.AsOf
import graft.plans.{AsOfJoin, SortMergeAsOfExec}

/** Differential tests: the native sort-merge as-of operator must agree
  * with the union-merge form on every (key, time) shape — matches,
  * strict/exact boundaries, missing keys, multiple updates between
  * observations.
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

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("sym", "t", "trade_id", "mid")
      .as[(String, Int, Long, Option[Double])].collect().sortBy(r => (r._1, r._2, r._3))

  test("native sort-merge as-of equals union-merge (allowExact = true)") {
    val base = AsOf.unionMergeBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    val native = AsOfJoin.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    assert(sortedRows(native).toSeq == sortedRows(base).toSeq)
    assert(native.count() == trades.count())
  }

  test("native sort-merge as-of equals union-merge (strict <)") {
    val base = AsOf.unionMergeBackward(trades, quotes, Seq("sym"), "t", Seq("mid"),
      allowExact = false)
    val native = AsOfJoin.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"),
      allowExact = false)
    assert(sortedRows(native).toSeq == sortedRows(base).toSeq)
  }

  test("joinBackward takes the native operator without tieBreak, union-merge with it") {
    def native(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectFirst { case p: SortMergeAsOfExec => p }.isDefined
    val out = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    assert(native(out), out.queryExecution.sparkPlan.treeString)
    val tied = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"),
      tieBreak = Some("mid"))
    assert(!native(tied), tied.queryExecution.sparkPlan.treeString)
    // quotes are unique per (sym, t), so the tie-break changes nothing
    assert(sortedRows(out).toSeq == sortedRows(tied).toSeq)
  }

  test("native plan has one exchange+sort per side and no window") {
    val native = AsOfJoin.joinBackward(trades, quotes, Seq("sym"), "t", Seq("mid"))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeAsOf"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("the strategy is installed by Tables.tune, once; building a query writes no session state") {
    val ns = spark.newSession()
    def installed = ns.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy)
    val l = ns.range(20).selectExpr("'K' AS sym", "CAST(id AS INT) AS t", "id AS trade_id")
    val r = ns.range(10).selectExpr("'K' AS sym", "CAST(id * 2 AS INT) AS t", "id * 0.5 AS mid")
    AsOfJoin.joinBackward(l, r, Seq("sym"), "t", Seq("mid"))
    assert(installed == 0)
    graft.core.Tables.tune(ns)
    graft.core.Tables.tune(ns)
    assert(installed == 1)
    val before = ns.experimental.extraStrategies
    val out = AsOfJoin.joinBackward(l, r, Seq("sym"), "t", Seq("mid"))
    assert(ns.experimental.extraStrategies == before)
    assert(out.queryExecution.sparkPlan.collectFirst { case p: SortMergeAsOfExec => p }.isDefined)
  }
}
