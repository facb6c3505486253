package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import graft.plans.SortMergeAsOfExec
import graft.queries.Catalog

/** Physical-plan discipline checks: predicates reach the parquet scan,
  * dimension joins broadcast, and the as-of join never plans a
  * nested-loop join (SURVEY.md §4 — these are the properties that decide
  * whether the same plan survives a 100 TB scale-up).
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Catalog.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("p1_scan pushes range+in filters into the parquet scan") {
    val p = plan("p1_scan")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("In(l_suppkey"), p)
  }

  test("q5_join broadcasts the dimension tables") {
    val p = plan("q5_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("j2_asof plans the sort-merge as-of operator, never a nested loop") {
    val p = Catalog.queries("j2_asof")(spark, dir).queryExecution.executedPlan
    assert(collect(p) { case m: SortMergeAsOfExec => m }.size == 1, p.treeString)
    assert(collect(p) {
      case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) => j
    }.isEmpty, p.treeString)
  }

  test("j6_range binned interval join is a real equi-join") {
    val p = plan("j6_range")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q1_agg partial-aggregates before the exchange") {
    val p = plan("q1_agg")
    // partial_ functions appear in the pre-shuffle HashAggregate
    assert(p.contains("partial_"), p)
  }

  test("t_simhash candidates come from a banded equi-join, not a cross join") {
    val p = plan("t_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("s_lsh candidate dedup shuffles id pairs only, never embeddings") {
    val p = plan("s_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the distinct's exchange partitions on the id pair — if an embedding
    // array rode through it, the HashAggregate keys would include va/vb
    val distinctAggs = p.linesIterator.filter(l =>
      l.contains("HashAggregate(keys=[query_id") || l.contains("HashAggregate(keys=[neighbor_id"))
    assert(distinctAggs.forall(l => !l.contains("va") && !l.contains("vb")), p)
  }

  test("dailyPerformance assigns rebalances without a nested-loop join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val h = Seq((20200101, 1, 0.5), (20200104, 1, 1.0))
      .toDF("rebaldate", "permno", "weight")
    val daily = Seq((20200102, 1, 0.01, 0.01)).toDF("date", "permno", "ret", "retx")
    val p = graft.backtest.Backtesting.dailyPerformance(h, daily)
      .queryExecution.executedPlan.toString
    // the rebal calendar folds in as an array literal: no BNLJ, no cartesian
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("t_jaccard's adaptive final plan reuses the shingle exchange") {
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // the shingle fold is not persisted: exchange reuse is what runs it
    // once for the sizes and both sides of the self-join
    def reused(): Int = {
      val df = Catalog.queries("t_jaccard")(spark, dir)
      df.collect() // runs df's own QueryExecution, so its final plan is set
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: ReusedExchangeExec => r
      }.size
    }
    assert(reused() >= 1)
    withConf("spark.sql.exchange.reuse" -> "false") {
      assert(reused() == 0)
    }
  }

  test("t_split is a pure projection + window — no joins at all") {
    val p = plan("t_split")
    assert(!p.contains("Join"), p)
  }

  test("native as-of over bucketed+sorted tables runs with zero exchange") {
    import graft.sources.Bucketing
    import graft.ops.AsOf
    import spark.implicits._
    withTempDir("asofbuckets") { dir =>
      try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val left = (0 until 2000).map(i => (i % 50, i / 50 * 10, i.toDouble))
          .toDF("k", "t", "x")
        val right = (0 until 1000).map(i => (i % 50, i / 50 * 23, i * 1.5))
          .toDF("k", "t", "v")
        Bucketing.writeBucketed(left, "asof_l", s"$dir/l", Seq("k"), 8)
        Bucketing.writeBucketed(right, "asof_r", s"$dir/r", Seq("k"), 8)
        for (tieBreak <- Seq(None, Some("v"))) {
          val j = AsOf.joinBackward(Bucketing.table(spark, "asof_l"),
            Bucketing.table(spark, "asof_r"), Seq("k"), "t", Seq("v"),
            allowExact = true, tieBreak = tieBreak)
          val p = j.queryExecution.executedPlan
          assert(collect(p) { case m: SortMergeAsOfExec => m }.size == 1, p.treeString)
          // co-located: zero shuffle
          assert(collect(p) { case e: ShuffleExchangeExec => e }.isEmpty, p.treeString)
          // values still correct vs the union-merge twin
          val twin = SpecTwins.unionMergeBackward(Bucketing.table(spark, "asof_l"),
            Bucketing.table(spark, "asof_r"), Seq("k"), "t", Seq("v"),
            allowExact = true, tieBreak = tieBreak)
          val a = j.select("k", "t", "x", "v").as[(Int, Int, Double, Option[Double])]
            .collect().sorted.toSeq
          val b = twin.select("k", "t", "x", "v").as[(Int, Int, Double, Option[Double])]
            .collect().sorted.toSeq
          assert(a == b, s"tieBreak=$tieBreak")
        }
      } finally {
        spark.sql("DROP TABLE IF EXISTS asof_l")
        spark.sql("DROP TABLE IF EXISTS asof_r")
      }
    }
  }

  test("bucketed-by-key join plans with no exchange and no sort") {
    import graft.sources.Bucketing
    import spark.implicits._
    withTempDir("buckets") { dir =>
      try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val a = (0 until 1000).map(i => (i % 100, i.toDouble)).toDF("k", "x")
        val b = (0 until 500).map(i => (i % 100, i.toString)).toDF("k", "s")
        Bucketing.writeBucketed(a, "bspec_a", s"$dir/a", Seq("k"), 8)
        Bucketing.writeBucketed(b, "bspec_b", s"$dir/b", Seq("k"), 8)
        val joined = Bucketing.table(spark, "bspec_a")
          .join(Bucketing.table(spark, "bspec_b"), "k")
        val p = joined.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin"), p)
        assert(!p.contains("Exchange"), p) // co-located: zero shuffle
        assert(joined.count() == 5000)     // 10 x 5 per key over 100 keys
      } finally {
        spark.sql("DROP TABLE IF EXISTS bspec_a")
        spark.sql("DROP TABLE IF EXISTS bspec_b")
      }
    }
  }
}
