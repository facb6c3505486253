package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Plan-shape + equivalence gates for the r17 two-tier
  * connectedComponents round body (round-16 VERDICT #1):
  *
  *  - SHUFFLE tier (labels past broadcast): the eager per-round
  *    checkpoints hide the loop's joins from the audited plan, so
  *    `PlanAudit.ccRoundBody` runs the production `GraphOps.ccRound`
  *    once, un-checkpointed, over the shuffle-tier edge frame (the
  *    `g_components__round_body` row); this spec pins its shape —
  *    both joins SHUFFLE_HASH (an SMJ would re-sort the |E| side every
  *    round), the pre-partitioned |E| leg joins WITHOUT a fresh Exchange
  *    (the point of Ckpt.partitioned), and only the |V|-row exchanges
  *    remain. Wall-clock evidence on a 4M-node tree (23 rounds):
  *    152.3/145.6 s -> 55.2/36.8 s.
  *  - BROADCAST tier (small |V| — every catalog-scale call): the
  *    round-16 shape unchanged; AQE broadcasts the label side, so the
  *    |E| side is never re-shuffled (pre-partitioning there measured as
  *    a strict byte loss: 39.5 MB vs 18.2 MB shuffled on a 1.17M-edge/
  *    16k-node graph).
  *  - Tier equivalence: the shuffle tier (forced via broadcast
  *    threshold -1) must produce exactly the broadcast tier's labels.
  *  - eigenvector/pageRank release every cache they persist, on both
  *    tiers (`Centrality.tieredByKey`'s handle plus their node frame).
  */
class CCRoundShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def testEdges = spark.range(0, 5000)
    .select((col("id") % 123).as("src"), (col("id") % 77).as("dst"))

  test("shuffle-tier round body: shuffle-hash joins, no SMJ, no |E| re-shuffle") {
    val plan = PlanAudit.ccRoundBody(testEdges).queryExecution.executedPlan
    val p = plan.toString

    assert("ShuffledHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)

    // the checkpointed edge frame surfaces as `Scan ExistingRDD`; if its
    // HashPartitioning were lost, EnsureRequirements would insert an
    // Exchange above the scan (or above a Filter/Project over it)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, p)
    exchanges.foreach { e =>
      assert(!HitsRoundShapeSpec.readsScan(e.child),
        s"edge frame re-shuffled by ${e.simpleString(80)}:\n$p")
    }
  }

  test("eigenvector/pageRank shuffle tier matches broadcast tier (forced via -1)") {
    // float power iterations: SHJ vs broadcast changes partial-sum
    // grouping, so compare at 1e-9 (the loops' own convergence is 1e-10
    // and the catalog projections round to 6dp)
    val e = spark.range(0, 2000)
      .select((col("id") % 97).as("src"), ((col("id") * 13) % 89).as("dst"))
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val ev0 = graft.graph.Centrality.eigenvector(e, iters = 30)
      .as[(Long, Double)].collect().toMap
    assert(cache.isEmpty, "eigenvector left a cache (broadcast tier)")
    val pr0 = graft.graph.GraphOps.pageRank(e, iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(cache.isEmpty, "pageRank left a cache (broadcast tier)")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ev1 = graft.graph.Centrality.eigenvector(e, iters = 30)
        .as[(Long, Double)].collect().toMap
      assert(cache.isEmpty, "eigenvector left a cache (shuffle tier)")
      val pr1 = graft.graph.GraphOps.pageRank(e, iters = 10)
        .as[(Long, Double)].collect().toMap
      assert(cache.isEmpty, "pageRank left a cache (shuffle tier)")
      assert(ev0.keySet == ev1.keySet && pr0.keySet == pr1.keySet)
      ev0.foreach { case (k2, v) => assert(math.abs(ev1(k2) - v) < 1e-9, s"eigen $k2") }
      pr0.foreach { case (k2, v) => assert(math.abs(pr1(k2) - v) < 1e-9, s"pagerank $k2") }
    }
  }

  test("shuffle tier equals broadcast tier exactly (forced via threshold -1)") {
    val e = spark.range(0, 3000)
      .select((col("id") % 211).as("src"), ((col("id") * 7) % 191 + 300).as("dst"))
    // maxLocalEdges = 0: both runs take the distributed tier
    val expect = GraphOps.connectedComponents(e, maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val got = GraphOps.connectedComponents(e, maxLocalEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, "shuffle-tier labels diverge from broadcast tier")
    }
  }
}
