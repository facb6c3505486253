package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.graph.Centrality

/** Plan-shape gates for hitsCounts (round-5 verdict #3, reworked round
  * 7 into two data-adaptive paths):
  *
  *  - SHUFFLE path (large |V|): the eager per-round checkpoints hide the
  *    loop's joins from the final audited plan, so
  *    `PlanAudit.hitsRoundBody` runs the production `Centrality.hitsRound`
  *    once, un-checkpointed, over the shuffle path's edge pair (the
  *    `g_hits__round_body` row); this spec pins its shape — both joins
  *    SHUFFLE_HASH (an SMJ would re-sort the |E| side every round), the
  *    pre-partitioned |E| legs join WITHOUT a fresh Exchange (the
  *    point of Ckpt.partitioned; a plain AQE localCheckpoint re-shuffled
  *    the edge frame every round), and only the |V|-row aggregation
  *    exchanges remain.
  *  - BROADCAST path (small |V|, what the catalog g_hits takes): the
  *    rounds stay LAZY, so the full hitsCounts plan itself must show
  *    broadcast joins and NO per-round shuffle of the edge frame.
  */
class HitsRoundShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("shuffle-path round body: 2 shuffle-hash joins, no SMJ, no |E| re-shuffle") {
    val edges = spark.range(0, 5000)
      .select((col("id") % 123).as("src"), (col("id") % 77).as("dst"))
    val plan = PlanAudit.hitsRoundBody(edges).queryExecution.executedPlan
    val p = plan.toString

    assert(collect(plan) { case j: ShuffledHashJoinExec => j }.size == 2, p)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)

    // the checkpointed edge frames surface as RDDScanExec; if their
    // HashPartitioning were lost (or their partition count differed from
    // the aggregates'), EnsureRequirements would insert an Exchange above
    // the scan
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      assert(!HitsRoundShapeSpec.readsScan(e.child),
        s"edge frame re-shuffled by ${e.simpleString(80)}:\n$p")
    }
    assert(exchanges.count(_.outputPartitioning.isInstanceOf[HashPartitioning]) <= 3, p)
  }

  test("broadcast-path full plan: broadcast rounds + one |V|-row full-outer assembly") {
    val edges = spark.range(0, 5000)
      .select((col("id") % 123).as("src"), (col("id") % 77).as("dst"))
    // maxLocalEdges=0 forces past the driver-local tier to the
    // broadcast path this spec pins
    val p = Centrality.hitsCounts(edges, iters = 3, maxLocalEdges = 0L)
      .queryExecution.executedPlan.toString
    // 4 BHJ from the lazy rounds (h2,a2,h3,a3 — a1 folds into h1's agg
    // via the round-1 outdegree shortcut). The only non-broadcast join
    // allowed is the final hub⟗auth assembly — it joins two |V|-row
    // aggregates (full outer can't broadcast-hash), and it REPLACES the
    // former nodes = src∪dst distinct, so the edge list is never
    // re-aggregated for the output.
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("FullOuter"), p)
  }

  // (maxLocalEdges, maxBroadcastNodes) per tier: defaults take the
  // driver-local tier on a 5-edge graph; maxLocalEdges=0 forces the
  // broadcast path; both 0 forces the shuffle path
  private val tiers = Seq(
    "local" -> (2000000L, 5000000L),
    "broadcast" -> (0L, 5000000L),
    "shuffle" -> (0L, 0L))

  test("hitsCounts values: all three tiers agree with the hand recurrence") {
    // tiny directed graph with a node that has only out-edges (1), only
    // in-edges (4), and both (2,3) — exercises the sparse-zero semantics
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("src", "dst")
    // hand-unrolled: a0=1 everywhere; h1=outdeg: {1:2,2:2,3:1,4:0}
    // a1(v)=Σ_{u→v}h1(u): {2:2,3:4,4:3,1:0}
    // h2(u)=Σ_{u→v}a1(v): {1:6,2:7,3:3,4:0}
    // a2(v)=Σ_{u→v}h2(u): {2:6,3:13,4:10,1:0}
    val want2 = Set((1L, 6L, 0L), (2L, 7L, 6L), (3L, 3L, 13L), (4L, 0L, 10L))
    for ((tier, (maxL, maxB)) <- tiers) {
      val got = Centrality.hitsCounts(edges, iters = 2,
          maxBroadcastNodes = maxB, maxLocalEdges = maxL)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want2, s"tier=$tier")
    }
  }

  test("hitsCounts iters=1 and iters=3 match the direct recurrence on all tiers") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("src", "dst")
    // iters=1: h1=outdeg {1:2,2:2,3:1,4:0}; a1 {2:2,3:4,4:3,1:0}
    val want1 = Set((1L, 2L, 0L), (2L, 2L, 2L), (3L, 1L, 4L), (4L, 0L, 3L))
    // iters=3 continues the unrolling above:
    // h3(u)=Σ_{u→v}a2(v): {1:19,2:23,3:10,4:0}
    // a3(v)=Σ_{u→v}h3(u): {2:19,3:42,4:33,1:0}
    val want3 = Set((1L, 19L, 0L), (2L, 23L, 19L), (3L, 10L, 42L), (4L, 0L, 33L))
    for ((tier, (maxL, maxB)) <- tiers) {
      val g1 = Centrality.hitsCounts(edges, iters = 1,
          maxBroadcastNodes = maxB, maxLocalEdges = maxL)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(g1 == want1, s"iters=1 tier=$tier")
      val g3 = Centrality.hitsCounts(edges, iters = 3,
          maxBroadcastNodes = maxB, maxLocalEdges = maxL)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(g3 == want3, s"iters=3 tier=$tier")
    }
  }

  test("local tier preserves int node dtype and matches the broadcast tier on int ids") {
    // int-typed ids: the local tier must return node as INT (the
    // distributed assembly's coalesce type), not silently widen to long
    val edges = spark.range(0, 400)
      .select((col("id") % 37).cast("int").as("src"),
        (col("id") % 23).cast("int").as("dst"))
    val local = Centrality.hitsCounts(edges, iters = 2)
    val dist = Centrality.hitsCounts(edges, iters = 2, maxLocalEdges = 0L)
    assert(local.schema("node").dataType == dist.schema("node").dataType,
      s"${local.schema} vs ${dist.schema}")
    val l = local.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val d = dist.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(l == d)
  }
}

object HitsRoundShapeSpec {
  /** Whether `p` is a checkpoint scan, looking through the Filter and
    * Project the planner puts between an exchange and the scan (a join
    * key's `isnotnull`, a column pruning). An exchange over such a
    * child re-shuffles the checkpointed edge frame.
    */
  def readsScan(p: SparkPlan): Boolean = p match {
    case _: RDDScanExec => true
    case f: FilterExec => readsScan(f.child)
    case pr: ProjectExec => readsScan(pr.child)
    case _ => false
  }
}
