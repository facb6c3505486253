package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** graphInfo's driver-local tier must equal its distributed tier
  * value-for-value (same contract as the CC local/distributed
  * equality) — random graphs across densities, incl. disconnected and
  * triangle-free shapes.
  */
class GraphInfoSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(seed: Int, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
  }

  test("local twin equals the distributed graphInfo on random graphs") {
    for ((seed, n, m) <- Seq((1, 12, 30), (2, 25, 40), (3, 8, 8), (4, 40, 20), (5, 60, 400))) {
      val edges = randomEdges(seed, n, m)
      assertTiersAgree(GraphOps.graphInfo(edges), GraphOps.graphInfo(edges, maxLocalEdges = 0),
        tol = Map("density" -> 1e-12))
    }
  }

  test("triangle-free and fully-connected edge cases") {
    // star: no triangles, transitivity 0, one component
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val s = GraphOps.graphInfo(star).collect().head
    assert(s.getLong(0) == 7 && s.getLong(1) == 6)
    assert(s.getDouble(3) == 0.0 && s.getLong(5) == 1 && s.getLong(6) == 7)
    // two disjoint triangles: clustering 1, transitivity 1, two components
    val tris = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val t = GraphOps.graphInfo(tris).collect().head
    assert(t.getLong(0) == 6 && t.getLong(1) == 6)
    assert(math.abs(t.getDouble(3) - 1.0) < 1e-12 && math.abs(t.getDouble(4) - 1.0) < 1e-12)
    assert(t.getLong(5) == 2 && t.getLong(6) == 3)
  }

  test("empty edge set matches the distributed zero-row-aggregate summary") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // exact: both tiers yield the same constant row
    assertTiersAgree(GraphOps.graphInfo(empty), GraphOps.graphInfo(empty, maxLocalEdges = 0),
      tol = Map("transitivity" -> 0.0))
  }

  test("hub graph: degree-ordered triangle counting matches the distributed form") {
    // a 200-spoke star with a chord ring among the spokes — the shape
    // whose naive all-neighbor-pairs loop is O(d_hub²)
    val spokes = (1L to 200L).map(i => (0L, i))
    val ring = (1L until 200L).map(i => (i, i + 1)) :+ (200L, 1L)
    val edges = (spokes ++ ring).toDF("src", "dst")
    assertTiersAgree(GraphOps.graphInfo(edges), GraphOps.graphInfo(edges, maxLocalEdges = 0))
  }

  test("above maxLocalEdges graphInfo runs the distributed tier") {
    val edges = randomEdges(9, 50, 60)
    assertTiersAgree(GraphOps.graphInfo(edges), GraphOps.graphInfo(edges, maxLocalEdges = 10))
  }
}
