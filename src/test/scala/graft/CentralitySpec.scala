package graft

import org.apache.spark.sql.functions._
import graft.graph.{Centrality, Community}

/** Golden tests against networkx 3.6.1 values (two 4/5-cliques joined by
  * a bridge 3–4 plus pendant 8):
  * edges (0,1)(0,2)(0,3)(1,2)(1,3)(2,3)(4,5)(4,6)(4,7)(5,6)(5,7)(6,7)(3,4)(7,8)
  */
class CentralitySpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7), (3, 4), (7, 8)
  ).toDF("src", "dst")

  private def cache = spark.sharedState.cacheManager

  test("triangles and clustering coefficient match networkx") {
    val tri = Map(0 -> 3L, 1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L, 5 -> 3L,
      6 -> 3L, 7 -> 3L, 8 -> 0L)
    val clus = Map(0 -> 1.0, 1 -> 1.0, 2 -> 1.0, 3 -> 0.5, 4 -> 0.5,
      5 -> 1.0, 6 -> 1.0, 7 -> 0.5, 8 -> 0.0)
    val out = Centrality.clusteringCoefficient(edges)
      .select("node", "triangles", "clustering")
      .as[(Int, Long, Double)].collect()
    assert(out.length == 9)
    out.foreach { case (n, t, c) =>
      assert(t == tri(n), s"triangles($n)")
      assert(math.abs(c - clus(n)) < 1e-9, s"clustering($n)")
    }
  }

  test("closeness matches networkx wf_improved") {
    val g = Map(0 -> 0.4444444444, 1 -> 0.4444444444, 2 -> 0.4444444444,
      3 -> 0.6153846154, 4 -> 0.6666666667, 5 -> 0.5, 6 -> 0.5,
      7 -> 0.5333333333, 8 -> 0.3636363636)
    cache.clearCache()
    val out = Centrality.closeness(edges).as[(Int, Double)].collect().toMap
    assert(cache.isEmpty, "closeness left a cache")
    g.foreach { case (n, v) => assert(math.abs(out(n) - v) < 1e-9, s"closeness($n)") }
    assertTiersAgree(Centrality.closeness(edges), Centrality.closeness(edges, maxLocalEdges = 0))
    assert(cache.isEmpty, "closeness' distributed tier left a cache")
  }

  test("betweenness matches networkx (normalized)") {
    val g = Map(0 -> 0.0, 1 -> 0.0, 2 -> 0.0, 3 -> 0.5357142857,
      4 -> 0.5714285714, 5 -> 0.0, 6 -> 0.0, 7 -> 0.25, 8 -> 0.0)
    cache.clearCache()
    val out = Centrality.betweenness(edges).as[(Int, Double)].collect().toMap
    assert(cache.isEmpty, "betweenness left a cache")
    g.foreach { case (n, v) => assert(math.abs(out(n) - v) < 1e-9, s"betweenness($n)") }
    assertTiersAgree(Centrality.betweenness(edges),
      Centrality.betweenness(edges, maxLocalEdges = 0))
    assert(cache.isEmpty, "betweenness' distributed tier left a cache")
    // 14 input edges: the local tier holds up to a bound of 2·14, and one
    // below it the op falls back to the distributed tier
    assertTiersAgree(Centrality.betweenness(edges, maxLocalEdges = 28),
      Centrality.betweenness(edges, maxLocalEdges = 27))
  }

  test("eigenvector centrality matches networkx") {
    val g = Map(0 -> 0.29651579, 1 -> 0.29651579, 2 -> 0.29651579,
      3 -> 0.39713263, 4 -> 0.43660969, 5 -> 0.34509036, 6 -> 0.34509036,
      7 -> 0.37067069, 8 -> 0.1110015)
    val out = Centrality.eigenvector(edges, iters = 50)
      .as[(Int, Double)].collect().toMap
    g.foreach { case (n, v) => assert(math.abs(out(n) - v) < 1e-4, s"eigenvector($n)") }
  }

  test("hits hubs match the power-iteration limit") {
    val g = Map(0 -> 0.10241837, 1 -> 0.10241837, 2 -> 0.10241837,
      3 -> 0.13717204, 4 -> 0.15080766, 5 -> 0.11919632, 6 -> 0.11919632,
      7 -> 0.12803193, 8 -> 0.0383406)
    val und = Centrality.symmetrize(edges)
    cache.clearCache()
    // 45 % checkpointEvery != 0: the run ends between checkpoints
    val out = Centrality.hits(und, iters = 45)
      .select("node", "hub").as[(Int, Double)].collect().toMap
    assert(cache.isEmpty, "hits left a cache")
    g.foreach { case (n, v) => assert(math.abs(out(n) - v) < 1e-4, s"hub($n)") }
  }

  test("degree centrality is deg/(n-1)") {
    val out = Centrality.degreeCentrality(edges).as[(Int, Double)].collect().toMap
    assert(math.abs(out(3) - 4.0 / 8) < 1e-12)
    assert(math.abs(out(8) - 1.0 / 8) < 1e-12)
  }

  test("eccentricity / diameter / radius match networkx") {
    val g = Map(0 -> 4, 1 -> 4, 2 -> 4, 3 -> 3, 4 -> 2, 5 -> 3, 6 -> 3,
      7 -> 3, 8 -> 4)
    cache.clearCache()
    val out = Centrality.eccentricity(edges).as[(Int, Int)].collect().toMap
    assert(cache.isEmpty, "eccentricity left a cache")
    g.foreach { case (n, v) => assert(out(n) == v, s"ecc($n)") }
    assertTiersAgree(Centrality.eccentricity(edges),
      Centrality.eccentricity(edges, maxLocalEdges = 0))
    assert(cache.isEmpty, "eccentricity's distributed tier left a cache")
    val dr = Centrality.diameterRadius(edges).as[(Int, Int)].head()
    assert(dr == ((4, 2)))
  }

  test("connected components and graphInfo match networkx") {
    import graft.graph.GraphOps
    // fixture + a detached edge (10, 11): two components
    val e2 = edges.unionByName(Seq((10, 11)).toDF("src", "dst"))
    val cc = GraphOps.connectedComponents(e2).as[(Int, Int)].collect().toMap
    assert((0 to 8).map(cc).toSet == Set(0), "main component labeled 0")
    assert(cc(10) == 10 && cc(11) == 10, "detached pair labeled 10")
    val info = GraphOps.graphInfo(e2)
      .as[(Long, Long, Double, Double, Double, Long, Long)].head()
    assert(info._1 == 11 && info._2 == 15, "nodes/edges")
    assert(math.abs(info._3 - 0.2727272727272727) < 1e-12, s"density ${info._3}")
    assert(math.abs(info._4 - 0.7272727272727273) < 1e-12, s"transitivity ${info._4}")
    assert(math.abs(info._5 - 0.5909090909090909) < 1e-12, s"avg_clustering ${info._5}")
    assert(info._6 == 2 && info._7 == 9, "components / largest")
    assertTiersAgree(GraphOps.connectedComponents(e2),
      GraphOps.connectedComponents(e2, maxLocalEdges = 0))
    assertTiersAgree(GraphOps.graphInfo(e2), GraphOps.graphInfo(e2, maxLocalEdges = 0))
  }

  test("connectedComponents converges on both tiers on a path longer than 50 rounds") {
    import graft.graph.GraphOps
    // diameter 60: min-label propagation needs 60 rounds to carry label 0
    // to node 60, past the 50-round cap the distributed loop once had
    val path = (0 until 60).map(i => (i, i + 1)).toDF("src", "dst")
    val local = GraphOps.connectedComponents(path)
    assert(local.as[(Int, Int)].collect().toSet == (0 to 60).map((_, 0)).toSet)
    assertTiersAgree(local, GraphOps.connectedComponents(path, maxLocalEdges = 0))
  }

  test("string ids run the distributed tier and match the integer graph") {
    import graft.graph.GraphOps
    // single-digit ids, so "n<i>" orders like i and the smallest-id
    // component label maps over too
    val named = edges.select(concat(lit("n"), col("src")).as("src"),
      concat(lit("n"), col("dst")).as("dst"))
    def relabel(df: org.apache.spark.sql.DataFrame, ids: String*) =
      df.select(df.columns.map(c =>
        if (ids.contains(c)) concat(lit("n"), col(c)).as(c) else col(c)): _*)
    // the relabelled integer results run locally with string ids, so each
    // check also pins the string graph's tier and its string id columns
    assertTiersAgree(relabel(Centrality.closeness(edges), "node"), Centrality.closeness(named))
    assertTiersAgree(relabel(GraphOps.connectedComponents(edges), "node", "component"),
      GraphOps.connectedComponents(named))
    assertTiersAgree(GraphOps.graphInfo(edges), GraphOps.graphInfo(named))
  }
}

class CommunitySpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7), (3, 4), (7, 8)
  ).toDF("src", "dst")

  private def groups(df: org.apache.spark.sql.DataFrame): Set[Set[Int]] =
    df.as[(Int, Int)].collect().groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("label propagation finds the two cliques (networkx grouping)") {
    val out = groups(Community.labelPropagation(edges))
    assert(out == Set(Set(0, 1, 2, 3), Set(4, 5, 6, 7, 8)))
  }

  test("louvain finds the two cliques (networkx grouping)") {
    val out = groups(Community.louvain(edges))
    assert(out == Set(Set(0, 1, 2, 3), Set(4, 5, 6, 7, 8)))
  }

  test("modularity and partition quality match networkx") {
    val comm = Seq(0 -> 1, 1 -> 1, 2 -> 1, 3 -> 1, 4 -> 2, 5 -> 2, 6 -> 2,
      7 -> 2, 8 -> 2).toDF("node", "community")
    val q = Community.modularity(edges, comm)
    assert(math.abs(q - 0.4260204082) < 1e-9, s"modularity $q")
    val (cov, perf) = Community.partitionQuality(edges, comm)
    assert(math.abs(cov - 0.9285714285714286) < 1e-12, s"coverage $cov")
    assert(math.abs(perf - 0.8888888888888888) < 1e-12, s"performance $perf")
  }

  test("qualitySummary equals the scalar API in one plan") {
    val comm = Seq(0 -> 1, 1 -> 1, 2 -> 1, 3 -> 1, 4 -> 2, 5 -> 2, 6 -> 2,
      7 -> 2, 8 -> 2).toDF("node", "community")
    val row = Community.qualitySummary(edges, comm)
      .as[(Long, Double, Double, Double)].head()
    assert(row._1 == 2)
    assert(math.abs(row._2 - 0.4260204082) < 1e-9, s"modularity ${row._2}")
    assert(math.abs(row._3 - 0.9285714285714286) < 1e-12, s"coverage ${row._3}")
    assert(math.abs(row._4 - 0.8888888888888888) < 1e-12, s"performance ${row._4}")
  }

  test("greedy modularity (CNM) matches networkx grouping and modularity") {
    val out = Community.greedyModularity(edges)
      .select(col("node").cast("int"), col("community").cast("int"))
    assert(groups(out) == Set(Set(0, 1, 2, 3), Set(4, 5, 6, 7, 8)))
    val q = Community.modularity(edges, out)
    assert(math.abs(q - 0.42602040816326536) < 1e-9, s"modularity $q")
  }

  test("local BFS closeness/eccentricity equal the distributed forms (incl. disconnected)") {
    // two components: a random blob + a separate triangle — exercises
    // the wf_improved component scaling
    val rnd = new scala.util.Random(3)
    val blob = (0 until 120).map(_ => (rnd.nextInt(20), rnd.nextInt(20)))
      .filter(e => e._1 != e._2)
    val tri = Seq((100, 101), (101, 102), (102, 100))
    val edges = (blob ++ tri).toDF("src", "dst")
    import graft.graph.GraphOps
    // a bound of 10 is below 2·|edges|: each op falls back to its
    // distributed tier, with the local tier's values
    assertTiersAgree(Centrality.closeness(edges), Centrality.closeness(edges, maxLocalEdges = 10),
      tol = Map("closeness" -> 1e-12))
    assertTiersAgree(Centrality.eccentricity(edges),
      Centrality.eccentricity(edges, maxLocalEdges = 10))
    // local union-find components equal the distributed min-label form
    assertTiersAgree(GraphOps.connectedComponents(edges),
      GraphOps.connectedComponents(edges, maxLocalEdges = 10))
  }

  test("hitsCounts: exact hub/auth path counts on a hand-computed triangle") {
    // 1→2, 1→3, 2→3; a0 ≡ 1
    // h1 = (2,1,0); a1 = (0,2,3); h2 = (5,3,0); a2 = (0,5,8)
    val e = Seq((1, 2), (1, 3), (2, 3)).toDF("src", "dst")
    val out = Centrality.hitsCounts(e, iters = 2)
      .as[(Int, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1) == (5L, 0L) && out(2) == (3L, 5L) && out(3) == (0L, 8L), s"$out")
    // direction agrees with the normalized float hits(): node 1 is the
    // top hub, node 3 the top authority
    val hv = Centrality.hits(e).select("node", "hub", "authority")
      .as[(Int, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(hv(1)._1 > hv(2)._1 && hv(3)._2 > hv(2)._2)
  }

  test("walkCounts: exact A^k·1 on a star graph, alternating center/leaf counts") {
    // star: 0 is the hub of leaves 1..3; w0 ≡ 1
    // k=1: hub = 3 (one per leaf), leaf = 1 (from the hub)
    // k=2: hub = 3·1, leaf = 3       k=3: hub = 9, leaf = 3
    val star = Seq((0, 1), (0, 2), (0, 3)).toDF("src", "dst")
    val w3 = Centrality.walkCounts(star, iters = 3)
      .as[(Int, Long)].collect().toMap
    assert(w3(0) == 9L && w3(1) == 3L && w3(2) == 3L && w3(3) == 3L, s"$w3")
    // direction agrees with eigenvector centrality on the same graph:
    // hub strictly dominates the (equal) leaves
    val ev = Centrality.eigenvector(star).as[(Int, Double)].collect().toMap
    assert(ev(0) > ev(1) && math.abs(ev(1) - ev(2)) < 1e-9)
  }
}
