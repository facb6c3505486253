package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint
import org.apache.spark.sql.functions._

/** `Centrality.tieredByKey` sizes the rank frame from src ∪ dst: a
  * directed graph whose nodes are mostly sinks must still pick the
  * shuffle tier once |V| passes the broadcast threshold.
  */
class TieredByKeySpec extends graft.SparkSpec {

  private def shuffleHinted(hinted: DataFrame => DataFrame): Boolean =
    hinted(spark.range(1).toDF("node")).queryExecution.logical
      .collectFirst { case h: UnresolvedHint => h.name.equalsIgnoreCase("shuffle_hash") }
      .getOrElse(false)

  // 3 sources fan out to 2,000 sink-only nodes
  private def sinkHeavy = spark.range(0, 2000)
    .select((col("id") % 3).as("src"), (col("id") + 10).as("dst"))

  test("sink-heavy directed graph picks the shuffle tier past the threshold") {
    // src alone is 3 nodes (144 B of rank rows), src ∪ dst is 2,003 (96 kB)
    val tier = withConf("spark.sql.autoBroadcastJoinThreshold" -> "10000") {
      val (edges, hinted, _) = Centrality.tieredByKey(sinkHeavy, "src")
      assert(edges.count() == 2000)
      shuffleHinted(hinted)
    }
    assert(tier, "sink-only nodes left out of the |V| probe")
  }

  test("the same graph keeps the broadcast tier under the session threshold") {
    val (_, hinted, release) = Centrality.tieredByKey(sinkHeavy, "src")
    assert(!shuffleHinted(hinted))
    release()
  }
}
