package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The ANN bar aggregate's execution strategy (round-14: the round-13
  * verdict's lead fix, second iteration — [[Similarity.barFallbackKeys]]
  * raises the ObjectHashAggregate sort-based fallback threshold scoped
  * to the bar materialization, after the first attempt's mapPartitions
  * pre-reduce was measured SLOWER than the spill it replaced; numbers
  * on the barFallbackKeys scaladoc). Contract under test: the bar frame
  * is identical whichever execution path the aggregate takes (hash map
  * vs sort-based fallback), the key-budget arithmetic is what the
  * scaladoc claims, and the big-regime entry points restore the session
  * conf they scope.
  */
class BarAggSpec extends SparkSpec {
  import spark.implicits._

  private val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** The thr frame exactly as topKViaBounds builds it, from any
    * (query_id, neighbor_id, __lb) stream.
    */
  private def barFrame(rows: org.apache.spark.sql.DataFrame, rank: Int) =
    rows.groupBy("query_id")
      .agg(graft.functions.AggF.topKNeighbors(col("neighbor_id"), col("__lb"), rank).as("__tk"))
      .select(col("query_id").cast("long"),
        when(size(col("__tk")) < rank, lit(Double.NegativeInfinity))
          .otherwise(element_at(col("__tk"), rank).getField("cos"))
          .as("__thr"))
      .as[(Long, Double)].collect().toMap

  private def withFallback[A](threshold: Int)(f: => A): A =
    withConf(fbKey -> threshold.toString)(f)

  private def randomBounds(seed: Int, n: Int, queries: Int, parts: Int) = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.tabulate(n) { _ =>
      val q = rnd.nextInt(queries).toLong
      val id = rnd.nextInt(40).toLong
      // duplicates with the SAME (id, lb) mimic the LSH multi-table
      // multiset; occasional NaN exercises the exclusion path
      val lb = if (rnd.nextInt(37) == 0) Double.NaN
        else math.rint(rnd.nextDouble() * 20) / 20.0 - 0.5
      (q, id, lb)
    }
    spark.createDataset(rows).toDF("query_id", "neighbor_id", "__lb")
      .repartition(parts)
  }

  test("hash-map partial (raised threshold) == sort-fallback partial (threshold 1)") {
    for (rank <- Seq(1, 3, 20); seed <- Seq(7, 8)) {
      val bounds = randomBounds(seed, n = 5000, queries = 60, parts = 7)
        .persist()
      try {
        // threshold 1: every partition falls back to sort-based after
        // its first key — the execution path the raised threshold avoids
        val sorted = withFallback(1)(barFrame(bounds, rank))
        val hashed = withFallback(Similarity.barFallbackKeys(rank))(barFrame(bounds, rank))
        assert(hashed == sorted, s"rank=$rank seed=$seed: bar frames differ across execution paths")
        assert(sorted.nonEmpty && sorted.values.exists(_ != Double.NegativeInfinity),
          s"rank=$rank seed=$seed: vacuous (no finite bars)")
      } finally bounds.unpersist()
    }
  }

  test("barFallbackKeys: budget arithmetic, floor, rank monotonicity") {
    // 256 MB budget / (160 + 16·r) bytes per (key + TopKBuf-r) entry
    assert(Similarity.barFallbackKeys(5) == ((256L << 20) / (160 + 16 * 5)).toInt)
    assert(Similarity.barFallbackKeys(40) == ((256L << 20) / (160 + 16 * 40)).toInt)
    // never below the 128k floor (a tiny budget must not reintroduce
    // the 128-key default's candidate-volume sort)
    assert(Similarity.barFallbackKeys(5, budgetBytes = 1024) == 128 * 1024)
    // wider ranks (LSH's k·tables) get proportionally fewer keys
    assert(Similarity.barFallbackKeys(40) < Similarity.barFallbackKeys(5))
  }

  test("big-regime top-k restores the session fallback threshold") {
    val before = spark.conf.get(fbKey)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rnd = new scala.util.Random(3)
      val vecs = Seq.tabulate(300)(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
        .toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
      assert(Similarity.vectorSideTooBig(Similarity.prepped(vecs, "id", "v")),
        "test setup: big regime not engaged")
      val out = Similarity.ivfTopKTwoLevel(vecs, "id", "v", k = 2, nLists = 4, nProbe = 2)
      assert(out.count() > 0)
      assert(spark.conf.get(fbKey) == before,
        s"fallback threshold leaked: ${spark.conf.get(fbKey)} != $before")
    }
  }

  test("queries with fewer than rank finite lowers keep the -inf sentinel") {
    // query 0: 2 finite entries (rank 3 unreachable -> -inf);
    // query 1: 3 finite + 2 NaN (NaN excluded -> finite bar)
    val bounds = Seq(
      (0L, 1L, 0.9), (0L, 2L, 0.8),
      (1L, 1L, 0.9), (1L, 2L, Double.NaN), (1L, 3L, 0.7),
      (1L, 4L, 0.6), (1L, 5L, Double.NaN)
    ).toDF("query_id", "neighbor_id", "__lb").repartition(2)
    val bar = withFallback(1)(barFrame(bounds, 3))
    assert(bar(0L) == Double.NegativeInfinity)
    assert(bar(1L) == 0.6)
  }
}
