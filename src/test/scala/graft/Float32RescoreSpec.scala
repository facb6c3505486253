package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** The ANN rescore's too-big-to-broadcast regime (round-12 verdict #1):
  * when the vector side exceeds the broadcast threshold, the rescore
  * joins carry a SHUFFLE_HASH hint (round 11) AND a float32 copy of the
  * vector payload (round 12) — the candidate-volume join output
  * re-shuffles one vector per candidate, and at ×243 that spill
  * exceeded one node's 74 GB local disk; float32 halves it.
  *
  * These tests pin (a) the float32 path's numerics against the float64
  * path on the real catalog embeddings — pair-set equality at the
  * threshold, 6dp-rounded cosine equality (the oracle rounding), and a
  * 1e-5 absolute bound; (b) the regime gate itself — the big regime
  * plans ShuffledHashJoin over float32 payloads, the catalog regime
  * keeps BroadcastHashJoin over the untouched float64 payloads (so
  * catalog plans and hashes stay bit-for-bit).
  */
class Float32RescoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private lazy val vecs = graft.core.Tables.embeddings(spark, dir)

  /** Run `f` with auto-broadcast disabled — [[Similarity]]'s size gate
    * reads that as "broadcast unavailable", i.e. the corpus-scale
    * regime.
    */
  private def inBigRegime[A](f: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  test("dotpF matches dotp within float-rounding and keeps null semantics") {
    val rows = Seq(
      (Array(1.0, 2.5, -3.25), Array(0.5, -1.5, 2.0)),
      (Array(1e-3, 2e-3, 3e-3), Array(4.0, 5.0, 6.0))
    ).toDF("a", "b")
    val out = rows.select(
      graft.functions.VectorF.dotp(col("a"), col("b")).as("d"),
      graft.functions.VectorF.dotpF(
        col("a").cast("array<float>"), col("b").cast("array<float>")).as("f"))
      .as[(Double, Double)].collect()
    out.foreach { case (d, f) => assert(math.abs(d - f) < 1e-6, s"$d vs $f") }
    // exactly-representable values are bit-identical through the widen
    val exact = Seq((Array(1.0, 2.0, -4.5), Array(0.5, 8.0, 2.0))).toDF("a", "b")
      .select(graft.functions.VectorF.dotpF(
        col("a").cast("array<float>"), col("b").cast("array<float>")).as("f"))
      .as[Double].head()
    assert(exact == 1.0 * 0.5 + 2.0 * 8.0 + -4.5 * 2.0)
    // null array, null element, and length mismatch all yield null
    val nulls = spark.sql(
      """SELECT CAST(NULL AS ARRAY<FLOAT>) AS a, CAST(ARRAY(1.0) AS ARRAY<FLOAT>) AS b
         UNION ALL SELECT CAST(ARRAY(1.0, NULL) AS ARRAY<FLOAT>), CAST(ARRAY(1.0, 2.0) AS ARRAY<FLOAT>)
         UNION ALL SELECT CAST(ARRAY(1.0) AS ARRAY<FLOAT>), CAST(ARRAY(1.0, 2.0) AS ARRAY<FLOAT>)""")
      .select(graft.functions.VectorF.dotpF(col("a"), col("b")).as("f"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)), nulls.mkString(","))
  }

  test("cosineDups big-regime float32 rescore: same pairs, 6dp-equal cosines") {
    // same candidate generation either way (signatures are computed on
    // the float64 prepped column in both regimes) — only the rescore
    // payload/dot differ, so pair-by-pair comparison isolates exactly
    // the float32 numerics on the real catalog embedding distribution
    def run() = Similarity.cosineDups(vecs, "vec_id", "embedding",
        threshold = 0.4, planes = 8, tables = 8)
      .select(col("id_a"), col("id_b"), col("cos"))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val f64 = run()
    val f32 = inBigRegime(run())
    assert(f64.nonEmpty, "catalog slice produced no pairs — spec is vacuous")
    assert(f64.keySet == f32.keySet,
      s"pair sets differ: only64=${(f64.keySet -- f32.keySet).take(5)} " +
        s"only32=${(f32.keySet -- f64.keySet).take(5)}")
    f64.foreach { case (k, c64) =>
      val c32 = f32(k)
      assert(math.abs(c64 - c32) < 1e-5, s"$k: $c64 vs $c32")
      assert(BigDecimal(c64).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
        BigDecimal(c32).setScale(6, BigDecimal.RoundingMode.HALF_UP),
        s"$k: 6dp rounding differs ($c64 vs $c32)")
    }
  }

  test("lshTopK big-regime float32 rescore matches the float64 ranking") {
    def run() = Similarity.lshTopK(vecs, "vec_id", "embedding",
        k = 5, planes = 12, tables = 4)
      .select(col("query_id"), col("rank"), col("cos"), col("neighbor_id"))
      .as[(Long, Long, Double, Long)].collect()
    val f64 = run()
    val f32 = inBigRegime(run())
    assert(f64.nonEmpty && f64.length == f32.length)
    // per (query, rank): cosines equal to 1e-5 (a float near-tie may
    // swap two neighbors whose cosines agree to ~1e-7 — the cos at each
    // rank is stable even then); on this corpus the neighbor ids
    // themselves also match, asserted to catch structural drift
    val m64 = f64.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val m32 = f32.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(m64.keySet == m32.keySet)
    m64.foreach { case (k, (c64, n64)) =>
      val (c32, n32) = m32(k)
      assert(math.abs(c64 - c32) < 1e-5, s"$k: $c64 vs $c32")
      assert(n64 == n32, s"$k: neighbor $n64 vs $n32 (cos $c64 vs $c32)")
    }
  }

  test("regime gate: big plans ShuffledHashJoin over float32; catalog keeps BHJ float64") {
    def pairs = Similarity.cosineDups(vecs, "vec_id", "embedding",
      threshold = 0.4, planes = 8, tables = 8)
    val big = inBigRegime(pairs.queryExecution.executedPlan.toString)
    assert("ShuffledHashJoin".r.findAllIn(big).length >= 2, big.take(2000))
    // the float32 payload scores through the graft_dotf kernel ("array
    // <float>" itself can't discriminate — the parquet ReadSchema reads
    // the embedding column as array<float> in BOTH regimes)
    assert(big.contains("graft_dotf"), big.take(2000))
    val small = pairs.queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"), small.take(2000))
    assert(small.contains("graft_dot(") && !small.contains("graft_dotf"),
      small.take(2000))
  }
}
