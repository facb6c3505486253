package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.AsOf
import graft.plans.AsOfJoin

/** Property-based as-of validation (SURVEY §5 test strategy): on
  * ScalaCheck-generated keyed time series, BOTH as-of implementations
  * (union-merge and the native sort-merge operator) must equal a naive
  * per-row linear scan, for exact and strict semantics, across seeds.
  */
class AsOfPropertySpec extends SparkSpec {
  import spark.implicits._

  private val leftGen = Gen.listOfN(150, for {
    k <- Gen.choose(0, 5)
    t <- Gen.choose(0, 60)
  } yield (s"K$k", t))

  private val rightGen = Gen.listOfN(80, for {
    k <- Gen.choose(0, 7)
    t <- Gen.choose(0, 55)
    v <- Gen.choose(0, 10000)
    // second attribute is NULL ~30% of the time: the whole-row property —
    // all attributes must come from the SAME prevailing row, a null never
    // back-filled from an older one (the round-5 ADVICE stitching bug)
    nul <- Gen.choose(0, 9)
  } yield (s"K$k", t, v / 100.0, if (nul < 3) None else Some(v / 10.0)))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("as-of == naive scan over generated series (both impls, both modes)") {
    for (seed <- Seq(7L, 42L, 1234L)) {
      val leftRows = sample(leftGen, seed).zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }
      // unique (key, time) on the right: keep the max-v ROW (v2 rides
      // along from that same row), like real quote dedup
      val rightRows = sample(rightGen, seed + 1)
        .groupBy(r => (r._1, r._2)).map { case ((k, t), vs) =>
          val w = vs.maxBy(_._3)
          (k, t, w._3, w._4)
        }.toSeq

      val left = leftRows.toDF("k", "t", "rid")
      val right = rightRows.toDF("k", "t", "v", "v2")

      for (exact <- Seq(true, false)) {
        val naive: Map[Long, (Option[Double], Option[Double])] =
          leftRows.map { case (k, t, rid) =>
            val cands = rightRows.filter(r =>
              r._1 == k && (if (exact) r._2 <= t else r._2 < t))
            rid -> (if (cands.isEmpty) (None, None)
                    else { val w = cands.maxBy(_._2); (Some(w._3), w._4) })
          }.toMap

        def collectOut(df: org.apache.spark.sql.DataFrame)
            : Map[Long, (Option[Double], Option[Double])] =
          df.select("rid", "v", "v2").as[(Long, Option[Double], Option[Double])]
            .collect().map(r => r._1 -> (r._2, r._3)).toMap

        val merged = collectOut(AsOf.unionMergeBackward(left, right, Seq("k"), "t",
          Seq("v", "v2"), allowExact = exact))
        val native = collectOut(AsOfJoin.joinBackward(left, right, Seq("k"), "t",
          Seq("v", "v2"), allowExact = exact))
        assert(merged == naive, s"union-merge vs naive (seed=$seed exact=$exact)")
        assert(native == naive, s"native vs naive (seed=$seed exact=$exact)")
      }
    }
  }
}
