package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.AsOf

/** Property-based as-of validation (SURVEY §5 test strategy): on
  * ScalaCheck-generated keyed time series, the native sort-merge operator
  * and its union-merge twins (`SpecTwins`) must equal a naive per-row
  * linear scan, for exact and strict semantics, across seeds — and, with
  * right-side ties at one (key, time), in both directions.
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

        def collectOut(df: DataFrame)
            : Map[Long, (Option[Double], Option[Double])] =
          df.select("rid", "v", "v2").as[(Long, Option[Double], Option[Double])]
            .collect().map(r => r._1 -> (r._2, r._3)).toMap

        val merged = collectOut(SpecTwins.unionMergeBackward(left, right, Seq("k"), "t",
          Seq("v", "v2"), allowExact = exact))
        val native = collectOut(AsOf.joinBackward(left, right, Seq("k"), "t",
          Seq("v", "v2"), allowExact = exact))
        assert(merged == naive, s"union-merge vs naive (seed=$seed exact=$exact)")
        assert(native == naive, s"native vs naive (seed=$seed exact=$exact)")
      }
    }
  }

  // few times per key, so (key, time) ties are common; the tie-break is
  // NULL ~25% of the time and unique per (key, time), nulls included
  private val tiedGen = Gen.listOfN(120, for {
    k <- Gen.choose(0, 7)
    t <- Gen.choose(0, 15)
    v <- Gen.choose(0, 10000)
    tb <- Gen.choose(0, 11)
  } yield (s"K$k", t, v / 100.0, if (tb < 3) None else Some(tb)))

  test("right-side ties keep the tie-break winner (both directions, both modes)") {
    for (seed <- Seq(3L, 99L)) {
      val leftRows = sample(leftGen, seed).zipWithIndex
        .map { case ((k, t), i) => (k, t % 18, i.toLong) }
      val rightRows = sample(tiedGen, seed + 1)
        .groupBy(r => (r._1, r._2, r._4)).values.map(_.head).toSeq
      assert(rightRows.groupBy(r => (r._1, r._2)).exists(_._2.size > 2))
      val left = leftRows.toDF("k", "t", "rid")
      val right = rightRows.toDF("k", "t", "v", "tb")
      // backward keeps the greatest tie-break, nulls lowest; forward the
      // least, nulls highest
      val fwdTb = Ordering.by[Option[Int], (Int, Int)](_.fold((1, 0))(x => (0, x)))

      for (forward <- Seq(false, true); exact <- Seq(true, false)) {
        val naive: Map[Long, (Option[Double], Option[Int])] =
          leftRows.map { case (k, t, rid) =>
            val cands = rightRows.filter(r => r._1 == k &&
              (if (forward) (if (exact) r._2 >= t else r._2 > t)
               else (if (exact) r._2 <= t else r._2 < t)))
            rid -> (if (cands.isEmpty) (None, None) else {
              val w = if (forward) cands.minBy(r => (r._2, r._4))(Ordering.Tuple2(Ordering.Int, fwdTb))
                      else cands.maxBy(r => (r._2, r._4))
              (Some(w._3), w._4)
            })
          }.toMap

        def collectOut(df: DataFrame)
            : Map[Long, (Option[Double], Option[Int])] =
          df.select("rid", "v", "tb").as[(Long, Option[Double], Option[Int])]
            .collect().map(r => r._1 -> (r._2, r._3)).toMap

        type AsOfFn =
          (DataFrame, DataFrame, Seq[String], String, Seq[String], Boolean, Option[String]) => DataFrame
        def run(f: AsOfFn) =
          collectOut(f(left, right, Seq("k"), "t", Seq("v", "tb"), exact, Some("tb")))
        val (native, twin): (AsOfFn, AsOfFn) =
          if (forward) (AsOf.joinForward, SpecTwins.unionMergeForward)
          else (AsOf.joinBackward, SpecTwins.unionMergeBackward)
        val ctx = s"seed=$seed forward=$forward exact=$exact"
        assert(run(native) == naive, s"native vs naive ($ctx)")
        assert(run(twin) == naive, s"union-merge twin vs naive ($ctx)")
      }
    }
  }
}
