package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorF
import graft.sim.Similarity

/** Pins the per-row quantizer ranking ([[Similarity.nearestLists]] —
  * broadcast centroid array, transform → array_sort → slice) bit-identical
  * to the window formulation it replaced (crossJoin(centroids) +
  * row_number over (partition by id order by dist, list)), which is also
  * the shape the s_ivf2 DuckDB oracle still uses. The two must agree on
  * EVERY (id, rank) → list assignment, including distance ties (broken by
  * smallest list id) — the rewrite's claim is identical doubles from
  * identical arithmetic, so equality is exact, not approximate.
  */
class NearestListsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic vectors with planted structure: clustered directions so
  // nearest-centroid is nontrivial, plus EXACT DUPLICATE vectors of some
  // centroids so distance ties are actually exercised
  private def mkVecs(n: Int, dim: Int): Seq[(Long, Array[Double])] =
    (0 until n).map { i =>
      val c = i % 7
      val v = Array.tabulate(dim)(d =>
        math.cos(c * 1.13 + d * 0.37) + 0.01 * ((i * 13 + d) % 11))
      (i.toLong, v)
    }

  test("nearestLists matches the window-rank formulation exactly, ties included") {
    val dim = 12
    val nProbe = 4
    val nLists = 9
    val base = mkVecs(120, dim)
    // duplicate the first nLists vectors (the centroid set) verbatim under
    // new ids: their distance to their own centroid is exactly 0.0 and to
    // every other centroid exactly equal to the original's — tie paths hit
    val dups = base.take(nLists).zipWithIndex.map { case ((_, v), j) =>
      (1000L + j, v.clone())
    }
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val v = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__v"))
    val centroids = v.orderBy(col("vec_id")).limit(nLists)
      .select(row_number().over(Window.partitionBy(lit(1)).orderBy("vec_id")).as("__rn"),
        col("__v").as("centroid"))
      .select((col("__rn") - 1).as("list"), col("centroid"))

    def ranks(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), posexplode(col("lists")))
      .select(col("vec_id"), (col("pos") + 1).as("pr"), col("col").as("list"))
      .as[(Long, Int, Int)].collect().toSet
    val fast = ranks(Similarity.nearestLists(v, "vec_id", centroids, nProbe))
    val hof = ranks(SpecTwins.nearestListsHof(v, "vec_id", centroids, nProbe))

    // the replaced shape, verbatim: crossJoin + row_number window
    val dist = VectorF.dotp(col("__v"), col("__v")) +
      VectorF.dotp(col("centroid"), col("centroid")) -
      lit(2.0) * VectorF.dotp(col("__v"), col("centroid"))
    val w = Window.partitionBy("vec_id").orderBy(col("__cdist").asc, col("list").asc)
    val slow = v.crossJoin(broadcast(centroids))
      .withColumn("__cdist", dist)
      .withColumn("__pr", row_number().over(w))
      .where(col("__pr") <= nProbe)
      .select(col("vec_id"), col("__pr"), col("list"))
      .as[(Long, Int, Int)].collect().toSet

    assert(fast == slow, "native kernel vs window-rank")
    assert(hof == slow, "interpreted HOF twin vs window-rank")
    assert(fast.size == (120 + nLists) * nProbe)
  }
}
