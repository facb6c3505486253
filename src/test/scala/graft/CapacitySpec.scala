package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sim.Capacity

/** The capacity-∝-corpus chooser must hand a deployment exactly the
  * configurations the scale stress measured near-linear at ×10/×30/×81
  * (and the catalog/spec-pinned configuration at the reference scale).
  */
class CapacitySpec extends AnyFunSuite {
  private val ref = Capacity.RefEmbeddingRows // 2000 (sf0.1 embeddings)

  test("reference corpus degenerates to the catalog configuration") {
    assert(Capacity.lshPlanes(ref) == 12)                  // s_lsh catalog
    assert(Capacity.lshPlanes(ref, basePlanes = 8) == 8)   // t_embdup catalog
    assert(Capacity.ivfNLists(ref) == 16)                  // s_ivf2 catalog
    assert(!Capacity.simHashWide(Capacity.RefDocumentRows))
    // below the reference: never shrink under the spec-pinned config
    assert(Capacity.lshPlanes(1L) == 12)
    assert(Capacity.ivfNLists(1L) == 16)
  }

  test("three stress decades reproduce the measured-near-linear configs") {
    // x10 / x30 / x81 of the sf0.1 base — the exact overrides the
    // LEDGER.md scale tables report
    for ((copies, extra) <- Seq(10 -> 4, 30 -> 5, 81 -> 7)) {
      val rows = copies * ref
      assert(Capacity.lshPlanes(rows) == 12 + extra, s"x$copies")
      assert(Capacity.lshPlanes(rows, basePlanes = 8) == 8 + extra, s"x$copies")
      assert(Capacity.ivfNLists(rows) == 16 * copies, s"x$copies")
    }
    assert(!Capacity.simHashWide(10L * Capacity.RefDocumentRows))  // 64-bit fine at x10
    assert(Capacity.simHashWide(31L * Capacity.RefDocumentRows))   // past the measured x30 crossover
    assert(Capacity.simHashWide(81L * Capacity.RefDocumentRows))
  }

  test("capacity grows monotonically and keeps occupancy bounded") {
    var lastPlanes = 0
    var lastLists = 0
    for (rows <- Seq(1000L, 2000L, 5000L, 20000L, 100000L, 1000000L,
        100000000L, 10000000000L)) {
      val p = Capacity.lshPlanes(rows)
      val l = Capacity.ivfNLists(rows)
      assert(p >= lastPlanes && l >= lastLists, s"rows=$rows")
      lastPlanes = p; lastLists = l
      // occupancy bounds: buckets/lists sized to the corpus at every scale
      assert(rows.toDouble / (1L << p) <= ref.toDouble / (1L << 12) + 1e-9,
        s"rows=$rows planes=$p — expected occupancy above reference")
      if (l < (1 << 20)) // below the quantizer ceiling, occupancy holds
        assert(rows.toDouble / l <= 125.0 + 1e-9, s"rows=$rows lists=$l")
    }
    // 100 TB-ish corpus: parameters stay in sane integer ranges
    assert(Capacity.lshPlanes(1000000000000L) <= 42)
    assert(Capacity.ivfNLists(1000000000000L) == (1 << 20)) // capped, no overflow
  }

  test("doublings is exact at power-of-two ratios (integer, no FP log)") {
    // ceil(log/log) read 29.000000000000004 at j=29 and returned j+1;
    // the integer form must hit j exactly and j+1 one row later
    for (j <- Seq(1, 7, 29, 31, 39, 51)) {
      val rows = Capacity.RefEmbeddingRows << j
      assert(Capacity.doublings(rows, Capacity.RefEmbeddingRows) == j, s"j=$j")
      assert(Capacity.doublings(rows + 1, Capacity.RefEmbeddingRows) == j + 1, s"j=$j+1")
    }
    // no additive-ceiling overflow at the top of the Long range
    assert(Capacity.doublings(Long.MaxValue, 1000L) == 54)
  }

  test("degenerate inputs are rejected") {
    intercept[IllegalArgumentException](Capacity.lshPlanes(0L))
    intercept[IllegalArgumentException](Capacity.ivfNLists(-5L))
    intercept[IllegalArgumentException](Capacity.doublings(10L, 0L))
    intercept[IllegalArgumentException](Capacity.lshTopKRoutesToIvf(0L))
  }

  test("LSH top-k law boundary: five committed decades stay LSH, x2187 routes") {
    val cut = Capacity.LshTopKMaxRows
    assert(cut == 2916000L) // geometric midpoint of x729 (proven) and x2187 (died)
    assert(!Capacity.lshTopKRoutesToIvf(cut))
    assert(Capacity.lshTopKRoutesToIvf(cut + 1))
    for (copies <- Seq(1L, 10L, 30L, 81L, 243L, 729L))
      assert(!Capacity.lshTopKRoutesToIvf(copies * ref), s"x$copies must stay LSH")
    assert(Capacity.lshTopKRoutesToIvf(2187L * ref), "x2187 must route to IVF")
  }
}

/** The `*Auto` entry points must be pure delegation: calling them with
  * a corpus-row estimate returns EXACTLY what the manual call returns
  * with the chooser's numbers threaded by hand — at the reference scale
  * and up the stress decades, so "one call" and "the ×81-proven
  * configuration" are the same thing.
  */
class CapacityAutoSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.sim.{Capacity, Similarity}
  import graft.text.NearDup
  import spark.implicits._

  private lazy val vecs = (0 until 300).map { i =>
    val c = i % 15
    (i.toLong, Array.tabulate(16) { d =>
      (math.cos(c * 2.399 + d * 0.71) + 0.002 * ((i * 31 + d) % 7)).toFloat
    })
  }.toDF("vec_id", "embedding")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("lshTopKAuto / cosineDupsAuto equal manual at ref, x30 and x81") {
    val ref = Capacity.RefEmbeddingRows
    for (copies <- Seq(1L, 30L, 81L)) {
      val n = copies * ref
      assert(rows(Similarity.lshTopKAuto(vecs, "vec_id", "embedding", 3, n)) ==
        rows(Similarity.lshTopK(vecs, "vec_id", "embedding", 3,
          planes = Capacity.lshPlanes(n))), s"lsh x$copies")
      assert(rows(Similarity.cosineDupsAuto(vecs, "vec_id", "embedding", 0.95, n)) ==
        rows(Similarity.cosineDups(vecs, "vec_id", "embedding", 0.95,
          planes = Capacity.lshPlanes(n, basePlanes = 8))), s"dups x$copies")
    }
  }

  test("lshTopKAuto past the law boundary IS ivfTopKTwoLevelAuto (routed identity)") {
    val n = Capacity.LshTopKMaxRows + 1
    assert(Capacity.lshTopKRoutesToIvf(n))
    val routed = rows(Similarity.lshTopKAuto(vecs, "vec_id", "embedding", 3, n))
    val direct = rows(Similarity.ivfTopKTwoLevelAuto(vecs, "vec_id", "embedding", 3, n))
    assert(routed.nonEmpty, "routed call produced nothing — vacuous")
    assert(routed == direct, "routed Auto call must equal the direct IVF Auto call")
  }

  test("ivfTopKAuto equals manual (k-means fit included) at ref and x10") {
    val ref = Capacity.RefEmbeddingRows
    for (copies <- Seq(1L, 10L)) { // x10 -> 160 lists, still < the 300 rows
      val n = copies * ref
      assert(rows(Similarity.ivfTopKAuto(vecs, "vec_id", "embedding", 3, n)) ==
        rows(Similarity.ivfTopK(vecs, "vec_id", "embedding", 3,
          nLists = Capacity.ivfNLists(n))), s"ivf x$copies")
    }
  }

  test("simHashPairsAuto switches width at the measured crossover") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about financial markets data"),
      (4L, "the quick brown fox jumps over the lazy dog again and often"))
      .toDF("doc_id", "text")
    val refDocs = Capacity.RefDocumentRows
    assert(rows(NearDup.simHashPairsAuto(docs, "doc_id", "text", refDocs)) ==
      rows(NearDup.simHashPairs(docs, "doc_id", "text")))
    assert(rows(NearDup.simHashPairsAuto(docs, "doc_id", "text", 81L * refDocs)) ==
      rows(NearDup.simHashPairs128(docs, "doc_id", "text")))
  }
}
