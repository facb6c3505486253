package graft

import org.apache.spark.sql.functions._
import graft.text.NearDup

/** The 124-bit corpus-scale simhash ([[NearDup.simHashPairs128]]):
  * banding must be EXACT — candidates from shared bands, verified by
  * full two-half Hamming — so the spec brute-forces the ground truth
  * on a corpus with planted near-dups and asserts set equality, which
  * checks the pigeonhole band carving (any pair at hamming ≤ 8 shares
  * ≥ 1 of the 9 bands) and the verify arithmetic at once.
  */
class SimHash128Spec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def corpus(): DataFrame = {
    import spark.implicits._
    val base = (0 until 120).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 7 + j * 13) % 97}token$j")
      (i.toLong, words.mkString(" "))
    }
    // planted near-dups: docs 1000+i are docs i with ONE word changed —
    // high bit-agreement pairs the banding must recover
    val dups = (0 until 20).map { i =>
      val words = (0 until 40).map(j =>
        if (j == 17) "changedword" else s"w${(i * 7 + j * 13) % 97}token$j")
      (1000L + i, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("banded candidates + verify equal the brute-force hamming<=8 set") {
    val docs = corpus()
    val got = NearDup.simHashPairs128(docs, "doc_id", "text")
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet

    val sigs = docs.select(col("doc_id"), NearDup.simHash128(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa(0) ^ sb(0)) + java.lang.Long.bitCount(sa(1) ^ sb(1))
      if h <= 8
    } yield (ia, ib, h.toLong)).toSet

    assert(got == want)
    // the planted one-word edits must actually be in the recovered set
    assert(want.exists { case (a, b, _) => b - a == 1000L },
      s"no planted near-dup recovered: $want")
  }

  test("halves differ even for single-char tokens (r9 ADVICE: commuting mix)") {
    // for 1-char tokens every poly base folds to h = c, so the halves'
    // independence rests ENTIRELY on the Lehmer mixes differing — the
    // pre-fix kernel (order-swapped 16807/48271, which commutes mod M31)
    // made half 2 an affine image of half 1 here
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(5)
    val sigs = (0 until 40).map { _ =>
      val toks = (0 until 30).map(_ => ('a' + rnd.nextInt(26)).toChar.toString)
      val arr = new GenericArrayData(toks.map(t => UTF8String.fromString(t): Any).toArray)
      val s = SpecTwins.simhashPoly128(arr)
      (s.getLong(0), s.getLong(1))
    }
    val diffBits = sigs.map { case (a, b) => java.lang.Long.bitCount(a ^ b) }
    assert(diffBits.sum.toDouble / diffBits.length > 15.0, diffBits)
  }

  test("signature halves are independent streams and bits 62-63 are zero") {
    val docs = corpus()
    val sigs = docs.select(NearDup.simHash128(col("text")).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.forall(s => (s(0) >>> 62) == 0L && (s(1) >>> 62) == 0L))
    // halves disagree on roughly half their bits across the corpus —
    // identical halves would mean the second mix collapsed into the first
    val diffBits = sigs.map(s => java.lang.Long.bitCount(s(0) ^ s(1)))
    assert(diffBits.sum.toDouble / diffBits.length > 15.0, diffBits.toSeq)
  }

  test("deterministic across evaluations") {
    val docs = corpus()
    val a = docs.select(col("doc_id"), NearDup.simHash128(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val b = docs.select(col("doc_id"), NearDup.simHash128(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(a == b)
  }
}
