package graft

import org.scalatest.funsuite.AnyFunSuite

/** The v6 stress-generator permutations ([[StressGen]]) — the
  * decorrelation contract every text stress decade depends on, pinned
  * after TWO measured generator defects (both found by exact
  * candidate-mass counts, LEDGER.md round 14): the rotation family's pigeonhole
  * (copies at distance 405 differing only on rare letters → planted
  * cross-copy near-dups) and the raw-index Lehmer cut's fixed prefixes
  * (half the copies fixing the set's first letters → frequent words
  * like "data" invariant corpus-wide, merging shingle df across
  * copies).
  */
class StressGenSpec extends AnyFunSuite {

  private val rot1 = "etaoinsrh"
  private val rot2 = "dlcumwfgy"
  private val rot3 = "bpvkx"
  private val rot4 = "qjz"

  test("copy 0 is the identity on every set") {
    for (s <- Seq(rot1, rot3, rot4)) assert(StressGen.perm(s, 0) == s)
    assert(StressGen.perm(rot2, 0, second = true) == rot2)
  }

  test("every output is a permutation of its set") {
    for (c <- 0 until 500; s <- Seq(rot1, rot3, rot4))
      assert(StressGen.perm(s, c).sorted == s.sorted, s"set=$s c=$c")
  }

  test("9-set permutations are pairwise distinct across 5000 copies (both strides)") {
    val p1 = (0 until 5000).map(c => StressGen.perm(rot1, c))
    assert(p1.distinct.size == 5000)
    val p2 = (0 until 5000).map(c => StressGen.perm(rot2, c, second = true))
    assert(p2.distinct.size == 5000)
  }

  test("no fixed prefix: first-letter fixing rate is uniform (the raw-index defect)") {
    // raw Lehmer indices fixed 'e' in 1093/2187 copies; uniform is 1/9
    val fixE = (1 to 2187).count(c => StressGen.perm(rot1, c).head == 'e')
    assert(fixE == 243, s"copies fixing 'e': $fixE (uniform = 243; raw-index defect read 1093)")
  }

  test("frequent cross-set words are not corpus-invariant (the 'data' defect)") {
    // "data" is invariant in a copy iff set1 fixes a,t and set2 fixes d;
    // raw indices left it invariant in 359 copies — df merged corpus-wide
    def invariant(c: Int): Boolean = {
      val m1 = rot1.zip(StressGen.perm(rot1, c)).toMap
      val m2 = rot2.zip(StressGen.perm(rot2, c, second = true)).toMap
      m2('d') == 'd' && m1('a') == 'a' && m1('t') == 't'
    }
    val inv = (1 to 2187).count(invariant)
    assert(inv <= 10, s"copies leaving 'data' invariant: $inv (uniform expectation ~3.4)")
  }

  test("mean fixed letters per 9-set is ~1 (uniform-permutation statistics)") {
    val mean = (1 to 2187).map(c =>
      rot1.zip(StressGen.perm(rot1, c)).count { case (a, b) => a == b }).sum.toDouble / 2187
    assert(mean > 0.8 && mean < 1.2, s"mean fixed letters: $mean (uniform = 1.0)")
  }
}
