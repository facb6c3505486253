package graft

/** [[Bench.summarize]]: the per-pass outcomes → final-line figures step.
  * A failed pass must never count as a (fast) sample, a query that failed
  * every pass must drop out of the total instead of crashing the run, and
  * the stall density ignores sub-0.25 s jitter on tiny queries.
  */
class BenchSummarySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a failed pass records no sample; an all-failed query leaves the total") {
    val s = Bench.summarize(Seq(
      "a" -> Seq(Some(2.0), None, Some(2.1)),
      "b" -> Seq(None, None, None),
      "c" -> Seq(Some(1.0), Some(1.2), Some(0.9))), Nil, Nil)
    assert(s.samples == Seq("a" -> Seq(2.0, 2.1), "c" -> Seq(1.0, 1.2, 0.9)))
    assert(s.failed == Seq("a", "b"))
    assert(math.abs(s.total - 2.9) < 1e-12)
  }

  test("no failures: every query keeps its min and the failed list is empty") {
    val s = Bench.summarize(Seq("q" -> Seq(Some(0.5), Some(0.4))), Nil, Nil)
    assert(s.failed.isEmpty && s.samples == Seq("q" -> Seq(0.5, 0.4)))
    assert(s.total == 0.4)
  }

  test("stallp needs both >= 1.5x and >= 0.25 s over the query's min") {
    val s = Bench.summarize(Seq(
      // 0.16 is 1.6x its min but only 0.06 s over: jitter, not a stall
      "tiny" -> Seq(Some(0.10), Some(0.16), Some(0.10), Some(0.10)),
      // 3.5 is 1.75x and 1.5 s over: a stall; 2.9 is 1.45x: not one
      "big" -> Seq(Some(2.0), Some(3.5), Some(2.9))), Nil, Nil)
    assert(math.abs(s.stallP - 1.0 / 7) < 1e-12)
    assert(Bench.summarize(Seq("x" -> Seq(None)), Nil, Nil).stallP == 0.0)
  }

  test("mtst is min(mt) / min(st), 0 without calibration samples") {
    val s = Bench.summarize(Nil, Seq(1.2, 1.0, 1.1), Seq(1.3, 1.1, 1.25))
    assert(math.abs(s.mtSt - 1.1) < 1e-12)
    assert(Bench.summarize(Nil, Nil, Nil).mtSt == 0.0)
  }
}
