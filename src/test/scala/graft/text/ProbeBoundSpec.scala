package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 pin of the broadcast-probe's length bound (round-14 verdict
  * #5): the MERGE-hint guards in [[NearDup.minHashDedup]]
  * and the t_jaccard probe estimate the exploded-shingle frame from raw
  * text length — if an adversarial corpus makes the estimate read LOW,
  * the guard silently re-admits the AQE broadcast-lie driver build the
  * round-14 fix exists to prevent. The estimate must therefore be an
  * UPPER bound on the true distinct-shingle count, not a natural-text
  * average.
  *
  * The bound is a theorem of [[graft.functions.ShingleHashKernel]]'s
  * token rule: tokens are maximal `[a-zA-Z_]` runs and runs shorter
  * than 3 chars are DROPPED, so every kept token consumes ≥ 3 token
  * chars plus ≥ 1 separator byte (except the last token), giving
  * keptTokens ≤ (chars+1)/4 and distinct shingles ≤ shingle positions
  * = max(0, keptTokens − n + 1) ≤ (chars+1)/4. The round-14 chars/5
  * estimate (calibrated on ~5.3-char natural words) is NOT a bound: a
  * corpus of dense 3-char tokens ("abc def ghi …") has chars/4 distinct
  * shingles — 1.25× the estimate — which at the threshold edge flips
  * the hint decision the wrong way. Round 15 switched both probes to
  * (chars+1)/4.
  *
  * Cases cover the extremes the verdict named: CJK-dense no-space text
  * (zero kept tokens — non-ASCII bytes are separators), single-char
  * floods (all tokens dropped), long-word corpora (few tokens), the
  * adversarial 3-char-token flood (the bound's equality case), and
  * repetitive text (distinct < positions).
  */
class ProbeBoundSpec extends SparkSpec {
  import spark.implicits._

  private def shingleCount(text: String, n: Int = 3): Int =
    Seq(text).toDF("text")
      .select(size(TextOps.shingleHashes(col("text"), n)).as("k"))
      .head().getInt(0)

  private def bound(text: String): Long = (text.length + 1L) / 4

  test("(chars+1)/4 bounds distinct shingles on adversarial extremes") {
    val cases = Seq(
      // the equality-pressure case: maximal kept-token density
      ("abc def ghi jkl mno pqr stu vwx yza bcd", "3-char token flood"),
      ("abc " * 5000, "repeated 3-char token (distinct collapses to 1)"),
      (Seq.tabulate(4000)(i => f"t$i%03d".take(3) + "abc".drop(3)).mkString(" "),
        "4k distinct-ish 3-char-prefixed tokens"),
      (Seq.tabulate(4000)(i => ('a' + i % 26).toChar.toString * 3).mkString(" "),
        "4k 3-char tokens from a 26-token alphabet"),
      // CJK-dense no-space: non-ASCII bytes are separators to the kernel
      ("世界和平" * 2000, "CJK no-space"),
      ("これは abc テスト def", "CJK mixed with ASCII"),
      // single-char floods: every token shorter than 3 is dropped
      ("a " * 10000, "single-char flood with spaces"),
      ("a" * 10000, "one giant token (1 kept token, 0 shingles of width 3)"),
      ("ab " * 5000, "2-char flood (all dropped)"),
      // long-word corpora
      (Seq.tabulate(500)(i => "antidisestablishmentarianism" + i).mkString(" "),
        "long words"),
      ("supercalifragilisticexpialidocious", "one long word"),
      // punctuation/digit separators — digits are separators too
      ("abc1def2ghi3jkl4mno", "digit-separated 3-char tokens"),
      ("abc-def-ghi-jkl-mno-pqr", "hyphen-separated"),
      ("", "empty"),
      ("   \t\n  ", "whitespace only"))
    for ((text, label) <- cases; n <- Seq(2, 3, 5)) {
      val k = shingleCount(text, n)
      assert(k <= bound(text),
        s"$label (n=$n): $k shingles > bound ${bound(text)} for ${text.length} chars")
    }
  }

  test("the retired chars/5 estimate is NOT a bound (the case that retired it)") {
    // dense 3-char tokens: true count ≈ chars/4 > chars/5 — the round-14
    // estimate under-read this corpus by ~1.25×, the exact failure mode
    // that would silently re-admit the broadcast driver build at the
    // threshold edge
    val text = Seq.tabulate(4000)(i =>
      f"${('a' + i % 26).toChar}${('a' + (i / 26) % 26).toChar}${('a' + (i / 676) % 26).toChar}").mkString(" ")
    val k = shingleCount(text)
    assert(k > text.length / 5,
      s"expected the 3-char flood to beat chars/5: $k vs ${text.length / 5}")
    assert(k <= bound(text))
  }

  test("hint decision is monotone-safe: estimate >= true bytes on every case corpus") {
    // the decision the probes make: est = (chars+1)/4 * rowBytes vs the
    // broadcast threshold; safety = est >= true distinct-shingle count *
    // rowBytes, so whenever the TRUE frame is past threshold the hint
    // has already engaged
    val corpora = Seq(
      Seq.tabulate(200)(i => s"abc def ghi jkl $i mno pqr"),
      Seq.fill(200)("abc " * 50),
      Seq.tabulate(200)(i => "世界" * 20 + s" token$i words here"))
    for (docs <- corpora) {
      val df = docs.toDF("text")
      val agg = df.agg(
        sum(length(col("text"))).as("chars"),
        sum(size(TextOps.shingleHashes(col("text"), 3))).as("true")).head()
      val est = (agg.getLong(0) + 1) / 4
      assert(est >= agg.getLong(1),
        s"estimate $est < true ${agg.getLong(1)}")
    }
  }
}
