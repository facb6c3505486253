package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Equivalence spec for the round-16 counting kernels
  * ([[graft.functions.TextCountKernel]]): the byte-pass kernels must
  * match the regex/split Column twins they replaced EXACTLY — including
  * the rounded quality double bit-for-bit — on ASCII, exotic
  * whitespace (\x0B, \f, NBSP — Java \s is ASCII-only), multi-byte
  * UTF-8 (CJK, astral emoji), and adversarial boundary strings.
  */
class TextCountSpec extends SparkSpec {
  import spark.implicits._

  private val tricky: Seq[String] = Seq(
    "",
    " ",
    "\t\n\f\r ",          // the full Java \s set, nothing else
    "a",
    "a b  c\td\ne",
    "  leading and trailing  ",
    "wordword\fword",     // \x0B and \f ARE separators for \s+
    "nbsp is not a separator",
    "punct.,;:!?punct",
    "mixed123abc!?",
    "12 34abc56 .",
    "数字と漢字 mixed 中文",     // CJK multi-byte code points
    "emoji 😀😁 pair", // astral: one code point each
    "aébéc",          // 2-byte code points between letters
    "...!!!???",
    "ALLCAPS lowercase MiXeD",
    "tab\tsep\tvals\t",
    "\n\n\n",
    "ends with letter a",
    "!leading punct",
    (1 to 200).map(i => s"tok$i").mkString(" "),  // long doc
    "unicode   separators stay tokens") // U+2028/9 not in \s

  test("textCounts struct matches length/regex/split twins on every field") {
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
      graft.functions.HashF.textCounts(col("text")).as("k"),
      length(col("text")).as("n"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("alpha"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("punct"),
      SpecTwins.wsTokenCountHof(col("text")).as("words"))
      .selectExpr("id", "k.n_chars", "k.alpha as ka", "k.punct as kp",
        "k.ws_words as kw", "n", "alpha", "punct", "words")
      .collect()
    out.foreach { r =>
      assert(r.getInt(1) == r.getInt(5), s"n_chars mismatch id=${r.getLong(0)}")
      assert(r.getInt(2) == r.getInt(6), s"alpha mismatch id=${r.getLong(0)}")
      assert(r.getInt(3) == r.getInt(7), s"punct mismatch id=${r.getLong(0)}")
      assert(r.getInt(4) == r.getInt(8), s"ws_words mismatch id=${r.getLong(0)}")
    }
  }

  test("bpeishCount matches the regexp_extract_all twin") {
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
      TextOps.bpeishTokenCount(col("text")).as("k"),
      SpecTwins.bpeishTokenCountHof(col("text")).as("h")).collect()
    out.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"bpeish mismatch id=${r.getLong(0)}: kernel=${r.getInt(1)} regex=${r.getInt(2)}")
    }
  }

  test("qualityScore is bit-identical to the pre-kernel formulation") {
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
      TextOps.qualityScore(col("text")).as("k"),
      SpecTwins.qualityScoreHof(col("text")).as("h")).collect()
    out.foreach { r =>
      val k = r.getDouble(1); val h = r.getDouble(2)
      assert(java.lang.Double.doubleToRawLongBits(k) ==
        java.lang.Double.doubleToRawLongBits(h),
        s"quality mismatch id=${r.getLong(0)}: $k != $h")
    }
  }

  test("kernels match twins on randomized strings over an adversarial alphabet") {
    val alphabet: Array[String] = Array(
      "a", "Z", "3", ".", "!", " ", "\t", "\n", "", "\f", "\r",
      " ", "é", "中", "😀", "_", "-", "?")
    val rnd = new scala.util.Random(42)
    val docs = (0 until 300).map { i =>
      val len = rnd.nextInt(40)
      (i.toLong, Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = docs.toDF("id", "text")
    val out = df.select(col("id"),
      graft.functions.HashF.textCounts(col("text")).as("k"),
      length(col("text")).as("n"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("alpha"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("punct"),
      SpecTwins.wsTokenCountHof(col("text")).as("words"),
      TextOps.bpeishTokenCount(col("text")).as("bk"),
      SpecTwins.bpeishTokenCountHof(col("text")).as("bh"))
      .selectExpr("id", "k.n_chars", "k.alpha", "k.punct", "k.ws_words",
        "n", "alpha", "punct", "words", "bk", "bh")
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == r.getInt(5), s"n_chars id=$id")
      assert(r.getInt(2) == r.getInt(6), s"alpha id=$id")
      assert(r.getInt(3) == r.getInt(7), s"punct id=$id")
      assert(r.getInt(4) == r.getInt(8), s"ws_words id=$id")
      assert(r.getInt(9) == r.getInt(10), s"bpeish id=$id")
    }
  }

  test("null text: null counts, and quality matches the twin (0.4 — least() skips nulls)") {
    val df = Seq((1L, Option.empty[String])).toDF("id", "text")
    val r = df.select(
      graft.functions.HashF.textCounts(col("text")).as("k"),
      TextOps.bpeishTokenCount(col("text")).as("b"),
      TextOps.qualityScore(col("text")).as("q"),
      SpecTwins.qualityScoreHof(col("text")).as("qh")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // the blend is NOT null on null text: least(null, 1.0) skips the null
    // (so lenScore=1.0·0.3 + punct term 0.1 = 0.4); the kernel form must
    // reproduce that quirk exactly, not "fix" it
    assert(!r.isNullAt(2) && r.getDouble(2) == r.getDouble(3) && r.getDouble(2) == 0.4)
  }
}
