package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.LangKernel

/** Differential spec for the r16 byte-pass langId against the matcher
  * implementation it replaced — the interesting surface is the regex's
  * CONSUMED-SEPARATOR semantics (a `\sword\s` match eats its trailing
  * whitespace, so equal adjacent stopwords separated by ONE whitespace
  * char alternate) and the es/fr shared words.
  */
class LangIdKernelSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def both(s: String): (String, String) = {
    val u = UTF8String.fromString(s)
    (LangKernel.langId(u).toString, SpecTwins.langIdRegex(u).toString)
  }

  private val cases = Seq(
    "",
    " ",
    "the",                      // boundary pads on both sides
    "the the",                  // single space: only the first matches
    "the the the",              // alternating matches
    "the  the",                 // double space: both match
    "the\tthe\nthe",            // tabs/newlines are \s
    "thethe\fthe",        // \x0B and \f are \s in Java regex
    "a a a a a a a",            // len-1 word alternation
    "y y  y y",                 // es len-1 word, mixed separators
    "la de la de",              // es/fr shared words
    "le la les de et est",      // fr beats es on shared-word text?
    "el la de que y los",       // es
    "der die und das ist ein",
    "THE AND OF TO IS A",       // case folding
    "The aNd oF",
    "athe thea the",            // substrings must not match
    "xx the, and. of xx",       // punctuation breaks the \s boundary
    "中文 文本 没有 停用词",
    "the 中文 the 中文 the",
    "mixed el texto and the words de la lengua",
    " leading the",
    "the trailing ",
    "  the  ",
    "nbsp the nbsp",       // NBSP is NOT \s: no boundary
    "word the word and word of word to word is word a")

  test("byte-pass langId matches the matcher twin on adversarial inputs") {
    cases.foreach { s =>
      val (fast, slow) = both(s)
      assert(fast == slow, s"langId mismatch on ${s.replace("\n", "\\n")}: $fast != $slow")
    }
  }

  test("byte-pass langId matches the matcher twin on randomized stopword soup") {
    val vocab = Array("the", "and", "of", "to", "is", "a", "el", "la", "de",
      "que", "y", "los", "der", "die", "und", "das", "ist", "ein", "le",
      "les", "et", "est", "word", "中", "X", "THE", "De", "lA", "")
    val seps = Array(" ", "  ", "\t", "\n", " \t ", "", "\f", "", ".")
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      val k = rnd.nextInt(12)
      val sb = new StringBuilder
      (0 until k).foreach { _ =>
        sb.append(vocab(rnd.nextInt(vocab.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      val s = sb.toString
      val (fast, slow) = both(s)
      assert(fast == slow, s"mismatch seed-case $i on '${s.replace("\n", "\\n")}': $fast != $slow")
    }
  }
}
