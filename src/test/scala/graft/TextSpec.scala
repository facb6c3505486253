package graft

import org.apache.spark.sql.functions._
import graft.text.{NearDup, TextOps}
import graft.sim.Similarity

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("wordShingles: fewer than n tokens yields empty, shingles distinct") {
    val df = Seq(
      (1, "alpha beta"),                       // 2 tokens < 3 -> empty
      (2, "alpha beta gamma"),                 // exactly one shingle
      (3, "one two three one two three one two three")  // repeats dedupe
    ).toDF("id", "t")
    val out = df.select(col("id"), TextOps.wordShingles(col("t"), 3).as("sh"))
      .select(col("id"), size(col("sh")).as("n")).as[(Int, Int)].collect().toMap
    assert(out(1) == 0)
    assert(out(2) == 1)
    assert(out(3) == 3) // one-two-three, two-three-one, three-one-two
  }

  test("fingerprint: deterministic rolling hash, empty -> 0") {
    val df = Seq((1, "ab"), (2, ""), (3, "AB"), (4, "中文")).toDF("id", "t")
    val out = df.select(col("id"), TextOps.fingerprint(col("t")).as("fp"))
      .as[(Int, Long)].collect().toMap
    assert(out(1) == (97L * 31 + 98) % 1000000007L) // 'a','b'
    assert(out(2) == 0L)
    assert(out(3) == out(1)) // lowercased
    assert(out(4) == 0L)     // non-ascii stripped -> empty
  }

  test("langId picks the stopword-dominant language") {
    val df = Seq(
      (1, "the cat and the dog is a friend of the house"),
      (2, "el perro y la casa de los amigos que viven"),
      (3, "der hund und die katze ist ein freund"),
      (4, "le chat et la maison les amis est grand")
    ).toDF("id", "t")
    val out = df.select(col("id"), TextOps.langId(col("t")).as("l"))
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "en", 2 -> "es", 3 -> "de", 4 -> "fr"))
  }

  test("simhash: identical docs have hamming 0, unrelated docs differ") {
    val df = Seq(
      (1, "quick brown foxes jumping over lazy dogs daily"),
      (2, "quick brown foxes jumping over lazy dogs daily"),
      (3, "completely different words about financial markets analytics")
    ).toDF("id", "t")
    val sigs = df.select(col("id"), NearDup.simHash(col("t")).as("s"))
      .as[(Int, Long)].collect().toMap
    assert(sigs(1) == sigs(2))
    assert(java.lang.Long.bitCount(sigs(1) ^ sigs(3)) > 8)
  }

  test("minhash dedup finds planted near-duplicates") {
    // all-letter tokens: the tokenizer treats digits as separators
    def w(p: String)(i: Int) = s"$p${('a' + i % 26).toChar}${('a' + i / 26).toChar}x"
    val base = (0 until 40).map(w("tok")).mkString(" ")
    val nearDup = (0 until 38).map(w("tok")).mkString(" ") + " zzz yyy"
    val unrelated = (0 until 40).map(w("qrs")).mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = NearDup.minHashDedup(df, "doc_id", "text",
        shingleWidth = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("dupGroups clusters transitively and keeps the smallest id") {
    // pair graph: 5-2, 2-9 (chain -> one group {2,5,9} kept by 2) and
    // 7-8 (group of 2); doc 1 never pairs -> absent
    val pairs = Seq((5L, 2L, 0.9), (2L, 9L, 0.8), (7L, 8L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val out = NearDup.dupGroups(pairs)
      .select("doc_id", "keep_id", "group_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 2L, 3L), (5L, 2L, 3L), (9L, 2L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L)))
    // the distributed min-label tier: same rows and schema
    assertTiersAgree(NearDup.dupGroups(pairs), NearDup.dupGroups(pairs, maxLocalEdges = 0))
  }

  test("bpeish token count: letters, digits, punctuation") {
    val df = Seq((1, "ab12 cd, ef!")).toDF("id", "t")
    // tokens: ab, 12, cd, ',', ef, '!' -> 6
    val out = df.select(TextOps.bpeishTokenCount(col("t"))).as[Int].head()
    assert(out == 6)
  }

  test("repetitionSignals match a brute-force string computation") {
    // brute force mirrors the kernel's documented semantics on strings
    def brute(text: String): (Double, Double, Double, Double) = {
      val lines = text.split("\n", -1).map(_.trim).filter(_.nonEmpty)
      val (dupN, dupC) = {
        val seen = scala.collection.mutable.Set.empty[String]
        var dn = 0L; var dc = 0L
        lines.foreach { l => if (!seen.add(l)) { dn += 1; dc += l.getBytes("UTF-8").length } }
        (dn, dc)
      }
      val charTotal = lines.map(_.getBytes("UTF-8").length.toLong).sum
      val toks = text.split("[ \t\n\r]+").filter(_.nonEmpty).map(_.toLowerCase)
      def topFrac(n: Int): Double = {
        val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        if (grams.isEmpty) 0.0
        else grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
      }
      (if (lines.nonEmpty) dupN.toDouble / lines.length else 0.0,
       if (charTotal > 0) dupC.toDouble / charTotal else 0.0,
       topFrac(2), topFrac(3))
    }
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def randomDoc(): String =
      (0 until 12).map { _ =>
        (0 until rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      }.mkString("\n")
    val docs = Seq(
      "",                                          // empty: all zeros
      "one two",                                   // 1 bigram, 0 trigrams
      "same line\nsame line\nsame line\nother",    // heavy line dup
      "spam spam spam spam spam spam",             // degenerate bigram repeat
      "A b\na B",                                  // case-folded grams, distinct lines
      "Aa\nBB",                                    // String.hashCode collision pair: NOT dup lines
      "  padded line \n\npadded line\n\t\n") ++    // trims + blank lines
      (0 until 8).map(_ => randomDoc())
    val out = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("id", "t")
      .select(col("id"), TextOps.repetitionSignals(col("t")).as("r"))
      .select(col("id"), col("r.dup_line_frac"), col("r.dup_line_char_frac"),
        col("r.top_bigram_frac"), col("r.top_trigram_frac"))
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    docs.zipWithIndex.foreach { case (d, i) =>
      val want = brute(d)
      val got = out(i.toLong)
      assert(math.abs(got._1 - want._1) < 1e-12, s"doc $i dup_line: $got vs $want")
      assert(math.abs(got._2 - want._2) < 1e-12, s"doc $i dup_char: $got vs $want")
      assert(math.abs(got._3 - want._3) < 1e-12, s"doc $i bigram: $got vs $want")
      assert(math.abs(got._4 - want._4) < 1e-12, s"doc $i trigram: $got vs $want")
    }
    // sanity on the planted shapes
    assert(out(2L)._1 == 2.0 / 4)   // 2 of 4 lines are repeats
    assert(out(3L)._3 == 1.0)       // every bigram is "spam spam"
  }

  test("redactPii masks emails, phones, IPs and SSNs, and leaves clean text alone") {
    val cases = Seq(
      ("contact me at jane.doe+test@example.co.uk for details",
       "contact me at <EMAIL> for details"),
      ("call (555) 123-4567 or 555-123-4567 today",
       "call <PHONE> or <PHONE> today"),
      ("intl +1 555 123 4567 works too", "intl <PHONE> works too"),
      ("ssn 123-45-6789 on file", "ssn <SSN> on file"),
      ("server at 192.168.0.1 responded", "server at <IP> responded"),
      // sentence-final IP: the trailing period must not shield it
      ("connect to 10.0.0.1. It responded", "connect to <IP>. It responded"),
      ("last host was 10.0.0.2.", "last host was <IP>."),
      // documented ambiguity: a 4-component dotted version IS octet-shaped
      ("agent 2.5.1.3 deployed", "agent <IP> deployed"),
      // non-PII shapes must survive: 3- and 5-component dotted numbers,
      // dates, plain numbers
      ("release 1.2.3 shipped on 2021-01-01 with 12345 fixes",
       "release 1.2.3 shipped on 2021-01-01 with 12345 fixes"),
      ("build 1.2.3.4.5 is fine", "build 1.2.3.4.5 is fine"),
      ("clean prose with no identifiers at all",
       "clean prose with no identifiers at all"))
    val out = cases.map(_._1).toDF("t")
      .select(TextOps.redactPii(col("t")).as("r")).as[String].collect()
    out.zip(cases.map(_._2)).foreach { case (got, want) =>
      assert(got == want, s"got [$got] want [$want]")
    }
  }

  test("redactPii kernel equals the regexp_replace chain (adversarial + fuzz)") {
    // hand-picked cross-stage overlaps where a naive per-position
    // scanner diverges from the staged pass semantics
    val adversarial = Seq(
      "123-45-6789@x.com",          // email eats the SSN-shaped local part
      "a@b.cc123-45-6789",          // SSN boundary is the placeholder '>'
      "a@b.cc123-456-7890",         // phone boundary after an email match
      "1.2.3.555-123-4567",         // phone pass wins over the IP prefix
      "1.2.123.456.7890",           // phone inside a dotted-number soup
      "a@b.cc.d@e.ff",              // adjacent emails share no chars
      "a@b.cc@d.com",               // consumed local run blocks email #2
      "x+1 555 123 4567",           // alnum before '+': body starts at '1'
      " +1 555 123 4567",           // boundary before '+': '+' is consumed
      "x(555) 123-4567",            // '(' boundary-consumed, then no match
      "(555)123-4567 and (555) 123 4567 and (555)-123-4567",
      "123.456.7890",               // dot-separated phone, not an IP
      "555 123 4567555-123-4568",   // trailing digit blocks the lookahead
      "9.8.7.555.123.4567",         // IP candidates blocked by digit tails
      "1234-56-7890 and 123-45-67890 and 1234.5.6.7",  // near-misses
      "ip 10.0.0.1. end and 10.0.0.2.. and 1.2.3.4.5 and 01.02.03.04",
      "mail a.b-c_d%e+f@sub.domain-x.org9 tail",       // digits after TLD
      "a@b@c.com and @nolocal.com and local@nodot",
      "123-45-6789 678-90-1234",    // back-to-back SSNs
      "+123-456-789-0123 and 12.34.56.78")
    val rng = new scala.util.Random(47)
    // fuzz alphabet biased to the pattern trigger bytes
    val alphabet = "0123456789" * 3 + ".-@+() " * 4 + "abcxyzABC_%\n\té中"
    val fuzz = (0 until 4000).map { _ =>
      (0 until rng.nextInt(60)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    // and structured fuzz: PII shapes glued together with thin separators
    val shapes = Seq("123-45-6789", "555-123-4567", "(555) 123-4567",
      "+1 555 123 4567", "jane@ex.co", "10.0.0.1", "1.2.3", "1.2.3.4.5",
      "12345", "v2.5.1.3", "a", ".", "-", "@", "")
    val glued = (0 until 2000).map { _ =>
      (0 until rng.nextInt(6)).map(_ => shapes(rng.nextInt(shapes.length)))
        .mkString(Seq("", " ", ".", "-", "x")(rng.nextInt(5)))
    }
    val docs = (adversarial ++ fuzz ++ glued).zipWithIndex.map(_.swap)
    val out = docs.toDF("id", "t")
      .select(col("t"), TextOps.redactPii(col("t")).as("a"),
        SpecTwins.redactPiiHof(col("t")).as("b"))
      .as[(String, String, String)].collect()
    out.foreach { case (t, a, b) =>
      assert(a == b, s"input [$t]:\n kernel [$a]\n regex  [$b]")
    }
  }

  // local twin of the chunk kernel: token spans by whitespace, windows
  // of maxTokens stepping by maxTokens - overlap, tail ends at the last
  // token, each chunk = the ORIGINAL bytes from its first token's start
  // to its last token's end
  private def localChunks(text: String, maxTokens: Int, overlap: Int): Seq[String] = {
    val bytes = text.getBytes("UTF-8")
    def ws(b: Byte) = b == ' ' || b == '\t' || b == '\n' ||
      b == 0x0b || b == 0x0c || b == '\r'
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < bytes.length) {
      if (!ws(bytes(i))) {
        val s = i
        while (i < bytes.length && !ws(bytes(i))) i += 1
        spans += ((s, i))
      } else i += 1
    }
    if (spans.isEmpty) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var s = 0
      var done = false
      while (!done) {
        val e = math.min(s + maxTokens, spans.length)
        out += new String(bytes, spans(s)._1, spans(e - 1)._2 - spans(s)._1, "UTF-8")
        if (e == spans.length) done = true else s += maxTokens - overlap
      }
      out.toSeq
    }
  }

  test("chunkByTokens matches the local twin (unicode, mixed whitespace, overlap)") {
    val texts = Seq(
      "one two three four five six seven eight nine ten eleven twelve",
      "  leading and trailing whitespace preserved inside   not outside  ",
      "tabs\tand\nnewlines\r\nseparate  tokens\ttoo",
      "vertical\u000btab and\u000cform feed are token cuts too",
      "中文 tokens mixed with ASCII ones here",
      "single", "", "   \n\t ")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    for ((maxT, ov) <- Seq((5, 0), (5, 2), (3, 1), (100, 0), (1, 0))) {
      val got = df.select(col("id"),
          TextOps.chunkByTokens(col("t"), maxT, ov).as("c"))
        .as[(Int, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i) == localChunks(t, maxT, ov),
          s"text [$t] maxT=$maxT ov=$ov: ${got(i)} vs ${localChunks(t, maxT, ov)}")
      }
    }
  }

  test("chunkByTokens properties: budget, coverage, overlap sharing, identity") {
    val words = (0 until 57).map(i => s"w$i")
    val doc = words.mkString(" ")
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val noOv = localChunks(doc, 10, 0)
    // every window within budget; non-tail windows full; zero-overlap
    // windows reassemble the exact token stream
    assert(noOv.forall(c => toks(c).size <= 10))
    assert(noOv.init.forall(c => toks(c).size == 10))
    assert(noOv.flatMap(toks) == words)
    val ov = localChunks(doc, 10, 3)
    // consecutive windows share exactly `overlap` tokens (except the tail)
    ov.sliding(2).toSeq.dropRight(1).foreach { case Seq(a, b) =>
      assert(toks(a).takeRight(3) == toks(b).take(3))
    }
    // a short document passes through whole as its trimmed original bytes
    assert(localChunks("  short doc  ", 10, 0) == Seq("short doc"))
    // spark side agrees on the same document
    val viaSpark = Seq((1, doc)).toDF("id", "t")
      .select(TextOps.chunkByTokens(col("t"), 10, 3)).as[Seq[String]].head()
    assert(viaSpark == ov)
  }

  test("chunkDocs: one row per window, 0-based chunk_id, shuffle-free, null-safe") {
    val df = Seq((1L, (0 until 12).map(i => s"t$i").mkString(" ")),
      (2L, "tiny doc"), (3L, null: String), (4L, "  ")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(df, "doc_id", "text", 5)
    val rows = out.as[(Long, Int, String)].collect().sorted
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 0), (1L, 1), (1L, 2), (2L, 0)))
    assert(rows.filter(_._1 == 1L).map(_._3).mkString(" ") ==
      (0 until 12).map(i => s"t$i").mkString(" "))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    intercept[IllegalArgumentException](TextOps.chunkByTokens(col("text"), 0))
    intercept[IllegalArgumentException](TextOps.chunkByTokens(col("text"), 5, 5))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity = 1, orthogonal = 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
  }

  test("brute-force top-k returns nearest by construction") {
    // vectors on a line: 0 -> (1,0), i -> rotated slightly more each step
    val vecs = (0 until 6).map { i =>
      val th = i * 0.3
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L)
    assert(out(5L) == 4L)
    assert(Set(2L, 4L).contains(out(3L))) // both at same angular distance
  }

  test("lsh top-k achieves >=0.9 recall vs brute force on clustered vectors") {
    // 10 tight clusters of 20: a query's true top-5 are in-cluster and
    // nearly colinear with it, so every LSH table buckets them together.
    val vecs = (0 until 200).map { i =>
      val c = i % 10
      val v = Array.tabulate(16) { d =>
        (math.cos(c * 2.399 + d * 0.71) + 0.001 * ((i * 31 + d) % 7)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", 5, planes = 12, tables = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall was $recall")
  }

  test("ivf top-k achieves >=0.9 recall vs brute force on clustered vectors") {
    val vecs = (0 until 200).map { i =>
      val c = i % 10
      val v = Array.tabulate(16) { d =>
        (math.cos(c * 2.399 + d * 0.71) + 0.001 * ((i * 31 + d) % 7)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", 5,
      nLists = 10, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall was $recall")
  }

  test("ivf top-k is deterministic run-to-run at a fixed seed") {
    // the MLlib-quantizer path can't be SQL-oracle-checked (a k-means fit
    // is not replayable in DuckDB) — pin instead that the whole pipeline
    // is a pure function of (data, seed): two independent fits + probes
    // must agree bit-for-bit, so the recall spec above checks a
    // reproducible artifact, not one lucky clustering
    val vecs = (0 until 120).map { i =>
      val c = i % 8
      val v = Array.tabulate(12) { d =>
        (math.sin(c * 1.93 + d * 0.83) + 0.002 * ((i * 17 + d) % 5)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def run() = Similarity.ivfTopK(vecs, "vec_id", "embedding", 5,
        nLists = 8, nProbe = 2, seed = 7L)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(run() == run())
  }

  test("lsh maxBucket cap drops degenerate buckets but keeps the rest") {
    val vecs = (0 until 40).map { i =>
      val th = (i % 8) * 0.7
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val capped = Similarity.lshTopK(vecs, "vec_id", "embedding", 3,
      planes = 6, tables = 2, maxBucket = 3)
    val uncapped = Similarity.lshTopK(vecs, "vec_id", "embedding", 3,
      planes = 6, tables = 2)
    assert(capped.count() <= uncapped.count())
  }

  test("embedding cosine near-dup: LSH path >=0.9 recall on planted dups") {
    // 60 well-spread base vectors + a jittered near-copy of every 3rd:
    // the only cos >= 0.95 pairs are (base, its copy)
    val base = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        math.cos(i * 2.399 + d * 0.71).toFloat))
    }
    val copies = (0 until 60 by 3).map { i =>
      (1000L + i, Array.tabulate(16)(d =>
        (math.cos(i * 2.399 + d * 0.71) + 0.01 * ((i + d) % 3)).toFloat))
    }
    val vecs = (base ++ copies).toDF("vec_id", "embedding")
    val exact = Similarity.cosineDupsExact(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted (base, copy) pair is found (phase wrap-around also
    // makes some base-base pairs close — they're true >=0.95 pairs too)
    val planted = (0 until 60 by 3).map(i => (i.toLong, 1000L + i)).toSet
    assert(planted.subsetOf(exact), "planted dups all found")
    val lsh = Similarity.cosineDups(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "no false positives (exact rescoring)")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall was $recall")
  }

  test("native lsh projections match the HOF fold bit-for-bit") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 3.7 + d) * (d + 1)))
    }.toDF("vec_id", "v")
    val out = vecs.select(
        Similarity.lshProjections(col("v"), 12, 4).as("a"),
        SpecTwins.lshProjectionsHof(col("v"), 12, 4).as("b"))
      .as[(Seq[Double], Seq[Double])].collect()
    out.foreach { case (a, b) => assert(a == b) }
  }

  test("lsh top-k cosines agree with brute force on found pairs") {
    val vecs = (0 until 30).map { i =>
      val th = i * 0.21
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat,
        (math.cos(th) * 0.5).toFloat, (math.sin(th) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 29)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", 5, planes = 8, tables = 4)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, c) =>
      assert(math.abs(brute((q, n)) - c) < 1e-9)
    }
  }

}
