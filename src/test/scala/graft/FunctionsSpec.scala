package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorF

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dotp: value, null element, null array, and length mismatch") {
    val out = spark.range(1).select(
      VectorF.dotp(expr("array(1.0D, 2.0D, 3.0D)"), expr("array(4.0D, 5.0D, 6.0D)")).as("ok"),
      VectorF.dotp(expr("array(1.0D, cast(null as double), 3.0D)"),
        expr("array(4.0D, 5.0D, 6.0D)")).as("null_elem"),
      VectorF.dotp(expr("cast(null as array<double>)"), expr("array(1.0D)")).as("null_arr"),
      VectorF.dotp(expr("array(1.0D, 2.0D)"), expr("array(1.0D)")).as("len_mismatch")
    ).head()
    assert(out.getDouble(0) == 32.0)
    assert(out.isNullAt(1) && out.isNullAt(2) && out.isNullAt(3))
  }

  test("dotp matches the HOF aggregate fold bit-for-bit (codegen path)") {
    val vecs = (0 until 50)
      .map(i => (i.toLong, Array.tabulate(64)(d => math.sin(i * 7.0 + d))))
      .toDF("id", "v")
    val hof = vecs.select(col("id"),
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x).as("d"))
      .as[(Long, Double)].collect().toMap
    val nat = vecs.select(col("id"), VectorF.dotp(col("v"), col("v")).as("d"))
      .as[(Long, Double)].collect().toMap
    assert(hof.keySet == nat.keySet)
    hof.foreach { case (k, h) => assert(h == nat(k), s"id $k: $h != ${nat(k)}") }
  }

  test("dotp casts float arrays via Similarity.dot") {
    val vecs = Seq((1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("id", "a", "b")
    val out = vecs.select(graft.sim.Similarity.dot(col("a"), col("b"))).as[Double].head()
    assert(out == 11.0)
  }

  private val sampleDocs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs and more jugs",
    "sphinx of black quartz judge my vow sphinx of black quartz",
    "one two three", "")
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("poly hash kernels match an independent Scala re-computation") {
    import graft.text.NearDup
    // pin the poly family against a from-scratch reimplementation of the
    // published recurrence (the DuckDB oracle replays the same arithmetic
    // as the third implementation)
    def poly61(s: String): Long = {
      var h1 = 0L; var h2 = 0L
      s.getBytes("UTF-8").foreach { b =>
        h1 = (h1 * 31 + (b & 0xffL)) % 1000000007L
        h2 = (h2 * 131 + (b & 0xffL)) % 998244353L
      }
      h1 * 2147483648L + h2
    }
    def mix62(s: String): Long = {
      var h1 = 0L; var h2 = 0L
      s.getBytes("UTF-8").foreach { b =>
        h1 = (h1 * 31 + (b & 0xffL)) % 1000000007L
        h2 = (h2 * 131 + (b & 0xffL)) % 998244353L
      }
      val m1 = ((h1 + 1) * 48271L % 2147483647L * 16807L) % 2147483647L
      val m2 = ((h2 + 40503L) * 48271L % 2147483647L * 16807L) % 2147483647L
      m1 * 2147483648L + m2
    }
    val toks = Seq("the", "quick", "brown_fox", "a")
    val expectedSim = {
      val counts = new Array[Int](64)
      toks.foreach { t =>
        val h = mix62(t)
        (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1)
      }
      (0 until 64).map(b => if (counts(b) > 0) 1L << b else 0L).reduce(_ | _)
    }
    val gotSim = Seq(Tuple1(toks)).toDF("t")
      .select(SpecTwins.simhashPoly(col("t"))).as[Long].head()
    assert(gotSim == expectedSim)

    val expectedMins = (0 until 8).map { s =>
      toks.map { t =>
        val x = poly61(t) % 2147483647L
        ((s * 2654435761L + x + 1) * 48271L % 2147483647L * 16807L) % 2147483647L
      }.min
    }
    val gotMins = Seq(Tuple1(toks)).toDF("t")
      .select(NearDup.minHashSig(col("t"), 8)).as[Seq[Long]].head()
    assert(gotMins == expectedMins)
  }

  test("minhashPolySig Mersenne folds equal the literal % arithmetic on random input") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // JVM-direct kernel check at full signature width over enough random
    // strings to hit the fold boundary cases (intermediates ≥ M31 after
    // one fold, values ≡ 0 mod M31 land on the conditional subtract)
    val rnd = new scala.util.Random(7)
    def poly61(s: String): Long = {
      var h1 = 0L; var h2 = 0L
      s.getBytes("UTF-8").foreach { b =>
        h1 = (h1 * 31 + (b & 0xffL)) % 1000000007L
        h2 = (h2 * 131 + (b & 0xffL)) % 998244353L
      }
      h1 * 2147483648L + h2
    }
    val strs = (0 until 3000).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
    val arr = new GenericArrayData(strs.map(s => UTF8String.fromString(s): Any).toArray)
    val got = graft.functions.HashKernels.minhashPolySig(arr, 64)
    val expected = (0 until 64).map { s =>
      strs.map { t =>
        val x = poly61(t) % 2147483647L
        ((s * 2654435761L + x + 1) * 48271L % 2147483647L * 16807L) % 2147483647L
      }.min
    }
    (0 until 64).foreach(s => assert(got.getLong(s) == expected(s), s"seed $s"))
  }

  test("shingle kernel matches the HOF fold formulation exactly") {
    import graft.text.TextOps
    val docs = (sampleDocs :+ (9L, "Ab cd EF ghi jkl mno ab cd ef ghi"))
      .toDF("id", "text")
    val out = docs.select(
        TextOps.wordShingles(col("text"), 3).as("a"),
        SpecTwins.shinglesOf(TextOps.tokens(col("text")), 3).as("b"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("fused ShingleHash61 equals wordShingles -> polyHash61 (order incl.)") {
    import graft.text.TextOps
    val docs = (sampleDocs ++ Seq(
      (20L, ""),                                    // empty text
      (21L, "!!! 12 94 --"),                        // no tokens at all
      (22L, "ab cd"),                               // all tokens too short
      (23L, "alpha beta gamma"),                    // exactly n tokens
      (24L, "Alpha BETA gamma ALPHA beta GAMMA alpha beta gamma"), // dup shingles
      (25L, "__underscore__ tokens___ ___keep the_mix here yes"),
      (26L, "汉字 between the english words 中文 and more words here"),
      (27L, "éclair café naïve über die straße weiter gehen wir"), // accents split tokens
      (28L, "a" * 5000 + " word another token stream " + "b" * 400),
      (29L, "tab\tand\nnewline\r\nseps word1a2b3 x_y_z mixed")))
      .toDF("id", "text")
    val out = docs.select(
        TextOps.shingleHashes(col("text"), 3).as("a"),
        transform(TextOps.wordShingles(col("text"), 3),
          s => SpecTwins.polyHash61(s)).as("b"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("fused ShingleHash61 equals composed path on random text (property, n=1..5)") {
    import graft.text.TextOps
    val rnd = new scala.util.Random(31)
    val alphabet = "abcdefgHIJKLM_ .,!0189\t\né中"
    val docs = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(400)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) { // minHashDedup's shingleWidth is caller-chosen
      val out = docs.select(
          TextOps.shingleHashes(col("text"), n).as("a"),
          transform(TextOps.wordShingles(col("text"), n),
            s => SpecTwins.polyHash61(s)).as("b"))
        .as[(Seq[Long], Seq[Long])].collect()
      out.foreach { case (a, b) => assert(a == b, s"n=$n: $a != $b") }
    }
  }

  test("hash-input minhash signature equals string-input signature") {
    import graft.text.{NearDup, TextOps}
    val docs = sampleDocs.toDF("id", "text")
    val both = docs
      .select(TextOps.wordShingles(col("text"), 3).as("sh"),
        TextOps.shingleHashes(col("text"), 3).as("hs"))
      .where(size(col("sh")) > 0)
      .select(NearDup.minHashSig(col("sh"), 64).as("a"),
        graft.functions.HashF.minhashPolySigHashes(col("hs"), 64).as("b"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (a, b) => assert(a == b) }
  }

  test("ws-shingle kernel equals the HOF formulation (hashes AND order)") {
    import graft.text.TextOps
    val docs = Seq(
      "the train travels 120 km in 2 hours before reaching the station",
      "a b c d e f g h i j",                   // 1-char tokens all count
      "Mixed CASE Tokens 42 !punct! x2,y3 ok 1 2 3", // case fold + punctuation
      "one\ttwo\nthree  four\r\nfive six seven eight nine", // every \\s kind
      "repeat repeat repeat repeat repeat repeat repeat repeat repeat", // dedup
      "too short",                              // < n tokens -> empty
      "")
    val df = docs.zipWithIndex.map { case (d, i) => (i, d) }.toDF("id", "text")
    for (n <- Seq(2, 3, 8)) {
      val out = df.select(
          TextOps.wsShingleHashes(col("text"), n).as("a"),
          SpecTwins.wsShingleHashesHof(col("text"), n).as("b"))
        .as[(Seq[Long], Seq[Long])].collect()
      out.zip(docs).foreach { case ((a, b), d) =>
        assert(a == b, s"n=$n doc=[${d.take(30)}]: $a != $b")
      }
    }
  }

  test("hash-input minhash skips null elements like the string kernel") {
    // ShingleHash61 output never contains null, but the public column
    // function accepts any array<long>; a null element must be skipped,
    // not folded as garbage into every signature lane
    val withNull = Seq((Seq[java.lang.Long](7L, null, 99L), Seq[java.lang.Long](7L, 99L)))
      .toDF("hs_null", "hs_clean")
    val r = withNull.select(
        graft.functions.HashF.minhashPolySigHashes(col("hs_null"), 16).as("a"),
        graft.functions.HashF.minhashPolySigHashes(col("hs_clean"), 16).as("b"))
      .as[(Seq[Long], Seq[Long])].collect().head
    assert(r._1 == r._2)
    // an ALL-null array is "no shingles": the all-null signature of the
    // empty array, never a Long.MaxValue sentinel that would band-collide
    // every degenerate row with every other one
    val allNull = Seq((Seq[java.lang.Long](null, null), Seq.empty[java.lang.Long]))
      .toDF("hs_nulls", "hs_empty")
    val s = allNull.select(
        graft.functions.HashF.minhashPolySigHashes(col("hs_nulls"), 8).as("a"),
        graft.functions.HashF.minhashPolySigHashes(col("hs_empty"), 8).as("b"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].collect().head
    assert(s._1 == Seq.fill(8)(None) && s._1 == s._2)
  }

  test("fingerprint kernel matches the HOF formulation exactly") {
    import graft.text.TextOps
    val docs = Seq(
      "The quick brown fox JUMPS over 13 lazy dogs!",
      "punct .,;:!? and spaces   and\ttabs\nand newlines",
      "",
      " ",                                     // printable but blank
      "",                    // control chars only -> 0
      "café résumé unicode dropped", // non-ASCII skipped
      "中文 only ascii stays 42",
      // the two non-ASCII chars whose lowercase image contains ASCII:
      // U+212A KELVIN -> 'k', U+0130 Istanbul I -> 'i' + combining dot
      "temp 300K in İstanbul",
      "ALL UPPER CASE FOLDS TO LOWER",
      (0x20 to 0x7e).map(_.toChar).mkString)   // every printable ASCII char
    val df = docs.zipWithIndex.map { case (d, i) => (i, d) }.toDF("id", "text")
    val out = df.select(TextOps.fingerprint(col("text")).as("a"),
      SpecTwins.fingerprintHof(col("text")).as("b")).as[(Long, Long)].collect()
    out.zip(docs).foreach { case ((a, b), d) =>
      assert(a == b, s"doc=[${d.take(30)}]: $a != $b")
    }
    // property pass: random ASCII + occasional multibyte soup
    val rng = new scala.util.Random(31)
    val alphabet = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      " .,;!?\t\n".toSeq ++ Seq('é', '中', 'K', 'İ')
    val rand = (0 until 300).map { i =>
      (i, (0 until rng.nextInt(80)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    }
    val rout = rand.toDF("id", "text")
      .select(TextOps.fingerprint(col("text")).as("a"),
        SpecTwins.fingerprintHof(col("text")).as("b")).as[(Long, Long)].collect()
    rout.zip(rand).foreach { case ((a, b), (_, d)) =>
      assert(a == b, s"rand doc=[${d.take(40)}]: $a != $b")
    }
  }

  test("langId kernel matches the HOF formulation exactly") {
    import graft.text.TextOps
    val docs = (sampleDocs ++ Seq(
      (10L, "the the the and and of to is a is a"), // overlapping-separator quirk
      (11L, "el la de que y los el la de"),
      (12L, "der die und das ist ein der die"),
      (13L, "le la les de et est le la"),
      (14L, "中文文本 the and"),
      (15L, "a b c")))
      .toDF("id", "text")
    val out = docs.select(TextOps.langId(col("text")).as("a"),
      SpecTwins.langIdHof(col("text")).as("b")).as[(String, String)].collect()
    out.foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("packed pairs equal struct pairs unpacked (int ids)") {
    import graft.functions.HashF
    val lists = Seq(
      (1L, Seq(3, 7, 11, 42)),
      (2L, Seq(5, 9)),
      (3L, Seq(8)),            // single element: no pairs
      (4L, Seq(0, 1, Int.MaxValue))
    ).toDF("id", "ns")
    val packed = lists.select(col("id"), explode(HashF.packedPairs(col("ns"))).as("pk"))
      .select(col("id"), shiftrightunsigned(col("pk"), 32).cast("int").as("a"),
        col("pk").bitwiseAND(lit(0xffffffffL)).cast("int").as("b"))
      .as[(Long, Int, Int)].collect().toSet
    val structs = lists.select(col("id"), explode(HashF.sortedPairs(col("ns"))).as("p"))
      .select(col("id"), col("p.a"), col("p.b"))
      .as[(Long, Int, Int)].collect().toSet
    assert(packed == structs)
    assert(packed.count(_._1 == 1L) == 6) // 4 choose 2
  }

  test("cappedSortedSet: distinct, sorted, cap overflow -> null, nulls ignored") {
    import graft.functions.AggF
    // 8 partitions force map-side partial buffers + a shuffled merge
    val df = Seq(
      (1, 5), (1, 3), (1, 5), (1, -2), // group 1: 3 distinct
      (2, 1), (2, 2), (2, 3), (2, 4),  // group 2: 4 distinct > cap 3
      (3, 7)                           // group 3: singleton
    ).toDF("g", "v").repartition(8)
    val out = df.groupBy("g").agg(AggF.cappedSortedSet(col("v"), 3).as("ns"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Int](1))).toMap
    assert(out(1).get == Seq(-2, 3, 5)) // sorted incl. negative
    assert(out(2).isEmpty)              // overflow -> null
    assert(out(3).get == Seq(7))
    // nulls in the column are ignored, not collected
    val withNull = Seq((1, Some(2)), (1, None), (1, Some(1)))
      .toDF("g", "v").repartition(4)
      .groupBy("g").agg(AggF.cappedSortedSet(col("v"), 10).as("ns"))
      .head().getSeq[Int](1)
    assert(withNull == Seq(1, 2))
  }

  test("cappedSortedSet long ids match collect_set + post-filter") {
    import graft.functions.AggF
    val rnd = new scala.util.Random(7)
    val df = (0 until 2000).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(60).toLong))
      .toDF("g", "v").repartition(16)
    val capped = df.groupBy("g").agg(AggF.cappedSortedSet(col("v"), 25).as("ns"))
      .where(col("ns").isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    val naive = df.groupBy("g").agg(sort_array(collect_set(col("v"))).as("ns"))
      .where(size(col("ns")) <= 25)
      .as[(Long, Seq[Long])].collect().toMap
    assert(capped == naive)
  }

  test("linkPrediction matches a naive pair computation on a random bipartite graph") {
    import graft.graph.GraphOps
    val rnd = new scala.util.Random(11)
    // duplicated edge rows on purpose: the operator dedups internally
    val raw = (0 until 3000).map(_ => (rnd.nextInt(50), rnd.nextInt(80)))
    val edges = raw.toDF("n", "nb")
    val got = GraphOps.linkPrediction(edges, "n", "nb", maxNeighborDegree = 60)
      .select("n_a", "n_b", "common", "jaccard", "adamic_adar", "pref_attach")
      .as[(Int, Int, Long, Double, Double, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5, t._6)).toMap
    // naive: per-neighbor member lists -> all pairs, degrees from the
    // DEDUPED edge list
    val es = raw.distinct.toArray
    val deg = es.groupBy(_._1).map { case (k, v) => k -> v.length }
    val byNbr = es.groupBy(_._2).filter { case (_, v) => v.length <= 60 }
    val pairs = scala.collection.mutable.Map[(Int, Int), (Long, Double, Double)]()
    byNbr.foreach { case (_, mem) =>
      val ns = mem.map(_._1).distinct.sorted
      val d = ns.length.toDouble
      for (i <- ns.indices; j <- (i + 1) until ns.length) {
        val k = (ns(i), ns(j))
        val (c, aa, ra) = pairs.getOrElse(k, (0L, 0.0, 0.0))
        pairs(k) = (c + 1, aa + 1.0 / math.log(d), ra + 1.0 / d)
      }
    }
    val want = pairs.map { case ((a, b), (c, aa, ra)) =>
      (a, b) -> ((c, c.toDouble / (deg(a) + deg(b) - c), aa, deg(a).toLong * deg(b)))
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (c, j, aa, pa)) =>
      val (wc, wj, waa, wpa) = want(k)
      assert(c == wc && pa == wpa, s"$k")
      assert(math.abs(j - wj) < 1e-12 && math.abs(aa - waa) < 1e-9, s"$k")
    }
  }
}
