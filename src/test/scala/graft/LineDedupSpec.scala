package graft

import org.apache.spark.sql.functions._
import graft.text.LineDedup

/** Cross-document line dedup (the C4/CCNet boilerplate scrub):
  * threshold semantics on distinct documents, short-line exemption,
  * order-preserving reassembly, differential equality against a local
  * recomputation, and the hits-only plan shape.
  */
class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  private val banner = "subscribe to our newsletter for daily updates"
  private val cookie = "this site uses cookies accept to continue"

  private def docs = Seq(
    (1L, s"$banner\nalpha body line one\nalpha body line two"),
    (2L, s"beta opens differently\n$banner\n$cookie\nbeta closing thought"),
    (3L, s"$cookie\ngamma unique musing"),
    // 4: within-doc repetition only — three copies in ONE doc must not
    // reach the cross-document threshold
    (4L, "delta refrain repeated\ndelta refrain repeated\ndelta refrain repeated"),
    // 5: untouched doc with blank lines and trailing whitespace
    (5L, "epsilon stands alone\n\n  indented epsilon line  "),
    // 6: all lines boilerplate -> empty text survivor
    (6L, s"$banner\n$cookie")
  ).toDF("doc_id", "text")

  test("lines in >= minDocs distinct documents are removed everywhere; order and blanks survive") {
    val out = LineDedup.dedupLines(docs, "doc_id", "text")
      .select("doc_id", "text", "lines_removed").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (("alpha body line one\nalpha body line two", 1L)))
    assert(out(2L) == (("beta opens differently\nbeta closing thought", 2L)))
    assert(out(3L) == (("gamma unique musing", 1L)))
    // within-doc repetition is one document: kept verbatim
    assert(out(4L) == (("delta refrain repeated\ndelta refrain repeated\ndelta refrain repeated", 0L)))
    // untouched docs keep their text byte-for-byte (blanks, indentation)
    assert(out(5L) == (("epsilon stands alone\n\n  indented epsilon line  ", 0L)))
    // a doc of pure boilerplate survives with empty text
    assert(out(6L) == (("", 2L)))
  }

  test("frequency keys on the TRIMMED line; indented copies match") {
    val d = Seq(
      (1L, s"  $banner  \nown words one"),
      (2L, s"$banner\nown words two")).toDF("doc_id", "text")
    val freq = LineDedup.frequentLines(d, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(freq == Map(banner -> 2L))
    val out = LineDedup.dedupLines(d, "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "own words one" && out(2L) == "own words two")
  }

  test("vertical-tab / form-feed indentation matches space/tab twins (full ASCII ws set)") {
    // every copy of the banner carries a different whitespace dressing —
    // all five trim chars must collapse to one frequency key
    val d = Seq(
      (1L, s"\u000B$banner\u000B\nvt doc body"),
      (2L, s"\t$banner \r\ntab doc body"),
      (3L, s"\f$banner\f\nff doc body")).toDF("doc_id", "text")
    val freq = LineDedup.frequentLines(d, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(freq == Map(banner -> 3L))
    val out = LineDedup.dedupLines(d, "doc_id", "text")
      .select("doc_id", "lines_removed").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("lines shorter than minLineChars are exempt even when ubiquitous") {
    val d = Seq(
      (1L, "---\nfirst real content here"),
      (2L, "---\nsecond real content here"),
      (3L, "---\nthird real content here")).toDF("doc_id", "text")
    val out = LineDedup.dedupLines(d, "doc_id", "text", minDocs = 2, minLineChars = 4)
      .select("doc_id", "text", "lines_removed").as[(Long, String, Long)].collect()
    out.foreach { case (_, t, n) =>
      assert(t.startsWith("---\n"), s"exempt short line was dropped: $t")
      assert(n == 0L)
    }
    // and with the exemption narrowed, the marker goes
    val strict = LineDedup.dedupLines(d, "doc_id", "text", minDocs = 2, minLineChars = 1)
      .select("text").as[String].collect()
    strict.foreach(t => assert(!t.contains("---")))
  }

  test("CRLF and tab-indented copies of a banner match the LF/space form") {
    // split('\n') leaves '\r' on CRLF lines and copies may be
    // tab-indented; the frequency key must still unify them (Spark's
    // one-arg trim strips spaces ONLY — this is the regression case)
    val d = Seq(
      (1L, s"$banner\r\nwindows doc body stays"),
      (2L, s"\t$banner\t\nunix doc body remains"),
      (3L, s"$banner\nplain doc body survives")).toDF("doc_id", "text")
    val out = LineDedup.dedupLines(d, "doc_id", "text")
      .select("doc_id", "text", "lines_removed").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (("windows doc body stays", 1L)), s"got ${out(1L)}")
    assert(out(2L) == (("unix doc body remains", 1L)))
    assert(out(3L) == (("plain doc body survives", 1L)))
  }

  test("reserved internal column names and a pre-existing lines_removed are rejected") {
    val clash = docs.withColumn("__id", col("doc_id"))
    intercept[IllegalArgumentException](LineDedup.dedupLines(clash, "doc_id", "text"))
    val counted = docs.withColumn("lines_removed", lit(0L))
    intercept[IllegalArgumentException](LineDedup.dedupLines(counted, "doc_id", "text"))
  }

  test("dedupLinesWithRelease: release unpersists the hit cache; the frame stays correct") {
    spark.sharedState.cacheManager.clearCache() // isolate from earlier tests
    val (out, release) = LineDedup.dedupLinesWithRelease(docs, "doc_id", "text")
    val before = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(!spark.sharedState.cacheManager.isEmpty, "hit set should be cached")
    release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must drop the internal hit cache")
    // re-evaluation after release recomputes and agrees
    assert(out.select("doc_id", "text").as[(Long, String)].collect().toMap == before)
  }

  test("differential: equals a local recomputation on a generated corpus") {
    val corpus = (0L until 120L).map { i =>
      val own = (0 until (i % 4 + 1).toInt)
        .map(j => s"document $i original sentence number $j about topic ${i % 7}")
      val boiler =
        (if (i % 3 == 0) Seq("shared footer appears on every third page") else Nil) ++
        (if (i % 5 == 0) Seq("promotional interstitial text block") else Nil)
      (i, (own ++ boiler ++ (if (i % 2 == 0) Seq("") else Nil)).mkString("\n"))
    }
    val minDocs = 2; val minChars = 4
    // local reference: count distinct docs per trimmed candidate line,
    // drop every occurrence of lines at/over the threshold
    val nDocs = corpus
      .flatMap { case (id, t) => t.split("\n", -1).map(_.trim).filter(_.length >= minChars).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val want = corpus.map { case (id, t) =>
      val kept = t.split("\n", -1).filter { l =>
        val k = l.trim
        k.length < minChars || nDocs.getOrElse(k, 0) < minDocs
      }
      val removed = t.split("\n", -1).length - kept.length
      (id, kept.mkString("\n"), removed.toLong)
    }.toSet
    val got = LineDedup.dedupLines(corpus.toDF("doc_id", "text"), "doc_id", "text",
        minDocs, minChars)
      .select("doc_id", "text", "lines_removed").as[(Long, String, Long)]
      .collect().toSet
    assert(got == want)
  }

  test("plan: no cartesian; the corpus text column is never shuffled for clean docs") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    withTempDir("linededup") { d =>
      val dir = d.toString
      docs.write.mode("overwrite").parquet(s"$dir/docs")
      val corpus = spark.read.parquet(s"$dir/docs")
      val out = LineDedup.dedupLines(corpus, "doc_id", "text")
      // the patch join's broadcast is an AQE runtime decision (the rebuilt
      // side has no pre-execution stats), so execute first and read the
      // FINAL adaptive plan
      out.collect(): Unit
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case n => n }
        case other => other.collect { case n => n }
      }
      val all = nodes(out.queryExecution.executedPlan)
      assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
      assert(!all.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      // the full document text crosses the wire only inside the affected-doc
      // rebuild (as exploded lines); no exchange carries the corpus text col
      val textShuffles = all.collect {
        case s: ShuffleExchangeExec if s.child.output.exists(_.name == "text") => s
      }
      assert(textShuffles.isEmpty,
        s"corpus text column crossed an exchange:\n${textShuffles.mkString("\n")}")
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
