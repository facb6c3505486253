package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.text.{CorpusPipeline, Decontaminate, NearDup, TextOps}

/** End-to-end contract of the composite training-data pipeline
  * (score → gate → redact → exact dedup → near dedup → decontaminate):
  * the one-call [[CorpusPipeline.clean]] must equal the stage-by-stage
  * composition of the public operators, each stage must demonstrably
  * fire on a planted document, and the plan must keep the fused
  * per-doc-kernel Project and the decontamination broadcast shape.
  */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // long clean English so quality clears the 0.65 gate; three DISTINCT
  // bases so only the planted near-dup family links in minhash
  private val base1 = ("the quick brown fox jumps over the lazy dog while " +
    "markets digest the latest earnings reports and analysts debate the " +
    "outlook for rates growth and inflation across regions ") * 3
  private val base2 = ("a completely different treatise on gardening where " +
    "tomatoes and peppers thrive under careful watering schedules and " +
    "patient seasonal rotation of beds brings steady harvests ") * 3
  private val base3 = ("meanwhile the orchestra rehearsed a demanding score " +
    "with woodwinds answering strings in long overlapping phrases that " +
    "slowly resolved into a quiet and satisfying final cadence ") * 3
  private val base4 = ("travel writers describe remote mountain villages " +
    "where narrow stone paths wind between terraced fields and every " +
    "morning begins with bread baked in shared village ovens ") * 3

  // parquet-backed (not Seq.toDF): ConvertToLocalRelation would evaluate
  // a LocalRelation pipeline at OPTIMIZATION time, leaving no physical
  // plan to assert on — parquet inputs give the real scan → kernel →
  // gate plan a deployment sees. The frames read lazily across tests, so
  // their files live until the suite ends.
  private val dir = java.nio.file.Files.createTempDirectory("pipe")
  override def afterAll(): Unit = JavaUtils.deleteRecursively(dir.toFile)

  private lazy val corpus = {
    Seq(
      // 1, 2: exact dups AFTER redaction (differ only in the email)
      (1L, base1 + "contact alice@example.com for details"),
      (2L, base1 + "contact bob@other.org for details"),
      // 3: near-dup of 1 (a few words changed) -> minhash group, dropped
      (3L, base1 + "contact alice@example.com for many more details"),
      // 4: distinct clean survivor with a phone to redact
      (4L, base2 + "call 555-123-4567 to subscribe now"),
      // 5: contaminated -> contains a benchmark 8-gram verbatim
      (5L, base3 + "what is the capital city of france paris obviously"),
      // 6: low quality (short + punct soup) -> gated
      (6L, "!!! ??? ..."),
      // 7: repetitive -> dup_line_frac = 5/6 > 0.30 -> gated
      (7L, Array.fill(6)("buy cheap pills online now").mkString("\n")
        + "\n" + base1),
      (8L, base4 + "a unique closing sentence about bonds")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/corpus")
    spark.read.parquet(s"$dir/corpus")
  }

  private lazy val benchmark = {
    Seq(
      "question: what is the capital city of france paris obviously answer",
      "unrelated benchmark prompt about chemistry and physics")
      .toDF("q").write.mode("overwrite").parquet(s"$dir/bench")
    spark.read.parquet(s"$dir/bench")
  }

  private def cleaned = CorpusPipeline.clean(
    corpus, "doc_id", "text", benchmark, "q")

  test("every stage fires: gate, redact, exact dedup, near dedup, decontaminate") {
    val out = cleaned.select("doc_id", "text").as[(Long, String)].collect().toMap
    // gated: 6 (quality), 7 (repetition); exact-dup: 2 collapses into 1
    // (same redacted text); near-dup: 3 drops (group with 1); dirty: 5
    assert(out.keySet == Set(1L, 4L, 8L), s"survivors: ${out.keySet}")
    // redaction replaced the working text
    assert(out(1L).contains("<EMAIL>") && !out(1L).contains("alice@example.com"))
    assert(out(4L).contains("<PHONE>") && !out(4L).contains("555-123-4567"))
    // score columns ride along
    val cols = cleaned.columns.toSet
    assert(Set("doc_id", "text", "pred_lang", "quality", "rep", "ntok", "fp")
      .subsetOf(cols), s"columns: $cols")
    assert(cleaned.where(col("pred_lang") === "en").count() == 3)
    // ntok describes the RETURNED (redacted) text — the count a packing
    // budget consumes — not the raw document
    assert(cleaned.where(col("ntok") =!=
      TextOps.bpeishTokenCount(col("text"))).count() == 0)
  }

  test("one call equals the stage-by-stage composition of the public operators") {
    val text = col("text")
    val scored = corpus.select(col("doc_id"),
      TextOps.redactPii(text).as("text"),
      TextOps.langId(text).as("pred_lang"),
      round(TextOps.qualityScore(text), 6).as("quality"),
      TextOps.repetitionSignals(text).as("rep"),
      TextOps.bpeishTokenCount(TextOps.redactPii(text)).as("ntok"),
      TextOps.fingerprint(TextOps.redactPii(text)).as("fp"))
    val gated = scored.where(col("quality") >= 0.65 &&
      col("rep.dup_line_frac") <= 0.30 && col("rep.top_bigram_frac") <= 0.20)
    val exact = Dedup.keepFirst(gated, Seq("text"), Seq(col("doc_id")))
    val pairs = NearDup.minHashDedup(exact.select(col("doc_id"), col("text")),
      "doc_id", "text", 3, 16, 4, 0.5)
    val drops = NearDup.dupGroups(pairs)
      .where(col("doc_id") =!= col("keep_id")).select("doc_id")
    val near = exact.join(drops, Seq("doc_id"), "left_anti")
    val want = Decontaminate.decontaminate(near, "doc_id", "text", benchmark, "q")
      .collect().map(_.toString).toSet
    assert(cleaned.collect().map(_.toString).toSet == want)
  }

  test("plan: ONE fused Project carries every per-doc kernel; decontamination broadcasts") {
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

    def root(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    // the scored/gated stage: all six per-doc kernels live in EXACTLY ONE
    // Project over the scan — the t_pipeline fusion pattern
    val kernels = Seq("graft_redact_pii", "graft_langid",
      "graft_repetition_stats", "graft_fingerprint")
    val text = col("text")
    val gatedPlan = root(corpus.select(col("doc_id"),
        TextOps.redactPii(text).as("text"),
        TextOps.langId(text).as("pred_lang"),
        round(TextOps.qualityScore(text), 6).as("quality"),
        TextOps.repetitionSignals(text).as("rep"),
        TextOps.bpeishTokenCount(TextOps.redactPii(text)).as("ntok"),
        TextOps.fingerprint(TextOps.redactPii(text)).as("fp"))
      .where(col("quality") >= 0.65 &&
        col("rep.dup_line_frac") <= 0.30 && col("rep.top_bigram_frac") <= 0.20))
    val projects = gatedPlan.collect {
      case p: ProjectExec if kernels.exists(k => p.projectList.mkString.contains(k)) => p
    }
    assert(projects.size == 1, s"expected one fused kernel Project, got ${projects.size}")
    kernels.foreach { k =>
      assert(projects.head.projectList.mkString.contains(k), s"missing $k in the fused Project")
    }
    // the quality gate filters in the same stage (below the Project after
    // predicate pushdown), not behind an exchange
    assert(gatedPlan.collect { case f: FilterExec => f }.nonEmpty)

    // the composite: decontamination's membership join broadcasts the
    // benchmark side; no cartesian/nested-loop anywhere
    val full = root(cleaned)
    val ops = full.collect { case n => n }
    assert(ops.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "decontamination membership join must broadcast the benchmark")
    assert(!ops.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ops.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    // the persisted survivors: consumers read the cache, the corpus scan
    // + kernel projection execute once, not once per consumer
    assert(ops.count(_.getClass.getSimpleName == "InMemoryTableScanExec") >= 2,
      "scored survivors must be cache-read by the downstream consumers")
    spark.sharedState.cacheManager.clearCache()
  }

  test("opt-in line-dedup stage: equals the explicit pre-pass; boilerplate line gone") {
    val footer = "copyright example publishing all rights reserved worldwide"
    val withFooter = Seq(
      (1L, s"$base1 introduces the first body\n$footer"),
      (2L, s"$base2 carries the second body\n$footer"),
      (3L, s"$base3 rounds out the third body\n$footer"),
      (4L, s"$base4 stands alone without any footer")).toDF("doc_id", "text")
    val got = CorpusPipeline.clean(withFooter, "doc_id", "text",
      benchmark, "q", lineDedupMinDocs = Some(2))
    val gotRows = got.collect().map(_.toString).toSet
    spark.sharedState.cacheManager.clearCache()
    // ≡ the explicit composition: LineDedup pre-pass, then the default chain
    val pre = graft.text.LineDedup.dedupLines(withFooter, "doc_id", "text")
      .drop("lines_removed")
    val want = CorpusPipeline.clean(pre, "doc_id", "text", benchmark, "q")
      .collect().map(_.toString).toSet
    spark.sharedState.cacheManager.clearCache()
    assert(gotRows == want)
    // the boilerplate footer is scrubbed from every survivor (and the
    // de-boilerplated docs survive: distinct bases, clean quality)
    val texts = got.select("text").collect().map(_.getString(0))
    assert(texts.length == 4)
    assert(texts.forall(!_.contains(footer)))
    // default stays identity with the pre-change behavior: footer kept
    val off = CorpusPipeline.clean(withFooter, "doc_id", "text", benchmark, "q")
      .select("text").collect().map(_.getString(0))
    spark.sharedState.cacheManager.clearCache()
    assert(off.count(_.contains(footer)) == 3)
  }

  test("opt-in LM gate: equals the explicit pre-filter; OOD doc dropped; fusion kept") {
    import graft.text.NgramLm
    // target model: the corpus's own English register (fit on the four
    // clean bases), so in-distribution docs score low bits
    val target = NgramLm.fit(
      Seq(base1, base2, base3, base4).zipWithIndex.map(_.swap).toDF("i", "t"), "t")
    // planted out-of-distribution doc: 150 DISTINCT 4-letter consonant
    // tokens — long, alphabetic, punct-free, no repeated lines or
    // bigrams, so it clears the quality (≈0.82) and repetition gates
    // and only the LM gate can drop it
    val salad = (0 until 150).map(i =>
      s"${('b' + i % 24).toChar}q${('b' + i / 24 % 24).toChar}x").mkString(" ")
    val ood = (9L, salad)
    val withOod = corpus.union(Seq(ood).toDF("doc_id", "text"))
    val bitsOf = NgramLm.crossEntropy(withOod, "text", target)
      .select("doc_id", "bits").as[(Long, Double)].collect().toMap
    val cut = bitsOf(9L) - 0.01 // between the clean docs' bits and the OOD's
    assert(Set(1L, 4L, 8L).forall(id => bitsOf(id) < cut), s"$bitsOf")

    // without the gate the salad SURVIVES every other stage (so the drop
    // below is attributable to the LM gate alone)
    val ungated = CorpusPipeline.clean(withOod, "doc_id", "text", benchmark, "q")
      .select("doc_id").as[Long].collect().toSet
    spark.sharedState.cacheManager.clearCache()
    assert(ungated == Set(1L, 4L, 8L, 9L), s"ungated survivors: $ungated")

    val got = CorpusPipeline.clean(withOod, "doc_id", "text", benchmark, "q",
      lmModel = Some(target), maxLmBits = cut)
    val gotRows = got.collect().map(_.toString).toSet
    spark.sharedState.cacheManager.clearCache()
    // the OOD doc is gone, the usual survivors remain, and lm_bits rides along
    assert(got.columns.contains("lm_bits"))
    val gotIds = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == Set(1L, 4L, 8L), s"LM-gated survivors: $gotIds")
    // ≡ the explicit composition: pre-filter on rounded bits, then the
    // default chain plus the same lm_bits column (recomputed on the RAW
    // corpus and joined back — clean() returns redacted text)
    val wantRows = CorpusPipeline.clean(
        withOod.where(round(NgramLm.bits(col("text"), target), 6) <= cut),
        "doc_id", "text", benchmark, "q")
      .join(withOod.select(col("doc_id"),
        round(NgramLm.bits(col("text"), target), 6).as("lm_bits")), "doc_id")
      .select(got.columns.toIndexedSeq.map(col): _*)
      .collect().map(_.toString).toSet
    spark.sharedState.cacheManager.clearCache()
    assert(gotRows == wantRows)

    // the lm_bits kernel joins the SAME fused Project as the other
    // kernels (over the parquet corpus — a union input would get one
    // Project per branch and muddy the count)
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val scored = corpus.select(col("doc_id"),
      TextOps.redactPii(col("text")).as("text"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"),
      round(NgramLm.bits(col("text"), target), 6).as("lm_bits"))
    val plan = scored.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val projects = plan.collect {
      case p: ProjectExec if p.projectList.mkString.contains("graft_ngram_score") => p
    }
    assert(projects.size == 1 &&
      projects.head.projectList.mkString.contains("graft_redact_pii"),
      s"lm_bits must fuse with the kernel Project: $plan")
  }

  test("chunkAndPack: chunk and pack budgets hold end-to-end; no corpus re-scan") {
    spark.sharedState.cacheManager.clearCache()
    val maxTok = 40; val overlap = 8; val budget = 120L
    val out = CorpusPipeline.chunkAndPack(cleaned, "doc_id", "text",
      maxTok, overlap, budget)
    val rows = out.select("doc_id", "chunk_id", "text", "ntok", "pack")
      .as[(Long, Int, String, Int, Long)].collect()
    assert(rows.nonEmpty)
    // every pipeline survivor is represented, with contiguous window ids
    val survivors = cleaned.select("doc_id").as[Long].collect().toSet
    val perDoc = rows.groupBy(_._1)
    assert(perDoc.keySet == survivors)
    perDoc.foreach { case (_, cs) =>
      assert(cs.map(_._2).sorted.toSeq == (0 until cs.length))
    }
    // (a) chunk budgets hold on the POST-REDACTION text: every window
    // is <= maxTok whitespace tokens, and long docs really did window
    rows.foreach { case (id, cid, text, _, _) =>
      assert(text.split("\\s+").count(_.nonEmpty) <= maxTok, s"doc $id chunk $cid")
    }
    assert(perDoc.values.exists(_.length > 1), "fixture docs should exceed one window")
    // consecutive windows share exactly `overlap` tokens of context
    perDoc.values.foreach { cs =>
      cs.sortBy(_._2).toSeq.sliding(2).foreach {
        case Seq((_, _, a, _, _), (_, _, b, _, _)) =>
          val at = a.split("\\s+").filter(_.nonEmpty)
          val bt = b.split("\\s+").filter(_.nonEmpty)
          assert(at.takeRight(overlap).sameElements(bt.take(overlap)))
        case _ =>
      }
    }
    // (b) ntok is the RE-DERIVED per-chunk count (not the doc-level one),
    // and pack budgets hold on it
    assert(out.where(col("ntok") =!=
      TextOps.bpeishTokenCount(col("text"))).isEmpty)
    rows.groupBy(_._5).foreach { case (pack, members) =>
      val total = members.map(_._4.toLong).sum
      assert(total <= budget || members.length == 1,
        s"pack $pack over budget: $total from ${members.length} chunks")
    }
    // (c) the composed tail adds NO corpus re-scan beyond clean()'s own
    // plan (chunking+recount fuse over the survivors; packing adds only
    // its one hash shuffle), and the persisted survivors are reused
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      root.collect { case s: FileSourceScanExec => s }.size
    }
    val freshClean = CorpusPipeline.clean(corpus, "doc_id", "text", benchmark, "q")
    val composed = CorpusPipeline.chunkAndPack(freshClean, "doc_id", "text",
      maxTok, overlap, budget)
    assert(scans(composed) == scans(freshClean),
      "chunk->recount->pack must not re-scan the corpus")
    spark.sharedState.cacheManager.clearCache()
  }

  test("cleanWithRelease: release unpersists the survivor cache; the frame stays correct") {
    spark.sharedState.cacheManager.clearCache() // isolate from earlier tests
    val (out, release) = CorpusPipeline.cleanWithRelease(
      corpus, "doc_id", "text", benchmark, "q")
    val before = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(!spark.sharedState.cacheManager.isEmpty,
      "scored-survivor persist should be live")
    release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must drop the internal survivor cache")
    // re-evaluation after release recomputes and agrees
    assert(out.select("doc_id", "text").as[(Long, String)].collect().toMap == before)
    spark.sharedState.cacheManager.clearCache()
  }
}
