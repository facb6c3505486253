package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.{Decontaminate, TextOps}

/** Dev harness: scale evidence for the spec-only pipeline ops
  * (repetitionSignals, redactPii, decontaminate) over the documents
  * table at base sf0.1 vs a stress dir — the same interleaved
  * min-of-2 discipline as ScaleStress, with the calib yardstick read
  * from the same session.
  *
  * Usage: SPARK_GRAFT_SCALED_DIR=/tmp/graft_sf3 \
  *   sbt "Test/runMain graft.ProfileNewOps"
  *
  * MEASURED (round 11, ×30 /tmp/graft_sf3 = 150k docs, min-of-2
  * interleaved, same JVM — redact vs its regex-chain twin A/B'd in the
  * same session):
  *   repetition  base 0.18 s  ×30  0.21 s  ratio  1.15
  *   redact      base 0.14 s  ×30  0.16 s  ratio  1.18   (byte kernel)
  *   redact_hof  base 0.65 s  ×30 19.11 s  ratio 29.6    (regex chain)
  *   decontam    base 0.60 s  ×30  0.76 s  ratio  1.27
  * The staged byte-scan PiiRedactKernel removed the pipeline family's
  * dominant per-byte cost: the four sequential java.util.regex passes
  * paid per-position NFA entry over every byte (round-10 reading
  * 18.3 s at ×30, exactly linear), the kernel only does work at
  * trigger bytes — ×30 fell 19.11 → 0.16 s (~120×), leaving redact
  * scheduler-overhead-bound like repetition. This harness is also what
  * caught the original HOF-based wsShingleHashes: decontam read base
  * 10.2 s / ×30 14.5 s — replaced by WsShingleHashKernel, after which
  * decontam base fell 10.2 → 0.60 s.
  *
  * Third decade (×81 /tmp/graft_sf8 = 405k docs, same session):
  *   repetition ratio 1.73, decontam 1.95, redact KERNEL 0.19 s ratio
  *   1.44 — all overhead-bound; redact_hof 50.88 s ratio 76.2 (the
  *   regex chain stays linear; the kernel is ~270× ahead of it there).
  *
  * Composite CorpusPipeline.clean (score → gate → redact → exact +
  * near dedup → decontaminate), measured after the PLANS
  * t_pipeline__full row landed: base 2.40 s, ×30 9.38 s ratio 3.91
  * (gate 36), ×81 25.67 s ratio 8.92 (gate 97) — strongly sublinear;
  * re-measured after the ntok-on-redacted-text fix at 2.35 / 9.91 /
  * 4.21 (same session spread — the extra redactPii occurrence is
  * shared by subexpression elimination, cost-neutral as predicted);
  * the near-dup stage's banded-candidate work dominates and scales
  * like t_minhash/t_dupgroups, the per-doc kernel stages are
  * overhead-bound.
  *
  * Chunk→pack composite (round 12; chunkAndPack = clean → chunkDocs →
  * per-chunk token recount → Packing.pack, maxChunkTokens 64 overlap 8
  * budget 2048): base 2.39 s, ×30 10.74 s ratio 4.49 (gate 36) — in
  * the SAME session plain clean() read 2.20 / 8.98 / 4.09, so the
  * whole chunk + recount + pack tail adds ~+0.2 s base / +1.8 s at
  * ×30 on top of the pipeline: kernel-stage cost, dominated as always
  * by clean()'s near-dup banding. Third decade: base 2.47 s, ×81
  * 26.40 s ratio 10.67 (gate 97) — tracks clean()'s ×81 8.9 plus the
  * same constant-per-doc tail.
  *
  * pinWidth A/B on the composite (round 11, same JVM, interleaved
  * min-of-2): unpinned clean() base 2.54 s / ×30 9.93 s vs pre-pinned
  * corpus 2.14 s / 8.99 s — the fused kernel head IS the serial head
  * here (unlike the minhash fold, where pinning lost), so clean() now
  * pins internally and the pre-pin arm was retired as redundant.
  *
  * Cross-document line dedup (round 11; minDocs=2, minLineChars=4):
  *   base 0.73 s, ×30 1.49 s ratio 2.04 (gate 36), ×81 3.31 s ratio
  *   5.38 (gate 97). Strongly sublinear: the only corpus-sized exchange
  *   is the distinct (line, doc) frequency input, which map-side
  *   partial aggregation collapses; the rebuild shuffle is ∝ affected
  *   docs and the patch join AQE-broadcasts the rebuilt side.
  *
  * Packing / weighted sampling (round 11; budget 2048 tok, k=1000):
  *   ×30:  packing base 0.29 s scaled 1.52 ratio  5.25
  *         wsample base 0.79 s scaled 1.19 ratio  1.52
  *   ×81:  packing base 0.31 s scaled 3.20 ratio 10.33
  *         wsample base 0.59 s scaled 2.45 ratio  4.14   (gate 97)
  * Both strongly sublinear: packing is one hash shuffle + per-partition
  * O(n log n) best-fit, wsample a map-side top-k whose reduce is
  * k·partitions rows regardless of corpus size.
  *
  * Benchmark-side leak report (benchReport, 200-item bench):
  *   ×30 ratio 1.27, ×81 ratio 1.63 — overhead-bound like decontam
  *   (same broadcast membership shape; only hit rows reach the
  *   per-item countDistinct).
  *
  * Per-group sampling (sampleWeightedPerGroup, k=1000 over `source`):
  *   ×30 base 1.20 s scaled 1.78 ratio 1.49; ×81 base 1.25 s scaled
  *   3.99 ratio 3.18 (gate 97) — the bounded topKNeighbors buffers keep
  *   the exchanged volume at k·partitions rows per group, and the
  *   winner semi join broadcasts.
  *
  * Hashed-ngram LM gates (round 11; target = fixed 200-doc fit,
  * n=2, 2^16 buckets):
  *   ×30:  lmscore base 0.21 s scaled 0.25 ratio 1.20
  *         dsir    base 0.48 s scaled 0.85 ratio 1.79
  *   ×81:  lmscore base 0.24 s scaled 0.41 ratio 1.71
  *         dsir    base 0.53 s scaled 1.37 ratio 2.61   (gate 97)
  * Scoring is a shuffle-free projection (the weight table rides the
  * plan), so lmscore is overhead-bound; dsir adds the raw-side fit —
  * one shuffle whose width is capped at `buckets` rows per partition
  * regardless of corpus size — and the Gumbel-top-k reduce.
  *
  * FOURTH decade (×243 /tmp/graft_sf24 = 1.215M docs, v3 generator,
  * gate 292; same session, calib st 0.62-0.65): pipeline_full 80.4 s
  * ratio 39.7, packing 9.2 s / 32.6, linededup 11.9 s / 23.1,
  * wsample_grp 8.0 s / 8.6, dsir 1.75 s / 6.4, decontam 2.3 s / 4.5,
  * lmscore 0.56 s / 4.0, chunk 0.32 s / 2.8 — the whole pipeline-op
  * family is far sublinear four decades out. semdedup was NOT run at
  * ×243: its vector rescore shares t_embdup's single-node disk
  * boundary (README "fourth decade").
  *
  * Long-doc chunking (chunkDocs, maxTokens 64 / overlap 8):
  *   ×30 base 0.25 s scaled 0.32 ratio 1.24; ×81 base 0.31 s scaled
  *   0.40 ratio 1.31 — a projection + generate, overhead-bound like
  *   the sibling per-doc kernels.
  *
  * Clustered semantic dedup (semanticDedupAuto, threshold 0.9):
  *   ×30 base 1.36 s scaled 3.61 ratio 2.66; ×81 base 1.30 s scaled
  *   12.76 ratio 9.80 (gate 97) — capacity-chosen nLists keeps per-list
  *   occupancy (and so pair volume) constant; the ×81 step-up is the
  *   larger quantizer fit + the dupGroups iteration tail, both
  *   sublinear.
  */
object ProfileNewOps {
  def time(label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime(); f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"PROFILE $label%-26s $s%8.2f s")
    s
  }

  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR", "/tmp/graft_sf3")
    val spark = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("profile")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    def repetition(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(TextOps.repetitionSignals(col("text")).as("r"))
        .agg(sum(col("r.dup_line_frac")), sum(col("r.top_bigram_frac")))
        .collect(): Unit
    }
    def redact(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(TextOps.redactPii(col("text")).as("t"))
        .agg(sum(length(col("t")))).collect(): Unit
    }
    def redactHof(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(SpecTwins.redactPiiHof(col("text")).as("t"))
        .agg(sum(length(col("t")))).collect(): Unit
    }
    def decontam(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      // synthetic eval set: 200 base-corpus docs play the benchmark
      val bench = spark.read.parquet(s"$base/documents.parquet")
        .orderBy("doc_id").limit(200).select(col("text").as("q"))
      Decontaminate.decontaminate(d, "doc_id", "text", bench, "q")
        .agg(count(lit(1))).collect(): Unit
    }
    def benchReport(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val bench = spark.read.parquet(s"$base/documents.parquet")
        .orderBy("doc_id").limit(200)
        .select(col("doc_id").as("qid"), col("text").as("q"))
      Decontaminate.benchReport(d, "doc_id", "text", bench, "qid", "q")
        .agg(sum(col("n_docs")), sum(col("coverage"))).collect(): Unit
    }
    def pipelineFull(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val bench = spark.read.parquet(s"$base/documents.parquet")
        .orderBy("doc_id").limit(200).select(col("text").as("q"))
      graft.text.CorpusPipeline.clean(d, "doc_id", "text", bench, "q")
        .agg(count(lit(1))).collect(): Unit
      // the composite persists its scored survivors; drop them so reps
      // measure the pipeline, not cache accumulation
      spark.sharedState.cacheManager.clearCache()
    }

    def linededup(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.text.LineDedup.dedupLines(d, "doc_id", "text")
        .agg(sum(length(col("text"))), sum(col("lines_removed"))).collect(): Unit
      // dedupLines persists its hit set; drop it between reps
      spark.sharedState.cacheManager.clearCache()
    }
    def packing(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextOps.bpeishTokenCount(col("text")).as("ntok"))
      graft.ml.Packing.pack(d, "doc_id", "ntok", 2048L)
        .agg(countDistinct(col("pack")), sum(col("ntok"))).collect(): Unit
    }
    def wsample(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      graft.ml.Splits.sampleWeighted(d, "doc_id", "q", 1000)
        .agg(sum(col("q"))).collect(): Unit
    }

    def semdedup(dir: String): Unit = {
      val v = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = v.count() // profile-side capacity estimate (the Auto APIs take it as an argument)
      graft.sim.Semantic.semanticDedupAuto(v, "vec_id", "embedding", 0.9, n)
        .agg(count(lit(1)), sum(col("group_size"))).collect(): Unit
      // the op persists the prepped vectors + the (id, list) assignment
      spark.sharedState.cacheManager.clearCache()
    }

    // hashed-ngram LM gates: the TARGET model is fit once on a fixed
    // 200-doc trusted set (its cost does not scale with the corpus);
    // lmscore measures the shuffle-free scoring projection, dsir the
    // raw-side fit (the one bounded-width shuffle) + weight + top-k.
    lazy val lmTarget = graft.text.NgramLm.fit(
      spark.read.parquet(s"$base/documents.parquet").orderBy("doc_id").limit(200),
      "text")
    def lmscore(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.text.NgramLm.crossEntropy(d, "text", lmTarget)
        .agg(sum(col("bits"))).collect(): Unit
    }
    def dsir(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val raw = graft.text.NgramLm.fit(d, "text")
      graft.text.NgramLm.dsirSelect(d, "doc_id", "text", lmTarget, raw, 1000)
        .agg(sum(col("log_w"))).collect(): Unit
    }

    def chunk(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      TextOps.chunkDocs(d, "doc_id", "text", 64, overlap = 8)
        .agg(count(lit(1)), sum(length(col("text")))).collect(): Unit
    }

    def chunkpack(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val bench = spark.read.parquet(s"$base/documents.parquet")
        .orderBy("doc_id").limit(200).select(col("text").as("q"))
      graft.text.CorpusPipeline.chunkAndPack(
          graft.text.CorpusPipeline.clean(d, "doc_id", "text", bench, "q"),
          "doc_id", "text", maxChunkTokens = 64, overlap = 8, packBudget = 2048L)
        .agg(countDistinct(col("pack")), sum(col("ntok"))).collect(): Unit
      spark.sharedState.cacheManager.clearCache()
    }

    def wsampleGrp(dir: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("q"))
      graft.ml.Splits.sampleWeightedPerGroup(d, "doc_id", "q", "source", 1000)
        .agg(sum(col("q"))).collect(): Unit
    }

    val all = Seq[(String, String => Unit)](
      "repetition" -> repetition, "redact" -> redact,
      "redact_hof" -> redactHof, "decontam" -> decontam,
      "benchreport" -> benchReport,
      "pipeline_full" -> pipelineFull, "linededup" -> linededup,
      "packing" -> packing, "wsample" -> wsample,
      "wsample_grp" -> wsampleGrp, "semdedup" -> semdedup,
      "lmscore" -> lmscore, "dsir" -> dsir, "chunk" -> chunk,
      "chunkpack" -> chunkpack)
    // SPARK_GRAFT_PROFILE_ONLY=a,b — measure a subset (blank = all)
    val only = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val ops = if (only.isEmpty) all else all.filter(o => only(o._1))
    // warm both scales (AQE re-plans per size; bench-notes lesson)
    ops.foreach { case (_, f) => f(base); f(scaled) }
    val mins = scala.collection.mutable.Map[String, (Double, Double)]()
    for (rep <- 1 to 2; (name, f) <- ops) {
      val b = time(s"$name base rep$rep")(f(base))
      val s = time(s"$name x rep$rep")(f(scaled))
      val cur = mins.getOrElse(name, (Double.MaxValue, Double.MaxValue))
      mins(name) = (math.min(cur._1, b), math.min(cur._2, s))
    }
    mins.toSeq.sortBy(_._1).foreach { case (n, (b, s)) =>
      println(f"RESULT $n%-12s base=$b%6.2f scaled=$s%6.2f ratio=${s / b}%6.2f")
    }
    spark.stop()
  }
}
