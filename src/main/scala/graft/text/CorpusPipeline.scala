package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope
import graft.ops.Dedup

/** The end-to-end training-data cleaning chain (builder brief §2.10's
  * pipeline mandate; no single reference analog — this is the
  * composition the individual operators exist FOR):
  *
  *   score → quality/repetition gate → PII redaction → exact dedup →
  *   near dedup → benchmark decontamination
  *
  * Plan shape (the 100 TB story):
  *  - every per-document computation — language ID, quality score,
  *    repetition signals, token count, PII redaction, and the rolling
  *    fingerprint OF THE REDACTED TEXT — is native-kernel work inside
  *    one fused projection over the corpus scan (codegen; the repeated
  *    `redactPii` subtree under the fingerprint is shared by
  *    subexpression elimination). The quality gate filters in the same
  *    codegen stage. Zero shuffles to this point.
  *  - exact dedup is ONE shuffle (window by the redacted text — not the
  *    mod-1e9+7 fingerprint, whose ~2^30 space would collide at corpus
  *    scale and silently drop distinct documents); near dedup is
  *    the banded MinHash pipeline (shuffles ∝ candidates, never O(n²));
  *    decontamination broadcasts the benchmark's distinct n-gram hashes
  *    and shuffles only the hit rows ([[Decontaminate]]); the final
  *    removals are left-anti joins that AQE broadcasts in the expected
  *    (small flagged-set) case.
  *
  * CorpusPipelineSpec pins the output equal to the stage-by-stage
  * composition of the public operators and asserts the fused-Project /
  * broadcast plan shape; the PLANS audit carries a `t_pipeline__full`
  * row for the composite frame.
  */
object CorpusPipeline {

  /** Clean `corpus` for training use against an evaluation `benchmark`.
    *
    * Returns the surviving documents with `textCol` REPLACED by its
    * redacted form, plus the score columns `pred_lang`, `quality`,
    * `rep` (the [[TextOps.repetitionSignals]] struct — raw-text gating
    * diagnostics), `ntok` (token count OF THE REDACTED TEXT, so it
    * describes the returned document and feeds packing budgets), and
    * the dedup fingerprint `fp`.
    *
    * Gates: `quality >= minQuality`, `rep.dup_line_frac <=
    * maxDupLineFrac`, `rep.top_bigram_frac <= maxTopBigramFrac`. Exact
    * dedup keeps the lowest-id document per distinct REDACTED text
    * (documents differing only in PII values collapse). The dedup key
    * is the text itself, NOT the `fp` fingerprint: `fp` lives in a
    * ~2^30 space (mod 1e9+7), so keying on it would silently drop a
    * distinct document per colliding pair — ~11 expected false drops
    * already at 150k docs, millions at corpus scale. The shuffle cost
    * is the same either way (the row carries the text regardless; only
    * the partitioning hash reads more bytes). Near dedup
    * drops every non-canonical member of a verified MinHash duplicate
    * group (threshold on exact Jaccard); decontamination drops
    * documents sharing > `maxOverlap` of their distinct
    * `decontaminateWidth`-gram hashes with the benchmark.
    *
    * `lineDedupMinDocs = Some(n)` prepends the [[LineDedup]] boilerplate
    * scrub (drop lines recurring in ≥ n distinct documents) BEFORE
    * scoring, so the quality/repetition gates judge the de-boilerplated
    * document and every downstream stage — dedup keys, shingles, ntok,
    * fingerprint — sees the text a training run would see. Off by
    * default (None): the stage is corpus-global (its own frequency
    * pass over the raw corpus), not a per-doc kernel, so it is opt-in
    * rather than silently adding corpus scans to every clean() call.
    *
    * `lmModel = Some(m)` adds the CCNet-style model gate: the RAW text's
    * cross-entropy under `m` ([[NgramLm.bits]] — a trusted-corpus fit
    * the caller supplies) must be ≤ `maxLmBits`, and the score is
    * returned as `lm_bits` (rounded to 6dp like `quality`). The bits
    * column joins the SAME fused projection as the other per-doc
    * kernels (the model table rides the plan — no shuffle, no join).
    * A document with no n-grams has null bits and FAILS the gate: the
    * model cannot vouch for text it cannot score (such documents are
    * token-free, so the quality gate would drop them anyway). Off by
    * default: the gate needs a caller-fit model, and the default output
    * schema stays exactly the un-gated one.
    */
  def clean(corpus: DataFrame, idCol: String, textCol: String,
            benchmark: DataFrame, benchTextCol: String,
            minQuality: Double = 0.65,
            maxDupLineFrac: Double = 0.30,
            maxTopBigramFrac: Double = 0.20,
            shingleWidth: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
            nearDupThreshold: Double = 0.5,
            decontaminateWidth: Int = 8,
            maxOverlap: Double = 0.0,
            lineDedupMinDocs: Option[Int] = None,
            lmModel: Option[NgramLm.Model] = None,
            maxLmBits: Double = 12.0): DataFrame = {
    // stage 0 (opt-in) — cross-document boilerplate-line scrub on the
    // RAW corpus; everything downstream sees the de-boilerplated text.
    // pinWidth wraps the RAW corpus in both arms (never the dedupLines
    // output): its toRdd width probe is free on a scan but under AQE
    // would MATERIALIZE every shuffle stage of the line-dedup subtree at
    // construction time — and the pinned input also restores full-width
    // compute for the fused kernels downstream of stage 0's patch join,
    // which preserves the stream side's (possibly 1-split) partitioning.
    val pinned = graft.core.Tables.pinWidth(corpus)
    val input = lineDedupMinDocs.fold(pinned)(n =>
      LineDedup.dedupLines(pinned, idCol, textCol, minDocs = n)
        .drop("lines_removed"))
    // stage 1+2+3 — ONE fused projection of every per-doc kernel over
    // the corpus scan, gated in the same codegen stage. The redacted
    // text replaces the raw text for every downstream stage: dedup keys,
    // near-dup shingles and benchmark overlap all see what a training
    // run would see.
    // The `pinned` upstream matters here: the fused kernel projection is
    // the plan's serial head — on an under-split scan it would run at
    // scan width (the t_pipeline pathology, Tables.pinWidth scaladoc).
    // Measured in an interleaved A/B: 2.54 → 2.14 s at
    // sf0.1, 9.93 → 8.99 s at ×30; a corpus-scale scan has thousands of
    // splits, where the pin is a no-op.
    val text = col(textCol)
    val scored = input.select(Seq(
      col(idCol),
      TextOps.redactPii(text).as(textCol),
      TextOps.langId(text).as("pred_lang"),
      round(TextOps.qualityScore(text), 6).as("quality"),
      TextOps.repetitionSignals(text).as("rep"),
      // ntok counts the REDACTED text — the document a trainer actually
      // consumes — so the count is valid input for token-budget packing
      // ([[graft.ml.Packing]]). The gating scores (quality, rep, langId,
      // lm_bits) stay on the raw text: they diagnose the original
      // document, and redaction masks would skew them. The repeated
      // redactPii subtree is shared by subexpression elimination.
      TextOps.bpeishTokenCount(TextOps.redactPii(text)).as("ntok"),
      TextOps.fingerprint(TextOps.redactPii(text)).as("fp")) ++
      lmModel.map(m => round(NgramLm.bits(text, m), 6).as("lm_bits")): _*)
    val gated = scored.where(col("quality") >= minQuality &&
      col("rep").getField("dup_line_frac") <= maxDupLineFrac &&
      col("rep").getField("top_bigram_frac") <= maxTopBigramFrac &&
      // null lm_bits (no n-grams) is filtered out here too: null && x
      // is never true in a WHERE
      lmModel.fold(lit(true))(_ => col("lm_bits") <= maxLmBits))

    // stage 4 — exact dedup: one shuffle, window by the redacted text.
    // Persisted: the scored survivors feed THREE consumers (the minhash
    // shingle head, the near-dup anti-join left side, and the
    // decontamination membership probe) — without the persist the
    // corpus scan + kernel projection re-execute once per consumer,
    // which at 100 TB is two full extra corpus scans. The RETURNED frame
    // reads this cache lazily, so it lives as long as the caller's
    // [[Scope]].
    val exactKept = Scope.persist(Dedup.keepFirst(gated, Seq(textCol), Seq(col(idCol))))

    // stage 5 — near dedup: verified MinHash pairs → duplicate groups →
    // drop non-canonical members (transitive: A≈B≈C keeps only min id).
    // dupGroups consumes the pairs EAGERLY (its tier count) and its
    // output is independent of them (driver rows on its local tier,
    // per-round localCheckpoints on the distributed one), so the
    // shingle cache is dead weight once it returns: a nested scope
    // releases it instead of pinning one shingle frame per clean() call.
    val drops = Scope.within(NearDup.dupGroups(NearDup.minHashDedup(
        exactKept.select(col(idCol), col(textCol)), idCol, textCol,
        shingleWidth, bands, rowsPerBand, nearDupThreshold)))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
    val nearKept = exactKept.join(drops, Seq(idCol), "left_anti")

    // stage 6 — benchmark decontamination on the surviving corpus
    Decontaminate.decontaminate(nearKept, idCol, textCol,
      benchmark, benchTextCol, decontaminateWidth, maxOverlap)
  }

  /** [[clean]] run in its own [[Scope]]: the handle closes that scope,
    * which releases the caches the cleaned frame reads. Call it once the
    * frame is consumed. Kept for the benchmark's corpus operation; a
    * caller that runs its own scope calls [[clean]].
    */
  def cleanWithRelease(corpus: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, benchTextCol: String,
                       minQuality: Double = 0.65,
                       maxDupLineFrac: Double = 0.30,
                       maxTopBigramFrac: Double = 0.20,
                       shingleWidth: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                       nearDupThreshold: Double = 0.5,
                       decontaminateWidth: Int = 8,
                       maxOverlap: Double = 0.0,
                       lineDedupMinDocs: Option[Int] = None,
                       lmModel: Option[NgramLm.Model] = None,
                       maxLmBits: Double = 12.0): (DataFrame, () => Unit) = {
    val (out, scope) = Scope.open(clean(corpus, idCol, textCol, benchmark, benchTextCol,
      minQuality, maxDupLineFrac, maxTopBigramFrac, shingleWidth, bands, rowsPerBand,
      nearDupThreshold, decontaminateWidth, maxOverlap, lineDedupMinDocs, lmModel, maxLmBits))
    (out, () => scope.close())
  }

  /** Training-prep tail: window the cleaned corpus into model-context
    * chunks and pack the chunks to a token budget — the sequence
    * [[clean]] → [[TextOps.chunkDocs]] → per-chunk token recount →
    * [[graft.ml.Packing.pack]] as one call (round-11 verdict: the
    * composition existed only piecewise; the `ntok` the pipeline emits
    * describes the UN-chunked document, so a chunked corpus must
    * re-derive per-chunk counts before packing — this does).
    *
    * Returns one row per chunk: (idCol, chunk_id, textCol = the window
    * text, ntok = [[TextOps.bpeishTokenCount]] OF THE CHUNK, pack).
    * `maxChunkTokens`/`overlap` are whitespace-token window knobs
    * ([[TextOps.chunkByTokens]]); `packBudget` bounds the per-pack sum
    * of the re-derived bpe-ish counts. Documents are expected cleaned
    * (any frame with idCol/textCol works); extra columns are dropped —
    * chunk rows are sequence material, not document metadata carriers.
    *
    * Plan shape (the 100 TB story): chunking is a projection + generate
    * co-partitioned with the input (no shuffle) and the recount fuses
    * into the same stage; packing adds its ONE deterministic hash
    * shuffle. Composed over [[clean]]'s output the whole tail adds zero
    * corpus re-scans (CorpusPipelineSpec pins scan-count equality and
    * the budgets; `t_chunkpack__full` is the PLANS row).
    *
    * The pack shuffle keys on a composite sequence id `(doc id << 20) |
    * chunk_id` — unique and deterministic. Out-of-range inputs (id
    * outside [0, 2⁴³), ≥ 2²⁰ windows in one document) raise per-row
    * rather than silently colliding pack keys; 2²⁰ windows × a 1000-
    * token stride is a ~10⁹-token document, far past any real corpus
    * document, and wider ids should be re-keyed upstream.
    */
  def chunkAndPack(cleaned: DataFrame, idCol: String, textCol: String,
                   maxChunkTokens: Int, overlap: Int = 0,
                   packBudget: Long = 2048L): DataFrame = {
    // extra input columns (incl. clean()'s own doc-level ntok) are
    // dropped by the select below, so only the id/text NAMES can clash
    // with the emitted columns
    Seq(idCol, textCol).foreach(c =>
      require(!Seq("chunk_id", "ntok", "pack", "__seq_id").contains(c),
        s"column name '$c' is reserved by chunkAndPack output — rename it first"))
    val chunks = TextOps.chunkDocs(
        cleaned.select(col(idCol), col(textCol)), idCol, textCol,
        maxChunkTokens, overlap)
      .withColumn("ntok", TextOps.bpeishTokenCount(col(textCol)))
    val id = col(idCol).cast("long")
    val seqId = when(id >= 0 && id < (1L << 43) && col("chunk_id") < (1 << 20),
      shiftleft(id, 20).bitwiseOR(col("chunk_id").cast("long"))).otherwise(
      raise_error(concat(
        lit("chunkAndPack: composite sequence id out of range (need 0 <= id < 2^43 " +
          "and chunk_id < 2^20; got id="), id.cast("string"),
        lit(", chunk_id="), col("chunk_id").cast("string"), lit(")"))))
    graft.ml.Packing.pack(chunks.withColumn("__seq_id", seqId),
        "__seq_id", "ntok", packBudget)
      .drop("__seq_id")
  }
}
