package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernels for the LLM-data pipeline surface (builder brief)
  * plus the reference's vocab/tokenize layer
  * (`finds/unstructured/vocab.py:21-135`, SURVEY.md §2.7 F7, §2.4 A14).
  *
  * All pure `Column` expressions — codegen'd, zero UDFs, embarrassingly
  * parallel over a 100 TB `documents` table.
  */
object TextOps {

  /** Reference tokenizer pattern (`vocab.py:29`): ≥3 non-digit word chars. */
  val TokenPattern = "[a-zA-Z_][a-zA-Z_][a-zA-Z_]+"

  /** Word tokens (reference regexp, lowercased). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-zA-Z_]+"), t => length(t) >= 3)

  /** Whitespace token count (LLM token-count baseline). One byte-pass
    * kernel ([[graft.functions.TextCountKernel]]); its split/filter
    * Column twin lives with the specs (`SpecTwins.wsTokenCountHof`).
    */
  def wsTokenCount(text: Column): Column =
    graft.functions.HashF.textCounts(text).getField("ws_words")

  /** BPE-ish subword count: letter runs + digit runs + single punctuation
    * marks — a deterministic regex proxy for tokenizer cost estimation.
    * One counting byte-pass kernel ([[graft.functions.TextCountKernel]]
    * — the regex form materialized every matched token into an array
    * just to take its size); its regex twin lives with the specs
    * (`SpecTwins.bpeishTokenCountHof`).
    */
  def bpeishTokenCount(text: Column): Column =
    graft.functions.HashF.bpeishCount(text)

  /** Long-document chunking: windows of at most `maxTokens` whitespace
    * tokens, consecutive windows sharing `overlap` tokens of context —
    * the fixed-context splitter between cleaning and packing (documents
    * longer than the model context are windowed; short ones pass
    * through whole as their original bytes). One byte-pass kernel
    * ([[graft.functions.ChunkKernel]]); chunk text preserves the
    * original bytes between its first and last token, so chunking never
    * rewrites a document, only windows it. Empty array for token-free
    * text. Windows advance by a fixed `maxTokens − overlap` stride, so
    * every consecutive pair shares exactly `overlap` tokens; the tail
    * window ends at the last token and may be short (down to one token
    * past the shared prefix) — it is never re-anchored backwards to
    * full width.
    */
  def chunkByTokens(text: Column, maxTokens: Int, overlap: Int = 0): Column =
    graft.functions.HashF.chunkByTokens(text, maxTokens, overlap)

  /** [[chunkByTokens]] over a frame: one row per (document, window),
    * with `chunk_id` the 0-based window index and `textCol` REPLACED by
    * the window text. A projection + generate — shuffle-free, and
    * chunk rows stay co-partitioned with their source document.
    */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, maxTokens: Int, overlap: Int = 0)
      : org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      posexplode(chunkByTokens(col(textCol), maxTokens, overlap))
        .as(Seq("chunk_id", textCol)))

  /** Quality score in [0,1]: blend of length, alpha ratio, punctuation
    * ratio and mean word length (LLM-pipeline quality heuristics).
    */
  def qualityScore(text: Column): Column = {
    // all four counts from ONE byte pass (TextCountKernel — the former
    // form ran two regexp_replace passes plus a split per doc, and the
    // gate's pushed-down filter evaluated them a second time); the
    // blend arithmetic below is unchanged, so the rounded double is
    // bit-identical to the Column twin (TextCountSpec pins it)
    val c = graft.functions.HashF.textCounts(text)
    val n = c.getField("n_chars").cast("double")
    val alpha = c.getField("alpha").cast("double")
    val punct = c.getField("punct").cast("double")
    val words = c.getField("ws_words").cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val alphaRatio = when(n > 0, alpha / n).otherwise(0.0)
    val punctPenalty = when(n > 0, least(punct / n * 10.0, lit(1.0))).otherwise(0.0)
    val meanWord = when(words > 0, alpha / words).otherwise(0.0)
    val wordScore = least(meanWord / lit(8.0), lit(1.0))
    round(lenScore * 0.3 + alphaRatio * 0.4 + (lit(1.0) - punctPenalty) * 0.1 + wordScore * 0.2, 6)
  }

  /** Distinct 61-bit hashes of whitespace-token word n-grams — the
    * decontamination shingle basis. Unlike [[shingleHashes]] (built on
    * the reference's ≥3-letter tokenizer, which skips digits and 1–2
    * char words entirely), EVERY whitespace token participates: a
    * numeric difference breaks the shingle (no false "identical"
    * overlap on texts differing only in numbers) and numeric leakage
    * (math benchmarks, dates, quantities) is detectable. Tokens are
    * ASCII-lowercased; hashes are the cross-engine polyHash61 fold of
    * the space-joined n-gram — a native one-byte-pass kernel
    * ([[graft.functions.WsShingleHashKernel]]; its Column twin
    * `SpecTwins.wsShingleHashesHof` measured ~20–35× slower as the
    * operative path).
    */
  def wsShingleHashes(text: Column, n: Int): Column = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    graft.functions.HashF.wsShingleHash61(text, n)
  }

  /** Repetition quality signals (the Gopher/RefinedWeb heuristic
    * family — repetitious documents are the dominant low-quality class
    * the length/punct blend of [[qualityScore]] misses): struct of
    * duplicate-line fraction (by count and by character mass) and
    * top word-bigram/-trigram occurrence fraction. One byte pass, no
    * string materialization ([[graft.functions.RepetitionKernel]]);
    * composes into the same fused Project as the other per-doc scores.
    */
  def repetitionSignals(text: Column): Column =
    graft.functions.HashF.repetitionStats(text)

  /** PII redaction for training corpora (the C4/Dolma-style scrub):
    * masks e-mail addresses, international/US phone numbers, IPv4
    * addresses, and US SSNs with fixed placeholder tokens. Native
    * staged byte-scan kernel ([[graft.functions.PiiRedactKernel]] —
    * the four chained regex passes it replaces were the pipeline
    * family's dominant per-byte cost); `SpecTwins.redactPiiHof` is the
    * regexp_replace chain it reproduces. Order
    * matters (e-mail before phone so a numeric local-part is not
    * half-eaten, SSN before phone so the more specific \d3-\d2-\d4
    * shape wins). Patterns are deliberately conservative (anchored on
    * non-alnum boundaries) — a redactor that over-fires destroys clean
    * text, and recall tuning belongs to a deployment's own pattern set.
    * One accepted ambiguity: a 4-component dotted version string
    * ("2.5.1.3") is syntactically an IPv4 address and WILL be masked —
    * no octet-shaped pattern can separate the two; 3-component and
    * 5+-component dotted numbers survive.
    */
  def redactPii(text: Column): Column =
    graft.functions.HashF.redactPii(text)

  /** Stopword-count language ID over {en, es, de, fr, zh} — native
    * kernel ([[graft.functions.LangKernel]]); `SpecTwins.langIdHof` is
    * the Column twin for the equivalence spec.
    */
  def langId(text: Column): Column = graft.functions.HashF.langId(text)

  /** Polynomial rolling-hash document fingerprint over the printable-ASCII
    * projection of the lowercased text, mod 1e9+7 so the arithmetic never
    * exceeds 63 bits (portable: no engine-specific overflow wrapping).
    * acc = (acc·31 + codepoint) mod p; empty text → 0. Native one-byte-pass
    * kernel ([[graft.functions.FingerprintKernel]] — no lowercase copy, no
    * regex, no per-char string boxing); `SpecTwins.fingerprintHof` is the
    * Column twin for the equivalence spec.
    */
  def fingerprint(text: Column): Column =
    graft.functions.HashF.fingerprint(text)

  /** Shingles straight from text — native one-pass kernel
    * ([[graft.functions.ShingleKernel]]); `SpecTwins.shinglesOf` is the
    * Column fold twin for the equivalence spec.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.HashF.wordShingles(text, n)

  /** 61-bit poly hashes of the word shingles, fused into ONE byte-pass
    * over the raw text (no lowercase copy, no regex, no shingle-string
    * materialization — [[graft.functions.ShingleHashKernel]]). Equal to
    * `explode(wordShingles) → polyHash61` as a multiset, modulo per-doc
    * dedup landing on the 61-bit value instead of the string (~2⁻⁶¹ per
    * intra-doc shingle pair). The near-dup pipeline heads run on this.
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.HashF.shingleHash61(text, n)
}
