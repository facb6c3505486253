package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document line-level deduplication: remove lines whose trimmed
  * text recurs across `minDocs`-or-more distinct documents — the
  * C4/CCNet boilerplate scrub (navigation bars, cookie banners, license
  * headers) that document-level dedup cannot catch, because the
  * documents AROUND the repeated lines differ. The standard companion
  * stage between PII redaction and document-level dedup in an LLM
  * training-data pipeline (no reference analog — SURVEY.md §2.10's
  * pipeline mandate).
  *
  * Semantics: a line is boilerplate when its TRIMMED text (leading and
  * trailing whitespace ignored, content otherwise verbatim) occurs in at
  * least `minDocs` distinct documents; every occurrence is then removed
  * from every document, and the survivors are rejoined with newlines in
  * their original order. Lines whose trimmed length is below
  * `minLineChars` are exempt — they can never be counted or dropped
  * (blank lines and one-character list markers recur everywhere without
  * being boilerplate). The frequency key is the trimmed line ITSELF,
  * not a hash of it: a 64-bit hash key would collide at corpus scale
  * (~10¹¹ distinct lines ≫ birthday bound) and silently delete innocent
  * lines — the same reasoning as [[CorpusPipeline.clean]]'s dedup key.
  *
  * Scale shape (the 100 TB story): the corpus pays exactly ONE
  * corpus-sized exchange — the distinct (line, doc) pairs feeding the
  * frequency count, where map-side partial aggregation collapses
  * repeats before anything crosses the wire. Everything downstream is
  * proportional to the BOILERPLATE, not the corpus: the frequent-line
  * set (aggregate output, AQE-broadcast in the expected case) joins
  * back against the line stream to emit hit (doc, pos) rows only, and
  * only documents with ≥ 1 hit are re-assembled — a clean document's
  * text column never moves, because the final patch join broadcasts the
  * small rebuilt set against the original frame rather than shuffling
  * the corpus through a groupBy.
  */
object LineDedup {

  private def linesOf(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))

  /** ASCII whitespace trimmed off both ends for the frequency key —
    * EXPLICIT char set, because Spark's one-arg `trim` strips spaces
    * only: a CRLF corpus leaves '\r' on every split line, and a
    * tab-indented copy of a banner must still match its space-indented
    * twin. The set is the full ASCII \s family minus '\n' (the line
    * separator itself, already consumed by split) — the same whitespace
    * convention the Chunk/NgramLm/WsShingle kernels standardized on,
    * vertical tab included.
    */
  // \u000B spelled as an escape: Scala has no \v, and a raw VT byte in
  // the literal is invisible to review (round-11 ADVICE asked for VT
  // here — it was present but unreadable)
  private val TrimChars = " \t\r\u000B\f"

  private def candidateKey(minLineChars: Int): Column = {
    val t = trim(col("__line"), TrimChars)
    when(length(t) >= minLineChars, t) // null (never joins) when exempt
  }

  /** Column names this operator uses internally around the patch join;
    * a caller column with one of these names would be silently consumed
    * (drop-by-name drops ALL matches), so they are rejected up front.
    */
  private val Reserved =
    Seq("__id", "__pos", "__line", "__key", "__newtext", "__removed")

  /** Diagnostic report: the boilerplate lines themselves — one row per
    * trimmed line text occurring in ≥ `minDocs` distinct documents,
    * with its document count. Columns: `line`, `n_docs`.
    */
  def frequentLines(corpus: DataFrame, idCol: String, textCol: String,
                    minDocs: Int = 2, minLineChars: Int = 4): DataFrame = {
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    linesOf(corpus, idCol, textCol)
      .select(candidateKey(minLineChars).as("line"), col("__id"))
      .where(col("line").isNotNull)
      .distinct() // per-document: within-doc repeats count once
      .groupBy("line").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }

  /** The corpus with boilerplate lines removed: `textCol` is replaced by
    * the surviving lines rejoined with '\n' in original order (documents
    * whose every line is boilerplate keep an empty text), and a
    * `lines_removed` count is appended. All other columns pass through.
    * The internal hit set stays persisted while the returned frame is
    * live; use [[dedupLinesWithRelease]] when cleaning many corpora in
    * one session.
    */
  def dedupLines(corpus: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 2, minLineChars: Int = 4): DataFrame =
    dedupLinesWithRelease(corpus, idCol, textCol, minDocs, minLineChars)._1

  /** [[dedupLines]] plus a release handle that unpersists the internal
    * hit-set cache (the [[NearDup.minHashDedupWithRelease]] shape) —
    * call it after materializing the result; later re-evaluations of
    * the returned frame stay correct, they just recompute the hits.
    */
  def dedupLinesWithRelease(corpus: DataFrame, idCol: String, textCol: String,
                            minDocs: Int = 2, minLineChars: Int = 4): (DataFrame, () => Unit) = {
    require(!corpus.columns.contains("lines_removed"),
      "input already has a 'lines_removed' column — drop or rename it first")
    Reserved.foreach(r => require(!corpus.columns.contains(r),
      s"column name '$r' is reserved by dedupLines — rename it first"))
    val frequent = frequentLines(corpus, idCol, textCol, minDocs, minLineChars)
      .select(col("line").as("__key"))
    // hit (doc, pos) rows only: clean documents contribute nothing past
    // this join (the Decontaminate membership shape). Persisted: three
    // consumers (affected-id semi join, kept-line anti join, removal
    // counts) would each re-derive the whole frequency subtree — two
    // extra corpus passes — and the hit set is ∝ boilerplate, not the
    // corpus.
    val hits = linesOf(corpus, idCol, textCol)
      .join(frequent, candidateKey(minLineChars) === col("__key"))
      .select(col("__id"), col("__pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Broadcast-lie guard (round 15, the minhash-fix sweep): `hits` and
    // the frames derived from it (`rebuilt`, `removed`) are ∝
    // boilerplate — corpus-proportional on any corpus with prevalent
    // repeated lines — and their repetitive long/prefix streams
    // lz4-compress far below the 64 MB threshold, so AQE's
    // compressed-size re-plan can broadcast them (broadcast
    // census: the ×243 stress corpus ran ALL TEN joins as broadcasts,
    // including the patch joins whose build side carries the REBUILT
    // DOCUMENT TEXT of ~1.2 M affected docs, and read 14.7 s where
    // ×729's SMJ plan read 12.0 s — wall non-monotone in corpus size).
    // The probe is EXACT: one count on the persisted hit set — unlike
    // the minhash probe this op has no catalog query, so eagerly
    // materializing the persist its three consumers share costs
    // nothing extra. The patch-join estimate errs HIGH: rebuilt rows ≤
    // min(hits, docs) and a rebuilt text ≤ its original text, priced
    // at the corpus mean doc length from one cheap length agg.
    val bcastThresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(corpus.sparkSession)
    val nHits = hits.count()
    val hitsBig = bcastThresh < 0 || nHits * 24L > bcastThresh
    // the patch decision is INDEPENDENT of the hit-set one: rebuilt
    // rows carry document TEXT, so the frame prices past the threshold
    // long before the 24 B/row hit set does (first cut gated it behind
    // hitsBig and the ×243 census still showed the ~1 GB rebuilt frame
    // broadcast)
    val patchBig = bcastThresh < 0 || (nHits > 0 && {
      val probe = corpus.agg(count(lit(1)), sum(length(col(textCol)))).head()
      val nDocs = probe.getLong(0)
      val avgDoc = if (probe.isNullAt(1) || nDocs == 0) 0L
        else probe.getLong(1) / math.max(1L, nDocs)
      math.min(nHits, nDocs) * (24L + avgDoc) > bcastThresh
    })
    def noBcastHits(df: DataFrame): DataFrame =
      if (hitsBig) df.hint("MERGE") else df
    def noBcastPatch(df: DataFrame): DataFrame =
      if (patchBig) df.hint("MERGE") else df
    // re-assemble ONLY the affected documents: their kept lines, sorted
    // back into document order (array_sort on (pos, line) structs orders
    // by pos; pos is unique within a document)
    val rebuilt = linesOf(corpus, idCol, textCol)
      .join(noBcastHits(hits.select(col("__id")).distinct()), Seq("__id"), "left_semi")
      .join(noBcastHits(hits), Seq("__id", "__pos"), "left_anti")
      .groupBy("__id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("__newtext"))
    val removed = hits.groupBy("__id").agg(count(lit(1)).as("__removed"))
    // patch join: the rebuilt/removed sides are ∝ boilerplate and
    // AQE-broadcast in the expected case (small hit set → hint absent,
    // plans byte-identical); untouched rows keep their original text
    // column byte-for-byte
    val outCols = corpus.columns.map {
      case c if c == textCol =>
        when(col("__removed").isNotNull, coalesce(col("__newtext"), lit("")))
          .otherwise(col(textCol)).as(textCol)
      case c => col(c)
    } :+ coalesce(col("__removed"), lit(0L)).as("lines_removed")
    val out = corpus
      .join(noBcastPatch(rebuilt), col(idCol) === rebuilt("__id"), "left")
      .drop("__id")
      .join(noBcastPatch(removed), col(idCol) === removed("__id"), "left")
      .select(outCols.toIndexedSeq: _*)
    (out, () => { hits.unpersist(); () })
  }
}
