package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: drop training documents that leak
  * evaluation-set n-grams (the standard companion to near-dup removal
  * in an LLM training-data pipeline; no reference analog —
  * SURVEY.md §2.10's pipeline mandate).
  *
  * Semantics: a corpus document is contaminated when the fraction of
  * its DISTINCT word-`shingleWidth`-gram hashes that also occur
  * anywhere in the benchmark exceeds `maxOverlap`. The default
  * `maxOverlap = 0.0` is the strict "any shared n-gram" rule; widths
  * of 8–13 words are the published range (the wider the n-gram, the
  * fewer coincidental collisions). N-grams are over WHITESPACE tokens
  * ([[TextOps.wsShingleHashes]]) — digits and short words count, so a
  * numeric difference breaks the shingle (texts differing only in
  * numbers do NOT read as identical) and numeric leakage is caught.
  *
  * Scale shape (the 100 TB story): the BENCHMARK side is small by
  * construction (an eval suite is at most ~10⁷ distinct n-grams — tens
  * of MB of 61-bit hashes), so it is `broadcast()` after a distinct;
  * the corpus side is one scan through the shingle head, an explode,
  * and a broadcast hash join — corpus rows are NEVER shuffled for the
  * membership test. The only shuffle is the per-doc hit count, whose
  * input is the JOIN OUTPUT: clean documents contribute zero rows, so
  * the exchanged volume is proportional to the contamination, not the
  * corpus. The final removal is a left-anti join against the flagged
  * id list, which AQE broadcasts when small (the expected case).
  *
  * The "corpus never shuffled" invariant holds UP TO the broadcast
  * ceiling. Round 15 made the forced broadcast size-aware: a caller
  * handing a corpus-PROPORTIONAL "benchmark" (a measured 2%
  * corpus slice measured the shape monotone but the driver relation
  * grows without bound) gets a SHUFFLE_HASH membership join instead —
  * the corpus exchanges once on the gram hash rather than building a
  * past-threshold driver relation. The probe is one cheap length agg
  * over the benchmark (distinct grams ≤ whitespace tokens ≤
  * (chars+1)/2 — errs high; eval-suite-sized benchmarks sit far under
  * threshold, so the expected-case plan keeps the literal broadcast
  * byte-for-byte).
  */
object Decontaminate {

  /** Size probe for the bench side: estimated in-memory bytes of the
    * exploded gram frame, from one cheap agg over the benchmark text.
    */
  private def benchBig(benchmark: DataFrame, benchTextCol: String,
                       rowBytes: Long): Boolean = {
    val thresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(benchmark.sparkSession)
    val r = benchmark.agg(sum(length(col(benchTextCol)))).head()
    val chars = if (r.isNullAt(0)) 0L else r.getLong(0)
    thresh < 0 || (chars + 1) / 2 * rowBytes > thresh
  }

  private def benchSide(bench: DataFrame, big: Boolean): DataFrame =
    if (big) bench.hint("SHUFFLE_HASH") else broadcast(bench)

  /** Per-document contamination report: one row per corpus document
    * sharing ≥ 1 shingle hash with the benchmark — (id, n_shingles,
    * hits, overlap = hits / n_shingles). Documents with no shared
    * shingle (or too short to form one) emit NO row.
    */
  def report(corpus: DataFrame, idCol: String, textCol: String,
             benchmark: DataFrame, benchTextCol: String,
             shingleWidth: Int = 8): DataFrame = {
    val big = benchBig(benchmark, benchTextCol, rowBytes = 24L)
    val bench = benchmark
      .select(explode(TextOps.wsShingleHashes(col(benchTextCol), shingleWidth)).as("__h"))
      .distinct()
    corpus
      .select(col(idCol).as("__id"),
        TextOps.wsShingleHashes(col(textCol), shingleWidth).as("__hs"))
      .select(col("__id"), size(col("__hs")).as("n_shingles"),
        explode(col("__hs")).as("__h"))
      .join(benchSide(bench, big), "__h")
      // n_shingles is functionally dependent on __id; grouping on both
      // avoids a first() aggregate
      .groupBy(col("__id").as(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("overlap", col("hits") / col("n_shingles"))
  }

  /** The INVERSE report — contamination attributed to the benchmark
    * side: one row per benchmark item sharing ≥ 1 distinct
    * `shingleWidth`-gram with any corpus document — (benchIdCol,
    * n_grams = the item's distinct gram count, grams_hit = how many of
    * them occur in the corpus, coverage = grams_hit / n_grams, n_docs =
    * distinct corpus documents sharing ≥ 1 gram). The eval-integrity
    * audit: [[report]] answers "which training docs must go",
    * this answers "which benchmark items are already burned, and how
    * badly". Clean items emit NO row.
    *
    * Same scale shape as [[report]]: the benchmark's (item, gram) pairs
    * broadcast; the corpus is one scan through the shingle head and a
    * broadcast join whose OUTPUT — hit rows only — is all that
    * shuffles into the per-item aggregate.
    */
  def benchReport(corpus: DataFrame, idCol: String, textCol: String,
                  benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
                  shingleWidth: Int = 8): DataFrame = {
    val big = benchBig(benchmark, benchTextCol, rowBytes = 40L)
    val bench = benchmark
      .select(col(benchIdCol),
        array_distinct(TextOps.wsShingleHashes(col(benchTextCol), shingleWidth)).as("__hs"))
      .select(col(benchIdCol), size(col("__hs")).as("n_grams"),
        explode(col("__hs")).as("__h"))
    corpus
      .select(col(idCol).as("__doc"),
        explode(array_distinct(TextOps.wsShingleHashes(col(textCol), shingleWidth))).as("__h"))
      .join(benchSide(bench, big), "__h")
      // n_grams is functionally dependent on the item id; grouping on
      // both avoids a first() aggregate
      .groupBy(col(benchIdCol), col("n_grams"))
      .agg(countDistinct(col("__h")).as("grams_hit"),
        countDistinct(col("__doc")).as("n_docs"))
      .withColumn("coverage", col("grams_hit") / col("n_grams"))
  }

  /** The corpus minus documents whose benchmark n-gram overlap exceeds
    * `maxOverlap` (default 0.0 = any shared `shingleWidth`-gram drops
    * the document). Column set of `corpus` is preserved.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    shingleWidth: Int = 8, maxOverlap: Double = 0.0): DataFrame = {
    val flagged = report(corpus, idCol, textCol, benchmark, benchTextCol, shingleWidth)
      .where(col("overlap") > maxOverlap)
      .select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
