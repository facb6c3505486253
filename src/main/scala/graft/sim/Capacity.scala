package graft.sim

/** Capacity-∝-corpus parameter chooser for the approximate near-dup /
  * ANN family — the single place a deployment gets the configurations
  * the ×10/×30/×81 scale stress proved near-linear, instead of the
  * fixed catalog constants that were MEASURED quadratic once the corpus
  * outgrew their collision floor (round-9 stress: 64-bit simhash ratio
  * 158 at ×81 vs linear 81; 2¹²-bucket LSH ratio 95):
  *
  *  - banded/bucketed candidate generation does ~N²/capacity pair work
  *    at fixed capacity (buckets, per-band value space, IVF lists);
  *  - growing capacity ∝ N keeps per-bucket occupancy — and with it the
  *    b² pair work per bucket — constant, restoring ~linear scaling.
  *
  * Every rule is anchored to the sf0.1 reference corpus the recall
  * specs pin (2 000 embeddings, 5 000 documents) and degenerates to the
  * catalog configuration there, so "choose from your row count" and
  * "what the oracle checked" agree at the base scale. The per-decade
  * scale runs recorded in LEDGER.md took their overrides from THESE
  * rules, so the chooser's outputs are exactly the configurations
  * measured there.
  */
object Capacity {

  /** sf0.1 embeddings row count — the reference scale of the spec-pinned
    * recall numbers (s_lsh / s_ivf2 / t_embdup ≥ 0.9).
    */
  val RefEmbeddingRows = 2000L

  /** sf0.1 documents row count — the reference scale of the simhash
    * banding measurements.
    */
  val RefDocumentRows = 5000L

  /** ⌈log₂(rows / baseRows)⌉ clamped at ≥ 0 — the number of capacity
    * doublings a corpus of `rows` needs over the reference scale.
    */
  def doublings(rows: Long, baseRows: Long): Int = {
    require(rows > 0 && baseRows > 0, s"rows=$rows baseRows=$baseRows")
    // integer arithmetic, not ceil(log/log): FP log division reads
    // 29.000000000000004 for an exact 2²⁹ ratio, off-by-one at the very
    // power-of-two corpus sizes the rule claims to pin. With
    // c = ⌈rows/baseRows⌉ and x the real ratio, x and c share the same
    // (2^(j−1), 2^j] bracket (2^j is an integer ≥ x ≥ c > 2^(j−1)), so
    // ⌈log₂ c⌉ = ⌈log₂ x⌉ exactly.
    // division-form ceiling: rows + baseRows - 1 would overflow Long for
    // rows near Long.MaxValue and silently return 0 doublings
    val c = rows / baseRows + (if (rows % baseRows == 0) 0 else 1)
    if (c <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(c - 1)
  }

  /** Hyperplane count per LSH table: `basePlanes` at the reference
    * corpus, +1 per corpus doubling (2^planes buckets ∝ rows keeps
    * expected occupancy constant). Per-table recall drops with each
    * added plane — deployments offset with more `tables`; the chooser
    * grows planes only, as the LEDGER.md scale runs did, which makes
    * their measured ratios a conservative (lower-recall, same-cost) bound.
    * Defaults match [[Similarity.lshTopK]] / `e_annstream` (12 planes at
    * 2 000 rows); pass basePlanes = 8 for [[Similarity.cosineDups]].
    */
  def lshPlanes(corpusRows: Long, basePlanes: Int = 12,
                baseRows: Long = RefEmbeddingRows): Int =
    basePlanes + doublings(corpusRows, baseRows)

  /** IVF coarse-quantizer list count: lists ∝ corpus at a fixed target
    * list SIZE (the classic IVF rule — fixed lists mean (c·N₀)²/nLists
    * probe-verify work). 125 rows/list is the catalog reference
    * (16 lists at 2 000 rows); `minLists` keeps tiny corpora at the
    * spec-pinned configuration.
    *
    * SCALE CAVEAT (the round-12 verdict's "last quadratic"): growing
    * lists ∝ corpus keeps PAIR work linear but makes the single-level
    * ASSIGNMENT N·nLists = N²/125 full-dimension distance evaluations
    * — measured as ~430 s of t_semdedup's 484 s at the ×729 stress
    * decade, breaching the gate one decade later. A corpus whose rule
    * output crosses [[TwoLevelListsCutoff]] should run the TWO-LEVEL
    * scope instead ([[graft.sim.Semantic.semanticDupsTwoLevel]] with
    * [[twoLevelNLists]]) — an in-engine hierarchical quantizer at
    * (1+cProbe)·√nLists work per row, NOT a deployment topology (the
    * pre-round-13 scaladoc adjudicated it out of engine scope; the
    * ×729 measurements no longer support that reading, so the
    * algorithm was built). `maxLists` (2²⁰) stays as the single-level
    * family's hard bound — past it list size grows linearly instead —
    * and keeps the count in Int range (the un-capped rule at 10¹² rows
    * overflowed — caught by CapacitySpec).
    */
  def ivfNLists(corpusRows: Long, rowsPerList: Long = 125L,
                minLists: Int = 16, maxLists: Int = 1 << 20): Int = {
    require(corpusRows > 0 && rowsPerList > 0)
    val lists = (corpusRows + rowsPerList - 1) / rowsPerList
    math.min(maxLists.toLong, math.max(minLists.toLong, lists)).toInt
  }

  /** Above this single-level list count the N·nLists assignment
    * arithmetic dominates the job (at the 125 rows/list rule this is a
    * ~256 k-row corpus — the third stress decade) and the two-level
    * scope is the configuration a deployment should run. Below it the
    * flat op's exact scope is affordable and stays the default.
    */
  val TwoLevelListsCutoff = 2048

  /** List count for the TWO-LEVEL scope: the [[ivfNLists]] rule at
    * rowsPerList ≈ 125/cProbe. Each vector holds `cProbe` memberships,
    * so cProbe× the lists at 1/cProbe the size keeps per-list occupancy
    * — and with it the per-list candidate-pair work — at the flat
    * rule's 125-row target; measured on the seeded isotropic corpus
    * this ALSO improves planted-pair recall (0.969 at cProbe = 2 vs
    * the flat scope's 0.879 — the recall table in
    * [[graft.sim.Semantic.semanticDupsTwoLevel]]).
    */
  def twoLevelNLists(corpusRows: Long, cProbe: Int = 2,
                     minLists: Int = 16, maxLists: Int = 1 << 20): Int = {
    require(cProbe >= 1, s"cProbe must be >= 1, got $cProbe")
    ivfNLists(corpusRows,
      rowsPerList = math.max(1L, (125L + cProbe - 1) / cProbe),
      minLists = minLists, maxLists = maxLists)
  }

  /** Corpus-row boundary past which LSH TOP-K routes to the IVF family
    * ([[lshTopKRoutesToIvf]], consumed by
    * [[graft.sim.Similarity.lshTopKAuto]]) — the round-13 measured LAW
    * made programmatic (round-13 verdict #3, so a deployment cannot
    * walk off the documented cliff through the Auto API).
    *
    * The law (instrumented at the ×2187 stress decade, 4.374 M rows):
    * on a corpus with Θ(N²) MODERATE-cosine pairs, a pair at angle θ
    * collides per table with probability (1−θ/π)^planes, so the
    * +1-plane-per-doubling capacity rule dilutes such pairs by only
    * (1−θ/π)² ≈ 0.4–0.6 per doubling while their count grows 4× —
    * candidate mass grows ×4·(1−θ/π)² > 1 per doubling BY LAW. At
    * 4.374 M rows the bucket join emitted 3.19e9 candidate occurrences
    * (52 GB) with max bucket 5 305 — no `maxBucket` cap removes the
    * mass without destroying recall (it sits in ~3 500 mid-size buckets
    * and the colliding pairs ARE similar-ish: the same collision
    * physics that gives LSH recall). The committed five-decade envelope
    * ends at ×729 = 1.458 M rows (56.3 s, ratio 112); the cutoff is the
    * geometric midpoint of the last proven decade and the measured
    * death — past it [[graft.sim.Similarity.ivfTopKTwoLevelAuto]] owns
    * corpus-scale top-k (candidates bounded per query BY CONSTRUCTION:
    * nProbe · rowsPerList, immune to the collision law). lshTopK stays
    * the right op below the boundary and for high-threshold NEAR-DUP
    * candidate generation at any scale ([[graft.sim.Similarity
    * .cosineDups]] — thresholded survival keeps its stream linear,
    * proven to ×2187).
    */
  val LshTopKMaxRows: Long = 2 * 729L * RefEmbeddingRows // 2,916,000

  /** True when a corpus of `rows` is past [[LshTopKMaxRows]] and the
    * Auto top-k entry point must run the IVF family instead.
    */
  def lshTopKRoutesToIvf(corpusRows: Long): Boolean = {
    require(corpusRows > 0, s"corpusRows=$corpusRows")
    corpusRows > LshTopKMaxRows
  }

  /** Whether to run simhash near-dup at the 124-bit width
    * ([[graft.text.NearDup.simHashPairs128]]) instead of the 64-bit
    * oracle-checked op: the 64-bit/9-band per-band space is 2⁷, whose
    * ~N²/2⁷ random-collision floor measured super-linear past ~×30 of
    * the reference corpus (≈150 k docs) at the round-9 stress; the
    * 124-bit carving (≥2¹² per band) stayed near-linear through ×81.
    */
  def simHashWide(corpusRows: Long, baseRows: Long = RefDocumentRows): Boolean =
    corpusRows > 30L * baseRows

  /** Per-partition byte budget for a big-regime SHUFFLE_HASH build side
    * ([[graft.sim.Similarity]]'s bounded hash joins). A shuffled-hash
    * build map is pinned on-heap for the whole stage and CANNOT spill
    * (`LongToUnsafeRowMap` grows by array doubling until the allocation
    * itself fails) — so at a fixed partition count the per-partition
    * build is ∝ corpus and eventually kills the executor outright
    * instead of degrading. Measured (round 15): the ×6561 stress decade
    * (13.1 M vectors, P = 32) died with `OutOfMemoryError` inside
    * `ShuffledHashJoinExec.buildHashedRelation` on t_semdedup2's
    * membership self-join — ~26 M build rows × ~140 B ≈ 115 MB per
    * partition × 32 concurrent tasks plus doubling transients exceeded
    * the 24 GB heap that had carried every decade through ×2187. On a
    * real cluster the same arithmetic holds per executor core: any SHJ
    * whose build side grows with the corpus at fixed parallelism is a
    * latent OOM, which is why the bounded joins raise the JOIN's
    * partition count (both sides repartitioned on the join key — the
    * exchange the join needed anyway, just wider) once the estimated
    * build bytes exceed this budget × the session partition count.
    * 96 MB: ≤ ~3 GB of concurrent build memory at 32 cores with ~2×
    * headroom for growth transients, while every LEDGER.md scale row
    * at ×729 and below — and all but t_embdup's at ×2187 — prices
    * UNDER `parts × budget` and keeps its plan byte-identical.
    */
  val ShjBuildBytesPerPartition: Long = 96L << 20
}
