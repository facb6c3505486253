package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for the LLM-data pipeline surface:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, and SimHash — all
  * expressed as declarative DataFrame plans (SURVEY.md §7.2 step 8).
  *
  * Scale shape: MinHash/SimHash are per-row maps (no shuffle); candidate
  * generation is an equi-join on (band, bucket) — the only shuffle — and
  * verification touches candidate pairs only. Brute-force pairwise compare
  * appears solely inside the Jaccard verifier on candidates.
  */
object NearDup {

  /** MinHash signature (DEFAULT = the cross-engine polynomial hash, so
    * the whole minhash pipeline is oracle-checkable in DuckDB): element s
    * is the min over shingles of a double-Lehmer mix of the shingle's
    * 61-bit poly hash.
    */
  def minHashSig(shingles: Column, numHashes: Int): Column =
    graft.functions.HashF.minhashPolySig(shingles, numHashes)

  /** LSH banding: (docId, band, bucket) rows; docs sharing any
    * (band, bucket) become candidate pairs. The bucket is the signature
    * SLICE itself (array equality join key) — no re-hash, so the banding
    * replays verbatim in the SQL oracle.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand).as("bucket"))
    }
    df.select(col(idCol), explode(array(bandRows: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate pairs (idA < idB) from shared LSH buckets, deduped.
    *
    * `noBroadcast = true` pins the self-join out of broadcast with
    * MERGE (sort-merge) hints (AQE honors user hints; SHUFFLE_HASH was
    * tried first and OOM'd at the ×729/×2187 decades — its
    * per-partition build maps grow as N/P while the local stress fixes
    * P = 32, whereas SMJ spills gracefully and is the exact plan the
    * fast ×729 run executed) — see the broadcast-lie
    * note in [[minHashDedupWithRelease]], which passes it from an EXACT
    * row-count probe: band signatures are repetitive longs that lz4
    * compresses far below their in-memory size, so AQE's runtime
    * re-plan — reading COMPRESSED shuffle bytes against the broadcast
    * threshold — materializes a BroadcastQueryStage whose
    * corpus-proportional BytesToBytesMap relation builds single-threaded
    * on the driver (jstack-caught, round 14: a 19.4 M-row build+
    * serialize burned ~40 s of t_minhash's 81 s wall at the ×243 stress
    * decade while every committed stage summed to ~32 s; the ×729 run,
    * whose compressed stream happened to exceed the threshold, ran the
    * same join as SMJ in 36 s — the measured non-monotonicity that
    * exposed this). The static plan-statistics gate used elsewhere
    * (Similarity.vectorSideTooBig) cannot work here: Catalyst's Generate
    * (explode) stats pass the CHILD's sizeInBytes through, so the banded
    * frame read 40 MB when its true size was ~850 MB.
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     noBroadcast: Boolean = false): DataFrame = {
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    def noBcast(df: DataFrame): DataFrame =
      if (noBroadcast) df.hint("MERGE") else df
    noBcast(a).join(noBcast(b), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni > 0, inter / uni).otherwise(0.0)
  }

  /** End-to-end MinHash near-dup: returns (id_a, id_b, jaccard) for
    * candidate pairs with verified exact Jaccard ≥ threshold.
    *
    * Verification never materializes shingle arrays per pair: shingles are
    * distinct per doc, so |A∩B| is a groupBy-count over matching
    * (pair, shingle) rows and |A∪B| = |A|+|B|−|A∩B| — linear in shared
    * shingles instead of quadratic array intersection per candidate.
    */
  def minHashDedup(docs: DataFrame, idCol: String, textCol: String,
                   shingleWidth: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.5): DataFrame =
    minHashDedupWithRelease(docs, idCol, textCol, shingleWidth, bands,
      rowsPerBand, threshold)._1

  /** [[minHashDedup]] plus a release handle for the persisted shingle
    * frame. The public op's returned pairs frame depends LAZILY on that
    * persist, so it must stay pinned for the session; a caller that
    * consumes the pairs EAGERLY (e.g. [[dupGroups]], whose size-probe
    * count materializes them) can call the handle afterwards to release
    * the cache instead of pinning one shingle frame per invocation —
    * [[CorpusPipeline.clean]] does exactly that.
    */
  private[graft] def minHashDedupWithRelease(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): (DataFrame, () => Unit) = {
    // the shingle fold is the expensive per-row kernel and feeds THREE
    // consumers (signatures, sizes, the exploded verify join) — persist it
    // once instead of recomputing the fold per branch (the round-1 plan
    // re-evaluated it 4x per doc, incl. the pushed-down size() filter).
    // r10: the fold is the FUSED ShingleHash61 head — one byte-pass over
    // the text emitting the cross-engine 61-bit poly hashes directly (no
    // lowercase copy, no regex, no shingle strings); the signature kernel
    // consumes the hashes (x = mod31(h), bit-equal to the string path —
    // FunctionsSpec), and the verify join explodes the same array, so
    // every downstream byte is a primitive long. Collisions, if any,
    // replay bit-for-bit in the DuckDB oracle's identical fold.
    // NOT width-pinned (re-tested round 9 after the Mersenne-fold kernel
    // speedup and the t_pipeline/t_simhash pin wins): pinning the fold
    // measured t_minhash 0.93 -> 1.08 s, t_dupgroups 1.49 -> 2.01 s —
    // the repartition exchange feeds a PERSIST, so its cost lands on the
    // serial materialization path while the fold it widens already
    // overlaps the candidate/verify shuffles (the original widening
    // A/B's verdict, still true).
    val sh = docs
      .select(col(idCol), TextOps.shingleHashes(col(textCol), shingleWidth).as("hs"))
      .where(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = sh.withColumn("sig",
      graft.functions.HashF.minhashPolySigHashes(col("hs"), bands * rowsPerBand))
    // Size probe for the broadcast-lie guard: when the banded or
    // exploded-shingle frame is big, the self-/verify joins are pinned
    // out of broadcast with MERGE hints. AQE's runtime re-plan reads
    // COMPRESSED shuffle bytes against the 64 MB threshold, and both
    // frames are repetitive longs that lz4 compresses far below their
    // in-memory size — at the ×243 stress decade AQE materialized a
    // BroadcastQueryStage whose 19.4 M-row relation built
    // single-threaded on the driver for ~40 s of t_minhash's 81 s wall
    // (jstack-caught; the candidatePairs scaladoc has the full
    // incident). The STATIC plan-statistics gate is unusable — Generate
    // (explode) stats pass the child's sizeInBytes through, reading
    // 40 MB for the ~850 MB banded frame — so the probe runs ONE cheap
    // eager pass over the raw text lengths (a first cut aggregated the
    // persisted shingle frame itself: exact, but it serialized the
    // shingle kernel + persist write onto the probe and read +0.3-0.9 s
    // per catalog query in the round-14 bench diff). chars/4 errs HIGH
    // BY THEOREM, not by natural-text statistics (round-15, replacing
    // the round-14 chars/5 estimate a dense 3-char-token corpus beat
    // by 1.25×): the kernel keeps only [a-zA-Z_] runs of ≥ 3 chars as
    // tokens, so every kept token consumes ≥ 3 chars plus a separator
    // (except the last) and DISTINCT shingle count ≤ shingle positions
    // ≤ kept tokens ≤ (chars+1)/4 — ProbeBoundSpec pins the bound on
    // the adversarial extremes (3-char floods, CJK no-space,
    // single-char floods, long words). The hint can only engage early —
    // and both decisions sit ≥ 7× from the threshold at the scales
    // that matter (sf0.1: banded ~3.5 MB, shingles ~9 MB vs 64 MB →
    // no hints, plans byte-identical; ×243: ~0.85/2.1 GB → hints).
    val probe = docs.agg(count(lit(1)), sum(length(col(textCol)))).head()
    val nDocs = probe.getLong(0)
    val nShingles = if (probe.isNullAt(1)) 0L else (probe.getLong(1) + 1) / 4
    val bcastThresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(docs.sparkSession)
    val bandedBytes = nDocs * bands * (8L + 4L + 8L * rowsPerBand + 16L)
    val exByts = nShingles * (8L + 8L + 16L)
    val bandsBig = bcastThresh < 0 || bandedBytes > bcastThresh
    val exBig = bcastThresh < 0 || exByts > bcastThresh
    val cands = candidatePairs(lshBands(sig, idCol, "sig", bands, rowsPerBand), idCol,
      noBroadcast = bandsBig)
    val sizes = sh.select(col(idCol), size(col("hs")).as("nsh"))
    val ex = sh.select(col(idCol), explode(col("hs")).as("h"))
    def noBcast(df: DataFrame): DataFrame = if (exBig) df.hint("MERGE") else df
    val inter = cands
      .join(noBcast(ex.select(col(idCol).as("id_a"), col("h"))), "id_a")
      .join(noBcast(ex.select(col(idCol).as("id_b"), col("h"))), Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    // sizes stays un-hinted: one 12-byte row per doc — its broadcast
    // build is sub-second at any decade measured, and hinting it would
    // force a shuffle of the (small) verified-pair stream for nothing
    val verified = inter
      .join(sizes.select(col(idCol).as("id_a"), col("nsh").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("nsh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
    (verified, () => { sh.unpersist(blocking = false); () })
  }

  /** Near-duplicate CLUSTERS from verified pair output — the corpus-dedup
    * step that turns pairwise matches into keep/drop decisions: connected
    * components over the (id_a, id_b) pair graph (transitive closure —
    * A≈B and B≈C put A,B,C in one group even if A,C never matched), each
    * doc mapped to its group's smallest id as the canonical keeper.
    * Returns (doc_id, keep_id, group_size); docs with no near-dup are
    * absent (they keep themselves). Above `maxLocalEdges`, min-label
    * propagation — distributed, rounds bounded by the largest group's
    * diameter, which for dedup graphs is small (clusters are
    * near-cliques).
    */
  def dupGroups(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                maxLocalEdges: Long = 200000L): DataFrame = {
    // the verified pairs are the OUTPUT of the whole minhash pipeline and
    // feed every CC round (or the local collect) — persist them so the
    // shingle/signature/verify chain runs once, not once per consumer
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dedup pair graphs are usually TINY relative to the corpus (the
    // near-dup rate is per-mille at web scale): within `maxLocalEdges`
    // the driver-local union-find replaces the min-label iteration's ~2
    // Spark actions + localCheckpoint per diameter round. The tier
    // decision's count materializes the persist.
    val out = graft.graph.Centrality.localOrDistributed(p, maxLocalEdges, "doc_id", "keep_id") {
      es =>
        // the local tier finishes LOCALLY: the union-find result is
        // already on the driver, so the group-size count and keep-join
        // are a hash map and a lookup — not two more Spark shuffles over
        // a ~100-row frame (r10)
        val comps = graft.graph.GraphOps.components(es)
        val sizes = comps.groupBy(_._2).map { case (c, xs) => (c, xs.length.toLong) }
        pairs.sparkSession.createDataFrame(comps.toSeq.map { case (n, c) => (n, c, sizes(c)) })
          .toDF("doc_id", "keep_id", "group_size")
    } {
      val comps = graft.graph.GraphOps.connectedComponents(p, maxLocalEdges = 0)
      val sizes = comps.groupBy("component").agg(count(lit(1)).as("group_size"))
      comps.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("keep_id"),
          col("group_size"))
    }
    // both tiers read the pairs eagerly (the collect, or the per-round
    // localCheckpoints), so the returned frame no longer depends on the
    // persist — release it instead of pinning one cached frame per call
    p.unpersist(blocking = false)
    out
  }

  /** 64-bit SimHash over word tokens: sign-sum of per-token hash bits.
    * Per-row map — no shuffle; near-dups share low Hamming distance.
    * DEFAULT = the cross-engine polynomial token hash (oracle-checkable;
    * bits 61-63 structurally zero — a 61-effective-bit simhash).
    */
  def simHash(text: Column): Column =
    // fused tokenizer→hash kernel (r16): the composed form split the
    // lowered text into a token-string array per doc just to hash each
    // token — the ShingleHashKernel lesson applied to simhash;
    // SimHashFusedSpec pins fused ≡ composed
    graft.functions.HashF.simhashPolyText(text)

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Broadcast-lie guard for the banded simhash self-joins (round 15,
    * extending the round-14 minhash fix per the verdict's sweep task):
    * the banded frame is nDocs × nBands rows of repetitive
    * (id, sig, band, bv) longs behind a Generate whose static stats
    * pass the CHILD's sizeInBytes through, and AQE's runtime re-plan
    * prices the lz4-COMPRESSED shuffle stream against the 64 MB
    * broadcast threshold — at the ×243 stress decade it materialized a
    * BroadcastQueryStage whose 10.9 M-row hash relation built on the
    * driver while the ×729 stream priced above threshold and ran SMJ
    * (broadcast census; the t_minhash incident's signature).
    * The probe is ONE cheap count over the docs frame (metadata-only on
    * a parquet scan); banded rows = nDocs × nBands EXACTLY, bytes
    * estimated at in-memory row width. Catalog scale sits ≥ 30× under
    * the threshold (sf0.1: ~2-3 MB vs 64 MB) → no hint, plans
    * byte-identical.
    */
  private def simHashBandedBig(docs: DataFrame, nBands: Int,
                               sigBytes: Int): Boolean = {
    val thresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(docs.sparkSession)
    val nDocs = docs.count()
    val bandedBytes = nDocs * nBands * (8L + sigBytes + 4L + 8L + 16L)
    thresh < 0 || bandedBytes > thresh
  }

  /** SimHash near-dup pairs (id_a < id_b, hamming ≤ `maxHamming`) via
    * pigeonhole banding: split the 64-bit signature into `maxHamming + 1`
    * bands — a pair within the Hamming budget cannot differ in every band,
    * so it matches at least one band EXACTLY. Candidates come from an
    * equi-join on (band, band_value) (shuffle on the band key — no O(n²)
    * cross join), then the exact Hamming verify runs on candidates only.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8): DataFrame = {
    val nb = maxHamming + 1
    val w = 64 / nb
    val bandsBig = simHashBandedBig(docs, nb, sigBytes = 8)
    // both sides of the band self-join read the signatures — persist so
    // the tokenize+simhash kernel runs once per doc, not twice.
    // pinWidth: the tokenize+simhash kernel is the plan's serial head and
    // ran at scan width (one task for the whole sf0.1 table — the scan is
    // byte-split, the kernel is CPU-dense); no-op on a wide corpus scan.
    val sigs = graft.core.Tables.pinWidth(docs)
      .select(col(idCol), simHash(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col(idCol), col("sig"),
      explode(array((0 until nb).map { bnd =>
        val width = if (bnd == nb - 1) 64 - w * (nb - 1) else w
        struct(lit(bnd).as("band"),
          shiftrightunsigned(col("sig"), w * bnd)
            .bitwiseAND(lit((1L << width) - 1)).as("bv"))
      }: _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.bv"))
    def noBcast(df: DataFrame): DataFrame =
      if (bandsBig) df.hint("MERGE") else df
    val pairs = noBcast(banded.as("a")).join(noBcast(banded.as("b")),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    pairs.select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 124-bit SimHash token column (array<long> of 2 halves) — the
    * corpus-scale signature width; see
    * [[graft.functions.HashKernels.simhashPoly128Text]].
    */
  def simHash128(text: Column): Column =
    // fused tokenizer→hash kernel (r16, see simHash)
    graft.functions.HashF.simhashPoly128Text(text)

  /** [[simHashPairs]] at the corpus-scale 124-bit signature width.
    *
    * Same pigeonhole: 9 bands (for maxHamming = 8) carved from the two
    * 62-bit halves — 5 bands of 12/13 bits from half 1, 4 bands of
    * 15/16 from half 2; a pair within the Hamming budget over the full
    * 124 bits differs in at most 8 bands, so it matches ≥ 1 exactly.
    * The per-band value space is ≥ 2¹² (vs the 64-bit op's 2⁷), which
    * moves the random-collision floor of banded candidate generation
    * from ~N²/2⁷ to ~N²/2¹² per band — the difference between the
    * ×81 stress measuring ratio 158 (64-bit, super-linear past ~×30)
    * and staying near-linear. Verification is exact Hamming over both
    * halves. Width choice mirrors IVF's nLists ∝ corpus rule: pick the
    * signature width whose collision floor stays below the corpus's
    * real near-dup rate.
    */
  def simHashPairs128(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 8): DataFrame = {
    require(maxHamming == 8, s"banding below is carved for maxHamming=8, got $maxHamming")
    // (half index 0/1, bit offset within half, width) for the 9 bands
    val bandCuts = Seq(
      (0, 0, 12), (0, 12, 12), (0, 24, 12), (0, 36, 13), (0, 49, 13),
      (1, 0, 15), (1, 15, 15), (1, 30, 16), (1, 46, 16))
    // array<long>(2) signature ≈ 24 B in-memory (see simHashBandedBig —
    // the round-15 broadcast-lie guard; a broadcast census caught the
    // ×243 banded self-join broadcasting a 10.9 M-row driver relation
    // while ×729 ran SMJ)
    val bandsBig = simHashBandedBig(docs, bandCuts.length, sigBytes = 24)
    val sigs = graft.core.Tables.pinWidth(docs)
      .select(col(idCol), simHash128(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col(idCol), col("sig"),
      explode(array(bandCuts.zipWithIndex.map { case ((half, off, w), bnd) =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(element_at(col("sig"), half + 1), off)
            .bitwiseAND(lit((1L << w) - 1)).as("bv"))
      }: _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.bv"))
    def noBcast(df: DataFrame): DataFrame =
      if (bandsBig) df.hint("MERGE") else df
    val pairs = noBcast(banded.as("a")).join(noBcast(banded.as("b")),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    pairs.select(col("id_a"), col("id_b"),
        (hamming(element_at(col("sig_a"), 1), element_at(col("sig_b"), 1)) +
         hamming(element_at(col("sig_a"), 2), element_at(col("sig_b"), 2))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs at the signature width chosen from the
    * corpus size ([[graft.sim.Capacity.simHashWide]]): the 64-bit
    * oracle-checked op below the measured ~×30 collision crossover,
    * the 124-bit carving above it. `corpusRows` is an explicit caller
    * estimate — no hidden `count()`. NOTE the widths hash differently,
    * so the pair SET (not just cost) can differ near the Hamming
    * budget's edge; both ops are spec'd against brute force at their
    * own width.
    *
    * The Hamming budget is fixed at 8 — the value both carved bandings
    * target (the 128-bit op `require`s it). No `maxHamming` knob here:
    * exposing one would make a non-8 budget a data-size-dependent crash
    * the moment the corpus estimate crosses the width crossover. A
    * caller needing a different budget picks a width explicitly — the
    * 64-bit [[simHashPairs]] honors any budget.
    */
  def simHashPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                       corpusRows: Long): DataFrame =
    if (graft.sim.Capacity.simHashWide(corpusRows))
      simHashPairs128(docs, idCol, textCol)
    else simHashPairs(docs, idCol, textCol)
}
