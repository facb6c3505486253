package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import scala.util.chaining._

/** Scale-stress harness (round-5 verdict #5): generate an sf≈1 dataset by
  * replicating sf0.1 `copies`× with RE-KEYED ids and DECORRELATED
  * content, then time the hot query families at both scales in one JVM
  * and assert near-linear growth (default: ≤ 12× for 10× data; override
  * with SPARK_GRAFT_STRESS_MAX).
  *
  * Decorrelation matters more than replication: a verbatim copy would
  * plant every document/vector as a 10-way cross-copy near-duplicate and
  * the dedup queries would go quadratic BY CONSTRUCTION, measuring the
  * generator rather than the engine. Instead each copy applies
  *   - documents: a per-copy character bijection (`translate` over FOUR
  *     disjoint alphabets, each under an independent Lehmer-coded FULL
  *     permutation — period 9! = 362,880, see the v6 note in `generate`
  *     for why the earlier rotation family planted cross-copy near-dups
  *     at distance 405) — shingle equality WITHIN a copy is exactly
  *     preserved (bijections preserve string equality), so each copy
  *     carries the original's planted near-dup structure, while
  *     cross-copy shingles almost surely differ;
  *   - embeddings: a per-copy AFFINE coordinate permutation (period
  *     dim²/2 = 2048 at dim 64; optional sign flips extend the family —
  *     exact FP isometries, so norms and within-copy cosines are
  *     preserved BIT-FOR-BIT while cross-copy cosines decorrelate);
  *   - events: key-space shift of user/event ids — 10× as-of key groups
  *     of the original series lengths;
  *   - orders/lineitem: key-space shift of order/customer/supplier ids —
  *     the bipartite customer→supplier graphs become 10 disjoint copies,
  *     so the graph family (HITS counts, link prediction) is measured at
  *     10× vertices and edges with per-copy structure preserved.
  *
  * Usage: runMain graft.ScaleStress [outDir]   (default /tmp/graft_sf1)
  * Generation is skipped when outDir already has documents.parquet.
  */
object ScaleStress {

  /** Balanced-tree union of the per-copy frames. The former left-deep
    * `reduce(_ unionAll _)` made Catalyst's eager per-call analysis
    * O(copies²) in branch visits — fine through ×2187 (minutes), but
    * the ×6561 generation pinned ONE driver core for >13 minutes inside
    * the analyzer before writing a byte (round 15, top/jstack-observed).
    * A balanced tree visits each leaf O(log copies) times instead;
    * union is associative and the grouping preserves left-to-right
    * branch order, so the produced ROWS are identical to the left-deep
    * form (cached `_GEN`-tagged dirs stay valid).
    */
  private def unionBalanced(dfs: Seq[DataFrame]): DataFrame = {
    def tree(xs: Seq[DataFrame]): DataFrame =
      if (xs.sizeIs == 1) xs.head
      else tree(xs.grouped(2).map {
        case Seq(a, b) => a.unionAll(b)
        case Seq(a) => a
      }.toSeq)
    val u = tree(dfs)
    // one write task per branch × source partition: at ×6561 the write
    // job's 6.5k serialized task RESULTS alone exceeded
    // spark.driver.maxResultSize (1 GB) — and 6.5k ~0.5 MB parquet
    // files are a bad layout for every downstream scan anyway. Bound
    // the task count (content unchanged; only file layout differs,
    // which the _GEN tag does not encode).
    if (dfs.sizeIs > 512) u.coalesce(512) else u
  }

  private val stressQueries =
    Seq("t_minhash", "t_dupgroups", "t_jaccard", "t_simhash", "t_pipeline",
      "s_lsh", "e_lshdup", "j2_asof", "g_hits", "g_linkpred",
      // flagship composed backtests (round-6 verdict #6): their input —
      // the orders aggregation — grows with copies while the permno
      // panel stays fixed (permno = custkey % 100 is shift-invariant),
      // so these stress the aggregation+drift pipeline at 10x raw rows
      "b1_backtest", "b2_bivariate",
      // round-7 verdict #6: the 3rd- and 2nd-slowest catalog queries —
      // the salted join's two-phase shuffle and the IVF probe's
      // broadcast crosses (s_ivf2 runs the scaled side with
      // nLists ∝ copies, see stressFn)
      "j15_salted", "s_ivf2",
      // round 9: the embedding near-dup family's scale path — the
      // catalog t_embdup is the declared exact twin on a bounded slice;
      // what a corpus actually runs is the LSH-bucketed cosineDups,
      // stressed here with the same log₂-grown plane rule as s_lsh —
      // and the streaming ANN candidate generator (same plane rule;
      // its bucket state is additionally size-capped + TTL'd)
      "t_embdup", "e_annstream",
      // round 12: the clustered semantic-dedup pair path — it shares
      // the rescore shape whose spill payload the float32 fix halved,
      // and round 11 left it with no stress row of its own (the
      // t_embdup watch item named it explicitly)
      "t_semdedup",
      // round 13: the two-level (hierarchical) scope that replaces the
      // flat op's N·nLists assignment quadratic — t_semdedup's row
      // stays as the measured boundary of the flat op, this row is the
      // configuration a corpus past Capacity.TwoLevelListsCutoff runs
      "t_semdedup2",
      // and its ANN top-k sibling (s_ivf2's row keeps the flat op +
      // its documented assignment term; this is the past-cutoff path)
      "s_ivf2l")

  /** Per-query stress runner: (spark, dir, copies) => plan. Defaults to
    * the catalog query; the ANN/near-dup ops override (s_ivf2, s_lsh,
    * t_simhash, t_embdup, e_annstream, t_semdedup2) because their catalog
    * configurations hold a capacity parameter FIXED that corpus-scale
    * practice grows with the data — at fixed capacity their candidate
    * work is ~N²/capacity, quadratic by construction (each was measured
    * super-linear at the stress scale that outgrew its floor):
    *  - s_ivf2: nLists = 16·copies (fixed lists ⇒ (c·N₀)²/16; growing
    *    them keeps lists constant-size ⇒ c·N₀²/16 — standard IVF rule).
    *  - s_lsh: planes = 12 + ⌈log₂ copies⌉ per table (bucket count 2^planes
    *    ∝ N keeps occupancy — and b² pair work per bucket — constant;
    *    per-table recall drops with each added plane, which deployments
    *    offset with more tables; the throughput stress grows planes only).
    *  - t_simhash: the 124-bit signature ([[graft.text.NearDup.simHashPairs128]])
    *    on BOTH sides — signature width is simhash's capacity parameter
    *    (the 64-bit op's 2⁷ per-band floor measured ratio 158 at ×81,
    *    vs linear 81); base and scaled run the same op so the ratio is
    *    apples-to-apples. The 64-bit catalog op stays oracle-checked at
    *    catalog scale.
    * The overrides degenerate to the catalog configuration at copies = 1
    * except: t_simhash's width (disclosed above), e_annstream's
    * threshold (the round-13 thresholded op at every scale — comment at
    * its case), and t_semdedup2 (a round-13 stress-only row for the
    * two-level scope; no catalog twin by design — the catalog stays
    * frozen at 88).
    */
  private def stressFn(q: String): (SparkSession, String, Int) => org.apache.spark.sql.DataFrame =
    q match {
      // Overrides derive their parameters from graft.sim.Capacity (the
      // deployment-facing chooser), with rows = copies x the reference
      // corpus — so what the chooser hands a deployment at any size is
      // exactly the configuration this harness measured at that decade.
      case "s_ivf2" => (s, dir, copies) => {
        val v = Tables.embeddings(s, dir)
        graft.sim.Similarity.ivfTopKFixed(v, "vec_id", "embedding",
          k = 5, nLists = graft.sim.Capacity.ivfNLists(copies * graft.sim.Capacity.RefEmbeddingRows),
          nProbe = 4)
      }
      case "s_lsh" => (s, dir, copies) =>
        graft.sim.Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, planes = graft.sim.Capacity.lshPlanes(copies * graft.sim.Capacity.RefEmbeddingRows),
          tables = 4)
      case "t_simhash" => (s, dir, _) =>
        // run the WIDE op at every scale (incl. base) so the ratio is
        // apples-to-apples; Capacity.simHashWide picks the crossover
        graft.text.NearDup.simHashPairs128(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 8)
      case "t_embdup" => (s, dir, copies) =>
        graft.sim.Similarity.cosineDups(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.9,
          planes = graft.sim.Capacity.lshPlanes(copies * graft.sim.Capacity.RefEmbeddingRows, basePlanes = 8),
          tables = 8, maxBucket = 10000)
      case "e_annstream" => (s, dir, copies) =>
        // round 13: the THRESHOLDED op (threshold = Some(0.9), matching
        // t_embdup/t_semdedup's stress threshold) at every scale
        // including the base, so the ratio stays apples-to-apples (the
        // t_simhash precedent). What a corpus actually runs is the
        // near-dup question "is this ≥ t of anything recent", and the
        // thresholded loop is where the int8 in-state prefilter lives —
        // the unthresholded op's ×729 slope was its full-f64 dot volume
        // plus the candidate-volume output. NOT comparable row-to-row
        // with pre-round-13 committed e_annstream decades (those
        // measured the unthresholded op; disclosed in the LEDGER.md table).
        graft.streaming.AnnStream.cosineCandidates(Tables.embeddings(s, dir),
            "vec_id", "embedding",
            planes = graft.sim.Capacity.lshPlanes(copies * graft.sim.Capacity.RefEmbeddingRows),
            tables = 4, maxBucketSize = 100000, threshold = Some(0.9))
          .toDF().distinct()
      case "t_semdedup" => (s, dir, copies) =>
        // clustered semantic dedup's pair generation at the standard
        // capacity rule (lists ∝ corpus keeps per-list pair volume
        // constant); threshold 0.9 mirrors t_embdup so the two scale
        // paths over the same data are comparable
        graft.sim.Semantic.semanticDups(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.9,
          nLists = graft.sim.Capacity.ivfNLists(copies * graft.sim.Capacity.RefEmbeddingRows),
          maxList = 10000)
      case "s_ivf2l" => (s, dir, copies) =>
        // the two-level ANN top-k at the FLAT list rule (see
        // ivfTopKTwoLevelAuto's scaladoc for why top-k keeps 125/list)
        graft.sim.Similarity.ivfTopKTwoLevel(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 5,
          nLists = graft.sim.Capacity.ivfNLists(copies * graft.sim.Capacity.RefEmbeddingRows),
          nProbe = 4)
      case "t_semdedup2" => (s, dir, copies) =>
        // the two-level scope at the occupancy-preserving chooser rule
        // (Capacity.twoLevelNLists: cProbe× the lists at ~1/cProbe the
        // size — per-list pair volume matches t_semdedup's). Same op at
        // every scale, so the ratio is apples-to-apples (the t_simhash
        // precedent); its scope differs from t_semdedup's BY DESIGN
        // (versioned API — see Semantic.semanticDupsTwoLevel's recall
        // contract), so the two rows are complementary, not comparable
        // row-to-row
        graft.sim.Semantic.semanticDupsTwoLevel(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.9,
          nLists = graft.sim.Capacity.twoLevelNLists(
            copies * graft.sim.Capacity.RefEmbeddingRows, cProbe = 2),
          cProbe = 2, maxList = 10000)
      case other => (s, dir, _) => SparkEntry.queries(other)(s, dir)
    }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val maxRatio = sys.env.getOrElse("SPARK_GRAFT_STRESS_MAX", "12.0").toDouble
    val spark = Tables.tune(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    // generator-version marker: a cached outDir from an older generator
    // (or a different copy count) is silently wrong — e.g. the v1
    // single-alphabet bijection made copy 9 byte-identical to copy 0
    // v3: third text alphabet (period 405) + affine embedding
    // permutation (period dim²/2) — v2 wrapped embeddings at copy 64
    // the v4 fourth rotation set is IDENTITY below copy 405, so v4
    // output is byte-identical to v3 there — cached v3 dirs stay valid
    // and the tag only advances where the generators actually diverge
    // v6 (round 14): text switches to Lehmer full permutations (see
    // generate) — NOT byte-compatible with v3/v4 for any copy ≥ 1, so
    // every text-bearing dir regenerates under the v6 tag; the ×243
    // v4-vs-v6 same-session equivalence run is the behavior check
    // SPARK_GRAFT_STRESS_SIGNFLIP=1 (round 13): per-copy random SIGN
    // FLIPS on top of the affine embedding permutation — a SIGNED
    // permutation is an orthogonal map that is EXACT in floating point
    // (negation flips a sign bit; (-a)·(-b) rounds to the same double
    // as a·b), so within-copy dots/norms/pair counts stay bit-identical
    // to the unflipped corpus while cross-copy BYTE-level redundancy is
    // destroyed: the plain permuted copies carry the same 4-byte f32
    // payload patterns in every copy, which lz4 compressed ~6:1 in the
    // round-12 shuffle-byte A/Bs (the disclosed corpus-flattering
    // artifact); real embeddings don't compress, and this mode is the
    // measurement that retires that caveat. Tag suffix keeps flipped
    // and unflipped caches apart.
    val signFlip = sys.env.get("SPARK_GRAFT_STRESS_SIGNFLIP").contains("1")
    // SPARK_GRAFT_STRESS_EMBONLY=1 (round 13): generate ONLY the
    // embeddings table — the sixth decade (×2187) outgrows the text
    // bijection's period (1215), but the embedding-family queries
    // (t_semdedup2, e_annstream, t_embdup, s_lsh, s_ivf2) need nothing
    // else, and signFlip extends the embedding isometry family past the
    // affine period (2048). The caller must restrict
    // SPARK_GRAFT_STRESS_ONLY to embedding queries and skip the pair
    // gate; non-embedding queries fail on the missing tables by design.
    val embOnly = sys.env.get("SPARK_GRAFT_STRESS_EMBONLY").contains("1")
    // SPARK_GRAFT_STRESS_DOCSONLY=1 (round 14): generate ONLY the
    // documents table — the text-family mirror of embOnly, for
    // sixth-decade (×2187 ≤ v5 period 2430) runs of the t_* document
    // queries without paying ~34 GB of events/orders/lineitem
    // replication they never read. Callers restrict
    // SPARK_GRAFT_STRESS_ONLY to document queries and skip the pair
    // gate; other queries fail on the missing tables by design.
    val docsOnly = sys.env.get("SPARK_GRAFT_STRESS_DOCSONLY").contains("1")
    require(!(embOnly && docsOnly),
      "EMBONLY and DOCSONLY are mutually exclusive (pick the family under test)")
    require(!embOnly || signFlip || copies <= 2048,
      "embeddings-only generation past the affine period needs SPARK_GRAFT_STRESS_SIGNFLIP=1")
    // text-bearing generations are v6 (Lehmer permutations — round 14);
    // embeddings-only dirs keep the FROZEN two-tier rule (v4 > 405, v3
    // otherwise): the embedding transform (affine coordinate
    // permutation + optional sign flips) has been untouched since the
    // v3/v4 text bumps it rode along with, so cached e-dirs stay valid
    // across text-generator versions — round 15 removed a leaked v5
    // tier (>1215) that silently invalidated faedd20-era v4e caches
    // whose bytes were identical to what regeneration would produce
    val genTag = s"${if (!embOnly) "v6"
        else if (copies > 405) "v4" else "v3"}" +
      s"${if (signFlip) "s" else ""}${if (embOnly) "e" else ""}" +
      s"${if (docsOnly) "d" else ""}-copies$copies"
    val marker = new java.io.File(s"$outDir/_GEN")
    val cached = marker.isFile &&
      scala.util.Try(scala.io.Source.fromFile(marker).mkString.trim).toOption
        .contains(genTag)
    if (!cached) {
      System.err.println(s"[stress] generating ${copies}x of $baseDir -> $outDir" +
        (if (signFlip) " (sign-flipped embeddings)" else ""))
      generate(spark, baseDir, outDir, copies, signFlip, embOnly, docsOnly)
      val w = new java.io.PrintWriter(marker)
      try w.println(genTag) finally w.close()
    } else System.err.println(s"[stress] reusing $outDir ($genTag)")

    // Dev-loop filter: SPARK_GRAFT_STRESS_ONLY=q1,q2 stresses just those
    // queries (committed tables always come from unfiltered runs; the
    // pair-count gate below runs regardless).
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank = unset (Set("") filtered out everything)
    val stressSet = stressQueries.filter(q => only.forall(_.contains(q)))

    // JIT/Janino warm pass on the smallest sf so neither timed scale pays
    // first-compile costs (same rationale as Bench's warm pass). The warm
    // runs the STRESS plan (stressFn at copies=1), not the catalog query:
    // five stressed ops override with scale-path kernels whose codegen
    // (e.g. SimHashPoly128Text) the catalog plan never compiles, so a catalog
    // warm left the override's first-compile cost inside the timed base
    // rep (round-9 ADVICE). For un-overridden queries stressFn IS the
    // catalog query, so nothing changes there.
    val warmDir = new java.io.File(new java.io.File(baseDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory) stressSet.foreach { q =>
      try stressFn(q)(spark, warmDir.getPath, 1)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[stress] warm $q: ${e.getMessage}") }
      spark.sharedState.cacheManager.clearCache()
    }

    // SPARK_GRAFT_STRESS_SCALEPARTS=1 times the scaled dir with
    // shuffle.partitions ∝ copies (base × copies) — the configuration a
    // real cluster scale-up runs, where partition count grows with the
    // data. The fixed-32 default measures the OTHER regime (same
    // hardware, more data): per-partition sort/hash work grows n·log n
    // and steepens the slope (t_jaccard at 30×, round-6 verdict #3);
    // partitions ∝ data is the claim LEDGER.md makes, so this mode
    // turns it into a measurement.
    val scaleParts = sys.env.get("SPARK_GRAFT_STRESS_SCALEPARTS").contains("1")
    val baseParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scaledParts = if (scaleParts) baseParts * copies else baseParts

    def timeOnce(q: String, dir: String, parts: Int, nCopies: Int): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val t0 = System.nanoTime()
        stressFn(q)(spark, dir, nCopies).write.format("noop").mode("overwrite").save()
        spark.sharedState.cacheManager.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        // Release the rep's shuffle files before the next measurement:
        // Spark's ContextCleaner only removes a dereferenced
        // ShuffleDependency's files after a JVM GC notices it, and a
        // 24 GB heap may never full-GC on its own — measured (round 14):
        // a combined t_minhash/t_jaccard/t_pipeline ×2187 session
        // accumulated 63 GB of DEAD shuffle files from completed reps
        // and died on disk inside t_jaccard, which alone (fresh JVM)
        // has ~40 GB of headroom more. Outside the timing window by
        // construction (dt is already captured).
        System.gc()
        dt
      } finally spark.conf.set("spark.sql.shuffle.partitions", baseParts)
    }

    // Per query: REPS interleaved rep-wise (base,scaled,base,scaled),
    // each headed by the two fixed-work calib samples. The host stalls
    // episodically for minutes at a time: timing all base reps then all
    // scaled reps let one stall poison exactly one SIDE of the ratio
    // (observed: a clean 2.1 s base against a stalled 20.7 s scaled read
    // as ratio 9.8 on a provably near-linear query). Interleaving makes
    // the two sides sample the same contention windows and min-per-side
    // rejects stalls independently (measured surviving a 19x swing
    // between adjacent reps). The calib pair attributes a dirty window:
    // st high = the core itself is slow (host clock/steal); st clean
    // with mt/st high = oversubscription — 32 vCPUs granted, fewer real
    // cores backing them — which only parallel stages feel.
    // st is sampled BEFORE AND AFTER the rep's two query runs and the MIN
    // is the rep's normalization factor: an episodic stall that covers
    // only the leading calib (queries ran clean) would otherwise DEFLATE
    // the rep's times when merge() divides by st/stFloor — observed as a
    // b1_backtest rep with st=1.89 whose queries timed clean, normalizing
    // a 1.9 s scaled run down to 0.66 s. With the bracket, that rep's
    // min(st) reads clean and its times stay raw; only a slowdown seen on
    // BOTH sides of the queries (the whole-window-slow case the
    // normalization exists for) scales them.
    def measure(q: String, n: Int): Seq[(Double, Double, Double, Double)] =
      (1 to n).map { _ =>
        val st0 = Calib.singleThread()
        val mt = Calib.multiThread(32)
        val b = timeOnce(q, baseDir, baseParts, 1)
        val s = timeOnce(q, outDir, scaledParts, copies)
        val st1 = Calib.singleThread()
        (math.min(st0, st1), mt, b, s)
      }

    // Calib-normalized min-merge (round-7 verdict #5): a rep taken while
    // the host core itself runs slow (st high) inflates BOTH its query
    // times by ~st/stFloor; dividing each rep's times by that factor
    // before min-merging lets a dirty-window rep still contribute an
    // honest sample instead of only being out-voted. The floor is the
    // run's own cleanest st sample (documented clean range 0.60-0.68 s
    // on this host), so normalization never *inflates* a clean rep. mt
    // is deliberately NOT in the correction: st-high means the core is
    // slow (scales all work); st-clean/mt-high means oversubscription,
    // which hits parallel stages by an unknown per-query factor — those
    // reps stay raw and the min-merge rejects them.
    case class QRow(q: String, base: Double, scaled: Double, ratio: Double,
                    reps: Seq[(Double, Double, Double, Double)], stFloor: Double)
    def merge(q: String, reps: Seq[(Double, Double, Double, Double)]): QRow = {
      val stFloor = reps.map(_._1).min
      val b = reps.map(t => t._3 * stFloor / t._1).min
      val s = reps.map(t => t._4 * stFloor / t._1).min
      QRow(q, b, s, s / math.max(b, 1e-9), reps, stFloor)
    }

    // Steady-state protocol (round-11; LEDGER.md's near-gate watch
    // argued for it and round-10 measured the cause): ITERATIVE queries
    // re-plan per AQE round and per data size, so their first scaled
    // reps carry scaled-plan compile that min-of-2 cannot amortize —
    // g_linkpred measured five same-JVM ×30 reps declining
    // monotonically 49.2/41.8/33.4/28.5 s to steady state (~18 s of the
    // old 46 s min-of-2 reading was compile; g_hits showed the
    // same shape, 23.7→9.6→6.7). Those queries get 4
    // interleaved reps UP FRONT — not only on a gate breach — so the
    // committed table reports steady-state wall time instead of
    // hovering at 84% of the gate on compile cost. The
    // wall-time-independent pair-count gate below is untouched.
    // s_lsh joins the 4-rep set at the FOURTH decade only (round-12
    // verdict #7): it is not iterative, but its ×243 min-of-2 reading
    // carried the scaled-plan compile the g_linkpred decomposition
    // measured — at 75% of the gate that compile share is worth
    // amortizing; at lower decades min-of-2 has always sufficed.
    // e_annstream joins it too (round-13 verdict #2/missing #4): its
    // ×729 re-read showed reps declining 56.1→36.4 (scaled-plan
    // compile), and the committed row must carry the steady-state
    // protocol's reps rather than a first-read in prose.
    val steadyStateQueries = Set("g_linkpred", "g_hits") ++
      (if (copies >= 243) Set("s_lsh", "e_annstream") else Set.empty)
    var rows = stressSet.map { q =>
      val row = merge(q, measure(q, if (steadyStateQueries(q)) 4 else 2))
      println(f"[stress] $q%-12s base=${row.base}%7.2f s  x$copies=${row.scaled}%7.2f s  ratio=${row.ratio}%5.2f" +
        s"  reps=${row.reps.length}" +
        s"  st=${row.reps.map(t => f"${t._1}%.2f").mkString(",")}" +
        s"  mt=${row.reps.map(t => f"${t._2}%.2f").mkString(",")}")
      row
    }

    // A gate breach gets 2 extra interleaved reps before it counts: an
    // asymmetric stall can inflate one side past the gate even under
    // interleaving (observed: t_jaccard scaled 3.5x stall-inflated vs
    // base 1.9x -> ratio 12.1 on a measured-near-linear query, dirty
    // calib samples on record). A genuinely super-linear query gains
    // nothing from more sampling — min-merge only tightens toward the
    // true time — so the retry debounces noise without masking real
    // regressions.
    rows = rows.map {
      case row if row.ratio > maxRatio =>
        System.err.println(f"[stress] ${row.q} ratio ${row.ratio}%.2f > $maxRatio — re-measuring with 2 extra reps")
        val m = merge(row.q, row.reps ++ measure(row.q, 2))
        println(f"[stress] ${m.q}%-12s base=${m.base}%7.2f s  x$copies=${m.scaled}%7.2f s  ratio=${m.ratio}%5.2f (retried)" +
          s"  st=${m.reps.map(t => f"${t._1}%.2f").mkString(",")}" +
          s"  mt=${m.reps.map(t => f"${t._2}%.2f").mkString(",")}")
        m
      case row => row
    }

    // Wall-time-independent super-linearity check for the link-pred pair
    // explosion (round-7 verdict #4): its ×10 wall ratio has sat within
    // 10% of the gate, where one noisy rep decides pass/fail. The
    // candidate-pair count is deterministic: the scaled graph is `copies`
    // disjoint isomorphic copies of the base graph, so the count must be
    // EXACTLY copies × base — any excess means cross-copy pairs exist
    // (generator decorrelation broke) or the explosion itself grew
    // super-linearly. Gated at copies × 1.01 (exact equality expected).
    // Round 13: the metric is the pair-OCCURRENCE count
    // (GraphOps.linkPredictionPairOccurrences — Σ C(d,2) straight off
    // the capped adjacency aggregate, spec-pinned == sum(common) of the
    // full op) instead of the DISTINCT-pair linkPrediction().count():
    // the distinct count proved exact linearity across four decades but
    // its pair materialization (plus the checkpointed edge build) does
    // not fit one node's disk at ×729; occurrences carry the same
    // exact-linearity signal — strictly MORE contamination-sensitive —
    // at edge-shuffle cost, unblocking the fifth-decade gate.
    def linkpredPairs(dir: String): Long = {
      val edges = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      graft.graph.GraphOps.linkPredictionPairOccurrences(edges, "supp", "cust",
        maxNeighborDegree = 500)
    }
    // SPARK_GRAFT_STRESS_SKIP_PAIRGATE=1 skips the count for dev runs
    // of OTHER families (at ×729 the count itself is a ~10-minute job
    // whose shuffle competes for the same disk as the family under
    // test); committed g_linkpred rows always come from gated runs
    val skipPairGate = sys.env.get("SPARK_GRAFT_STRESS_SKIP_PAIRGATE").contains("1")
    val (pairsBase, pairsScaled) =
      if (skipPairGate) (0L, 0L)
      else (linkpredPairs(baseDir), linkpredPairs(outDir))
    val pairRatio = if (skipPairGate) 0.0
      else pairsScaled.toDouble / math.max(pairsBase, 1L)
    if (skipPairGate)
      println("[stress] g_linkpred pair gate SKIPPED (SPARK_GRAFT_STRESS_SKIP_PAIRGATE=1)")
    else
      println(f"[stress] g_linkpred pair occurrences: base=$pairsBase x$copies=$pairsScaled ratio=$pairRatio%.3f (gate ${copies * 1.01})")

    val js = rows.map { case QRow(q, b, s, r, reps, stFloor) =>
      f""""$q":{"base":$b%.3f,"scaled":$s%.3f,"ratio":$r%.2f,"stFloor":$stFloor%.3f,"nreps":${reps.length},"reps":{""" +
        "\"st\":[" + reps.map(t => f"${t._1}%.3f").mkString(",") +
        "],\"mt\":[" + reps.map(t => f"${t._2}%.3f").mkString(",") +
        "],\"base\":[" + reps.map(t => f"${t._3}%.3f").mkString(",") +
        "],\"scaled\":[" + reps.map(t => f"${t._4}%.3f").mkString(",") + "]}}"
    }.mkString("{", ",", "}")
    // a skipped pair gate is marked in the machine-readable line too —
    // a {base:0, ratio:0} row must never read as a measured pass
    val pairsJson = if (skipPairGate) """{"skipped":true}"""
      else f"""{"metric":"occurrences","base":$pairsBase,"scaled":$pairsScaled,"ratio":$pairRatio%.3f}"""
    println(f"""{"stress":"sf0.1 x$copies","maxRatio":$maxRatio,"scaledParts":$scaledParts,""" +
      f""""linkpredPairs":$pairsJson,""" +
      f""""queries":$js}""")
    spark.stop()

    val bad = rows.filter(_.ratio > maxRatio)
    if (bad.nonEmpty) {
      System.err.println("super-linear queries: " +
        bad.map(t => f"${t.q} (${t.ratio}%.1fx)").mkString(", "))
      sys.exit(1)
    }
    if (pairRatio > copies * 1.01) {
      System.err.println(f"g_linkpred pair count super-linear: $pairRatio%.3f > ${copies * 1.01}")
      sys.exit(1)
    }
  }

  private def generate(spark: SparkSession, baseDir: String, outDir: String,
                       copies: Int, signFlip: Boolean = false,
                       embOnly: Boolean = false,
                       docsOnly: Boolean = false): Unit = {
    // FOUR disjoint alphabets partitioning the lowercase letters by
    // corpus frequency (generator history: v1 rotated one 9-set and
    // wrapped at copy 9; v2 two sets, wrapped at 81; v3 three, 405;
    // v4 four, 1215 — each wrap measured as planted cross-copy EXACT
    // duplicates before its bump; v6 below retires rotations entirely)
    val rot1 = "etaoinsrh"
    val rot2 = "dlcumwfgy"
    val rot3 = "bpvkx"
    val rot4 = "qjz"
    require((rot1 ++ rot2 ++ rot3 ++ rot4).distinct.length ==
      rot1.length + rot2.length + rot3.length + rot4.length,
      "rotation alphabets must be disjoint")
    // v6 (round 14): FULL Lehmer-coded permutations per set replace the
    // mixed-radix rotation family (and the short-lived v5 dihedral
    // reflection). The measured flaw in v4/v5 (exact candidate-mass
    // counts): with per-set rotations indexed by mixed-radix digits,
    // copies at distance 405 share the set-1/2/3 elements and differ
    // ONLY in the 3-letter rare set "qjz" (~1.5% of chars) — whole
    // cross-copy near-duplicate doc pairs (J ≈ 0.85) that inflated
    // minhash candidate mass 4.4× at ×729 and 7.7× at ×2187 over the
    // within-copy-linear expectation, and grew t_jaccard's join volume
    // past one node's disk (conservative for the engine — the planted
    // pairs are GENUINE near-dups it processes correctly — but the
    // decade ratios stop measuring the engine). Any family built from
    // per-set rotations/reflections has ≤ 9·9·2 = 162 distinct
    // frequent-set classes, so with >162 copies some pair differs only
    // on rare letters BY PIGEONHOLE; the fix is the MAXIMAL group:
    // π_set = Lehmer-unrank(c mod |set|!) of each set independently.
    // Distinct copies c < 9! = 362,880 get DISTINCT set-1 AND set-2
    // permutations outright, so EVERY copy pair differs on the
    // corpus's most frequent letters with no special distances at all
    // (the property no rotation family can give). Two uniform S₉
    // elements agree on E[1] letter, so the expected unchanged char
    // mass between any two copies is ~11% and cross-copy shingle
    // survival ~0.11^(chars/shingle) — vanishing; the v6 ×243
    // equivalence run against the v4 corpus (LEDGER.md round 14) is the
    // measured check at an artifact-free decade. Within-copy shingle
    // equality is preserved exactly as before (any char bijection);
    // c = 0 is the identity permutation of every set, so the base
    // slice stays byte-identical to the source table.
    require(embOnly || copies <= 362880,
      s"per-copy bijection period is 9! = 362880; got copies=$copies" +
        " — past it only the embeddings-only mode is defined (SPARK_GRAFT_STRESS_EMBONLY=1)")
    def scrambled(c: Int) =
      if (c == 0) col("text")
      else translate(translate(translate(translate(
        col("text"), rot1, StressGen.perm(rot1, c)),
        rot2, StressGen.perm(rot2, c, second = true)),
        rot3, StressGen.perm(rot3, c)),
        rot4, StressGen.perm(rot4, c))

    if (!embOnly) {
      val docs = Tables.documents(spark, baseDir)
      (0 until copies).map { c =>
        docs.select(
          (col("doc_id") + c * 1000000L).as("doc_id"),
          scrambled(c).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.pipe(unionBalanced)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

    if (docsOnly) return

    val emb = Tables.embeddings(spark, baseDir)
    val dim = emb.selectExpr("size(embedding)").head().getInt(0)
    // per-copy AFFINE coordinate permutation j -> (s·j + a) mod dim with
    // s odd: a coordinate permutation is an isometry (within-copy dot
    // products — and so all planted similarity structure — are exactly
    // preserved), and affine maps are pairwise distinct for distinct
    // (s, a) (evaluate at j=0 and j=1), so the period is dim · dim/2 =
    // 2048 at dim 64. The old plain cyclic shift (c·7 mod dim) wrapped
    // at copy `dim`: copies 64..80 of an ×81 run were EXACT cross-copy
    // duplicates of copies 0..16 — extra (conservative) pair volume the
    // decorrelation exists to avoid.
    // s odd guarantees gcd(s, dim) = 1 ONLY for power-of-two dims — for
    // any other dim some odd strides share a factor with dim and the
    // affine map stops being injective (repeated/dropped coordinates,
    // silently breaking the isometry). Guard rather than assume.
    require(Integer.bitCount(dim) == 1,
      s"affine embedding permutation needs a power-of-two dim, got $dim")
    // signFlip EXTENDS the isometry family past the affine period: the
    // per-copy map is (affine permutation, sign pattern) and the Lehmer
    // sign patterns are pairwise distinct per copy (two copies agreeing
    // on every destination's mix parity across 64 dims do not occur in
    // any realistic copy range), so distinct copies stay distinct
    // isometries even where the affine component wraps — the sixth
    // decade's enabling fact.
    require(copies <= dim * dim / 2 || signFlip,
      s"embedding permutation period is ${dim * dim / 2}; got copies=$copies" +
        " — use SPARK_GRAFT_STRESS_SIGNFLIP=1 to extend the isometry family")
    // signFlip: deterministic per-(copy, destination index) sign via
    // the cross-engine Lehmer mix (the planeComponent recipe); copy 0
    // stays the identity either way, so the base slice is always
    // byte-identical to the source. A signed permutation is an exact
    // FP isometry — see the mode comment at the genTag.
    def signOf(c: Int, j: org.apache.spark.sql.Column) = {
      val h = ((lit(c.toLong) * 2654435761L + j * 40503L + 7L)
        * 48271L % 2147483647L * 16807L) % 2147483647L
      when(h % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
    }
    (0 until copies).map { c =>
      val a = c % dim
      val s = 2 * ((c / dim) % (dim / 2)) + 1
      val permuted =
        if (c == 0) col("embedding")
        else transform(sequence(lit(0), lit(dim - 1)),
          j => {
            val moved = element_at(col("embedding"), (lit(s) * j + lit(a)) % dim + 1)
            // multiply in FLOAT domain (±1.0f is exact) so the table
            // keeps its array<float> schema — a widened array<double>
            // would double the on-disk payload and invalidate the
            // compression comparison this mode exists for
            if (signFlip) moved * signOf(c, j).cast("float") else moved
          })
      emb.select((col("vec_id") + c * 1000000L).as("vec_id"),
        permuted.as("embedding"), col("label"))
    }.pipe(unionBalanced)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    if (!embOnly) {
      val ev = Tables.events(spark, baseDir)
      (0 until copies).map { c =>
        ev.select((col("event_id") + c * 10000000L).as("event_id"), col("ts"),
          (col("user_id") + c * 1000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.pipe(unionBalanced)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")

      val ord = Tables.orders(spark, baseDir)
      (0 until copies).map { c =>
        ord.withColumn("o_orderkey", col("o_orderkey") + c * 100000000L)
          .withColumn("o_custkey", col("o_custkey") + c * 1000000L)
      }.pipe(unionBalanced)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

      val li = Tables.lineitem(spark, baseDir)
      (0 until copies).map { c =>
        li.withColumn("l_orderkey", col("l_orderkey") + c * 100000000L)
          .withColumn("l_suppkey", col("l_suppkey") + c * 1000000L)
      }.pipe(unionBalanced)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }
  }
}

/** The stress generator's per-copy character-set permutations (v6,
  * round 14) — a dedicated object so StressGenSpec can pin the
  * decorrelation properties the ×243/×729/×2187 text decades depend on.
  *
  * [[perm]](set, c) = Lehmer-unrank((c · [[Stride]]) mod |set|!) of the
  * set's characters. Three properties, each the fix for a MEASURED
  * generator defect:
  *
  *   - FULL-GROUP, not rotations: any family built from per-set
  *     rotations/reflections has ≤ 9·9·2 = 162 distinct frequent-set
  *     classes, so past 162 copies some copy pair differs only on the
  *     rare sets by pigeonhole — measured as cross-copy near-duplicate
  *     doc pairs (J ≈ 0.85 at copy distance 405) inflating minhash
  *     candidate mass 4.4× at ×729 / 7.7× at ×2187 (exact counts,
  *     the v4/v5 rotation family).
  *   - STRIDED index, not raw c: Lehmer unranking of a SMALL index
  *     permutes only the string's tail — raw k = c < 6! fixes the
  *     first three characters of a 9-set, so high-frequency words
  *     spelled from two sets' prefix letters ("data": d∈set2[0],
  *     a,t∈set1[1,2]) were INVARIANT in every copy < 720 — measured as
  *     Σ_h C(df_h, 2) merging across ALL copies ("data data data"
  *     df = 6 × copies) and keeping t_jaccard's join volume ~2×
  *     super-linear even under the first Lehmer cut. The stride is
  *     coprime to 9! (and to 5!, 3!), so c ↦ c·Stride mod |set|! stays
  *     INJECTIVE per 9-set — distinct copies < 9! get distinct set-1
  *     permutations — while consecutive copies land far apart in the
  *     factorial number system and every Lehmer digit varies.
  *   - c = 0 is the identity (k = 0 unranks to the set itself), so the
  *     base slice is byte-identical to the source table.
  *
  * Within-copy shingle equality is preserved exactly as before: each
  * set maps onto itself, the sets are disjoint, so the composition is
  * a character bijection and bijections preserve string equality.
  */
private[graft] object StressGen {
  /** Per-set-size multiplicative strides, each coprime to the set's
    * factorial period so c ↦ c·stride mod |set|! stays injective. The
    * 9-set strides sit near period/φ (golden-ratio multiplicative
    * spread): a first cut used 181441 ≈ period/2 — injective but
    * PATHOLOGICAL, the Lehmer first digit took ~2 values so HALF the
    * copies fixed the set's first letter (measured: 1093/2187 fixed
    * 'e', 359 copies left "data" invariant). With the φ strides the
    * per-copy distributions read uniform: 243/2187 fix 'e' (= 1/9
    * exactly), 2 copies leave "data" invariant (uniform expectation
    * 3.4), mean fixed letters per 9-set 1.009 (uniform 1.0), mean
    * unchanged char MASS across all four sets 12.2% — the numbers
    * StressGenSpec pins. Distinct strides per set size decorrelate the
    * sets (one shared index stream would make every set reuse the same
    * Lehmer digit pattern).
    */
  private val Strides = Map(9 -> 224261L, 5 -> 77L, 3 -> 5L)

  def factorial(n: Int): Long = (2 to n).foldLeft(1L)(_ * _)

  /** The two 9-letter sets must not share a stride either — the SECOND
    * 9-set gets its own φ-region coprime (139849).
    */
  def perm(set: String, c: Long): String = perm(set, c, second = false)

  def perm(set: String, c: Long, second: Boolean): String = {
    val stride = if (second && set.length == 9) 139849L else Strides(set.length)
    val period = factorial(set.length)
    val k0 = (c * stride) % period
    val chars = scala.collection.mutable.ArrayBuffer[Char](set: _*)
    val out = new StringBuilder(set.length)
    var k = k0
    var m = set.length
    var f = factorial(m - 1)
    while (m > 1) {
      out += chars.remove((k / f).toInt)
      k %= f
      m -= 1
      f /= m
    }
    out += chars.remove(0)
    out.toString
  }
}
