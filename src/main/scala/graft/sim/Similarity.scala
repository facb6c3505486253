package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scope
import graft.functions.VectorF

/** Similarity search over embedding columns (`Array[Float]`) — the
  * LLM-pipeline ANN surface (builder brief; reference analog: vocab
  * embedding matrices `finds/unstructured/vocab.py:98-114`).
  *
  * Brute-force cosine is the exactness baseline (O(n²) pairs — only for
  * verification / small probes). The scale path is LSH bucketing with
  * deterministic random hyperplanes: per-row signature (no shuffle), one
  * equi-join on bucket, pair scoring inside buckets only.
  *
  * Scale discipline (round-2 rework of the round-1 hot spots):
  *   - the per-pair dot product is a native codegen'd expression
  *     ([[graft.functions.DotProduct]]), not an interpreted HOF fold;
  *   - norms are computed once per ROW and joined into the pair scorer —
  *     never recomputed per pair;
  *   - candidate dedup shuffles only `(query_id, neighbor_id)` id pairs;
  *     vectors are re-joined AFTER the distinct (the round-1 form carried
  *     two full embedding arrays through the shuffle);
  *   - all `planes × tables` hyperplane projections come from ONE fold
  *     over the vector (the round-1 form ran one aggregate pass per bit).
  */
object Similarity extends org.apache.spark.internal.Logging {

  /** Dot product of two vector columns, accumulated left-to-right in
    * double (codegen'd native loop).
    */
  def dot(a: Column, b: Column): Column =
    VectorF.dotp(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** ANSI-safe cosine division: an EXACT-ZERO norm product divides as
    * NaN instead of raising DIVIDE_BY_ZERO (Spark 4 runs ANSI by
    * default, and one all-zero embedding row in a corpus must not kill
    * a dedup job). NaN is chosen over null so every degenerate vector
    * class behaves identically: NaN-component vectors already produce
    * NaN norms (NaN/NaN divides to NaN without tripping ANSI), and the
    * threshold paths keep NaN-cos pairs consistently in both regimes
    * while the top-k aggregate excludes them — the documented
    * [[graft.functions.QuantKernel]] semantics, which this division
    * makes true under ANSI rather than true-only-when-ANSI-is-off.
    */
  private[sim] def nanDiv(num: Column, den: Column): Column =
    when(den === 0.0, lit(Double.NaN)).otherwise(num / den)

  /** Per-row prep shared by the exact and LSH paths: vector cast to
    * `array<double>` once, L2 norm computed once.
    */
  private[sim] def prepped(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(VectorF.dotp(col("__v"), col("__v"))))

  /** Degenerate-bucket guard shared by every bucketed candidate
    * generator ([[cosineDups]], [[lshTopK]], [[Semantic.semanticDups]]):
    * drop groups larger than `max` rows from pair generation (a bucket
    * of b rows emits b² pairs, so one near-identical crawl shard can
    * dominate the whole job). `Int.MaxValue` is the no-op fast path.
    */
  private[sim] def capGroups(df: DataFrame, max: Int, cols: String*): DataFrame =
    if (max == Int.MaxValue) df else {
      val w = Window.partitionBy(cols.map(col): _*)
      df.withColumn("__bsz", count(lit(1)).over(w))
        .where(col("__bsz") <= max).drop("__bsz")
    }

  /** Keep a too-big-to-broadcast vector side OUT of sort-merge joins.
    *
    * Every ANN/near-dup rescore re-joins the prepped vectors onto the
    * id-only candidate stream. When the vector side fits the broadcast
    * threshold, Spark picks BHJ — optimal, leave it alone (no hint).
    * When it does NOT (the corpus-scale regime), the un-hinted planner
    * falls back to sort-merge, which SORTS the candidate stream — and
    * after the first join each sorted row drags its dim·8-byte vector
    * payload through the sorter. At the fourth stress decade (×243,
    * ~10⁸ candidates) that sort's spill exceeded a single node's 74 GB
    * local disk. The SHUFFLE_HASH hint (only applied in that regime)
    * builds the hash map on the vector side (corpus-proportional, a
    * few MB per partition) and STREAMS the candidates — no payload
    * ever enters a sort. Decision from the plan-statistics size
    * estimate vs the session broadcast threshold, so the catalog/bench
    * scale keeps its broadcast plans bit-for-bit (PLANS gate) and the
    * hint engages exactly where broadcast stops being available.
    */
  private[sim] def vectorSideTooBig(v: DataFrame): Boolean = {
    val thresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(v.sparkSession)
    // threshold < 0 = auto-broadcast disabled: broadcast is never
    // available, which IS the regime the hint exists for
    thresh < 0 || org.apache.spark.sql.graftx.Bridge.sizeEstimate(v) > thresh
  }

  /** Big-regime SHUFFLE_HASH equi-join with a MEMORY-BOUNDED build side
    * (round 15). The hinted joins below all build corpus-proportional
    * hash maps — at the session's fixed partition count the per-
    * partition build is ∝ N and a shuffled-hash build cannot spill, so
    * past some decade it OOMs the executor outright (measured at ×6561,
    * see [[Capacity.ShjBuildBytesPerPartition]]). When `estBytes` (the
    * caller's estimate of the build side's in-map bytes) prices past
    * `parts × budget`, BOTH sides repartition on the join key to the
    * count that restores the budget — the exchange the join inserts
    * anyway, just wider, so shuffle volume is unchanged and per-task
    * build memory is bounded by construction at any corpus size (the
    * partitions-∝-data rule a cluster runs, applied by the op instead
    * of waited for from the session conf). Below the threshold the plan
    * is byte-identical to the plain hinted join — catalog plans and
    * every committed sub-×2187 stress row keep their shapes (PLANS
    * gate). The explicit repartition pins this join's partition count
    * away from AQE coalescing (and its skew splitting — the capGroups /
    * salting guards own skew in these pipelines).
    */
  private[sim] def boundedHashJoin(probe: DataFrame, build: DataFrame,
                                   keys: Seq[String], estBytes: BigInt): DataFrame = {
    val parts = probe.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val budget = BigInt(Capacity.ShjBuildBytesPerPartition)
    val needRaw = ((estBytes + budget - 1) / budget).min(BigInt(1 << 20)).toInt
    // Sanity cap at 256× the session partition count: a caller-stated
    // estimate inflated by a wide un-materialized scan (optimizer
    // sizeInBytes, not real bytes) must not pin a six-figure partition
    // count AQE can then never coalesce. 256× parts × 96 MB is ~768 GB
    // of priced build data on a 32-partition session — past what the
    // session's hardware can process regardless, so the cap only binds
    // where the ESTIMATE is broken; the warning below is the
    // observability either way (round-16 ADVICE).
    val need = math.min(needRaw, math.max(parts, 1) * 256)
    if (need > parts) {
      logWarning(s"boundedHashJoin widening: estBytes=$estBytes budget=$budget " +
        s"partitions $parts -> $need" +
        (if (needRaw > need) s" (CAPPED from $needRaw at 256x session partitions — " +
          "verify the caller's estimate)" else ""))
      val kc = keys.map(col)
      probe.repartition(need, kc: _*)
        .join(build.repartition(need, kc: _*).hint("SHUFFLE_HASH"), keys)
    } else probe.join(build.hint("SHUFFLE_HASH"), keys)
  }

  /** In-map overhead factor for a shuffled-hash build's
    * `LongToUnsafeRowMap` (key-index array + page slack + UnsafeRow
    * padding): the built map costs ~2× its raw row bytes — measured on
    * the ×6561 rescore build (commit 3b9f4d8: ~106 MB of f32 rows →
    * ~185 MB in map per task). [[f32SideBytes]] bakes the factor in by
    * NOT halving the f64 estimate; every other [[boundedHashJoin]]
    * estimate computed from raw row bytes must multiply by it.
    */
  private[sim] val InMapFactor = 2

  /** Build-side byte estimates for [[boundedHashJoin]], derived from the
    * prepped vector frame's optimizer size (cache-accurate once `v` is
    * materialized; the schema-width scan estimate — same ballpark —
    * before). The int8 payload row (id + key + dim×1 B quant + norm)
    * is ~1/4 of the prepped f64 row (id + dim×8 B + norm) at dim ≥ 32 —
    * erring HIGH, the safe side (more, smaller partitions). `fanout` is
    * the explode multiplier (memberships per row / LSH tables): the
    * optimizer cannot price a Generate (its stats pass the child's
    * sizeInBytes through — the round-14 broadcast-lie mechanism), so
    * the caller states it.
    */
  private[sim] def int8SideBytes(v: DataFrame, fanout: Int = 1): BigInt =
    org.apache.spark.sql.graftx.Bridge.sizeEstimate(v) * fanout / 4

  /** [[int8SideBytes]]' f32 twin for the rescore joins' vector payload.
    * [[vecPayload]] halves the per-element bytes, but the built
    * `LongToUnsafeRowMap` costs ~2× its raw rows (key-index array +
    * page slack + UnsafeRow padding) — the two roughly cancel, so the
    * f64 estimate IS the in-map bound. The halved first cut
    * underpriced the ×6561 rescore build (~106 MB data → ~185 MB in
    * map per task × 32 concurrent) and the decade died in
    * `LongToUnsafeRowMap.grow` on a 128 MiB page doubling.
    */
  private[sim] def f32SideBytes(v: DataFrame): BigInt =
    org.apache.spark.sql.graftx.Bridge.sizeEstimate(v)

  /** Total bytes of the bar aggregate's PARTIAL hash maps across all
    * partitions — the second ∝ N/P term the bounds join's partition
    * guard must price (round 15). The partial runs on the probe join's
    * output partitions; a query's candidates live in its `probesPerRow`
    * probed lists/buckets, so the map keys across all partitions total
    * ≤ probesPerRow·N, each holding a ≤ `rank`-entry TopKBuf
    * (~160 + 16·rank B with map-entry overhead — the [[barFallbackKeys]]
    * constant). At fixed P this is ∝ N per task and CANNOT spill below
    * the raised fallback threshold by design (the threshold exists to
    * keep the partial's hash map); measured at ×6561 (13.1 M rows,
    * P = 32): 4·N/P ≈ 1.6 M keys/task × 240 B, capped only by the
    * 256 MB valve → ~8.6 GB of concurrent map memory on top of the SHJ
    * builds — `OutOfMemoryError` inside `TopKNeighbors.update`. Pricing
    * this term into the join guard widens the SAME exchange the
    * candidates already cross, which splits the partial's key space
    * (keys/partition = probesPerRow·N/P) without adding any pass; the
    * partial's OUTPUT stays ≤ probesPerRow·N rows regardless of P, so
    * the exchange into the final aggregate is unchanged. `rows` is
    * exact — one count on the cached vector frame, big regime only.
    */
  private[sim] def barPartialBytes(rows: Long, probesPerRow: Int, rank: Int): BigInt =
    BigInt(rows) * probesPerRow * (160L + 16L * rank)

  /** The rescore joins' vector payload. Broadcast regime: the prepped
    * `array<double>` rows unchanged — catalog/bench-scale plans AND
    * numerics stay bit-for-bit (PLANS + oracle-hash gates). Too-big
    * regime: a float32 copy of `__v`, cast on the corpus side BELOW the
    * join's exchange — the candidate-volume join output re-shuffles one
    * vector payload per candidate (join 1's output exchanges on the
    * second id for join 2), and at ×243 (~10⁸ candidates × dim·8 B)
    * that spill is what exceeded one node's 74 GB local disk even with
    * the SHUFFLE_HASH build-side fix. float32 halves the per-element
    * bytes; [[graft.functions.DotProductFloat]] scores it widening to
    * double per element (no per-row cast back to array<double>), so
    * |Δcos| ≤ ~2⁻²³ ≈ 1.2e-7 independent of dim (the float rounding of
    * each stored component is relative, so |Δdot| ≤ ~2⁻²³·Σ|aᵢbᵢ| ≤
    * 2⁻²³·‖a‖‖b‖ by Cauchy-Schwarz, and the norms divided out are the
    * exact doubles) — far inside the 6dp catalog rounding
    * (Float32RescoreSpec pins 6dp + pair-set equality against the
    * float64 path on the catalog slice). This 2⁻²³ figure is a term in
    * [[F32CosDrift]]'s margin budget — the prefilters bracket the
    * FLOAT64 dot while this payload rescores in float32, so every
    * bound comparison deflates by the drift (see [[topKViaBounds]] /
    * [[boundedPairJoin]]). `__n` stays the exact double norm (8 B/row
    * — not worth drift).
    */
  private def vecPayload(v: DataFrame, idCol: String, big: Boolean): DataFrame =
    if (big) v.select(col(idCol), col("__v").cast("array<float>").as("__v"), col("__n"))
    else v

  private def pairDot(big: Boolean): (Column, Column) => Column =
    if (big) VectorF.dotpF else VectorF.dotp

  /** The vector re-join shared by [[rescorePairs]] and [[rescoreTopK]]:
    * join the prepped vectors onto id-only candidates on id column `a`
    * (as va, na) and then `b` (as vb, nb) — AFTER candidate dedup, so
    * only id pairs shuffle. Returns the joined frame and whether the big
    * regime ran (one [[vectorSideTooBig]] estimate; both sides are `v`).
    * Payload per [[vecPayload]]; big regime: memory-bounded build sides
    * (the f32 vector payload is corpus-proportional — ∝ N/P per
    * partition at fixed P, the ×6561 OOM class); below the budget the
    * plan is the plain hinted join.
    */
  private def joinVectors(cands: DataFrame, v: DataFrame, idCol: String,
                          a: String, b: String): (DataFrame, Boolean) = {
    val big = vectorSideTooBig(v)
    val vp = vecPayload(v, idCol, big)
    val est = if (big) f32SideBytes(v) else BigInt(0)
    def vJoin(probe: DataFrame, key: String, s: String): DataFrame = {
      val side = vp.select(col(idCol).as(key), col("__v").as("v" + s), col("__n").as("n" + s))
      if (big) boundedHashJoin(probe, side, Seq(key), est) else probe.join(side, key)
    }
    (vJoin(vJoin(cands, a, "a"), b, "b"), big)
  }

  /** Exact-cosine rescore shared by the near-dup candidate paths
    * ([[cosineDups]], [[Semantic.semanticDups]]): keep the (id_a, id_b)
    * candidates with cosine ≥ `threshold`. Returns (id_a, id_b, cos).
    */
  private[sim] def rescorePairs(cands: DataFrame, v: DataFrame, idCol: String,
                                threshold: Double): DataFrame = {
    val (pairs, big) = joinVectors(cands, v, idCol, "id_a", "id_b")
    pairs.select(col("id_a"), col("id_b"),
        nanDiv(pairDot(big)(col("va"), col("vb")), col("na") * col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact-cosine top-k of id-only (query_id, neighbor_id) candidates,
    * shared by the ANN paths: the catalog regimes of [[ivfPipeline]]
    * and [[lshTopK]], and [[topKViaBounds]]' survivors.
    */
  private def rescoreTopK(cands: DataFrame, v: DataFrame, idCol: String,
                          k: Int): DataFrame = {
    val (pairs, big) = joinVectors(cands, v, idCol, "query_id", "neighbor_id")
    topK(pairs, k, floatVecs = big)
  }

  /** Exact cosine top-k from a prepped pair frame (va/na vs vb/nb). */
  private def topK(pairs: DataFrame, k: Int, floatVecs: Boolean = false): DataFrame = {
    val scored = pairs.select(col("query_id"), col("neighbor_id"),
      round(nanDiv(pairDot(floatVecs)(col("va"), col("vb")),
        col("na") * col("nb")), 6).as("cos"))
    // bounded top-k AGGREGATE, not a window: row_number().over(partitionBy
    // (query).orderBy(cos desc, id)) shuffles and sorts EVERY rescored
    // candidate row (queries × probed-list-size — the bulk of the ANN
    // job), while the aggregate keeps a k-entry buffer per query map-side
    // and shuffles ≤ k entries per (query, partition). Output identical
    // incl. the id tie-break (TopKSpec pins it against the window form)
    // for finite cosines; a zero-norm vector's null/NaN cos is excluded
    // rather than ranked (the window's desc sort put NaN first), so
    // degenerate embeddings never surface as neighbors;
    // measured interleaved in one JVM (min-of-3): the
    // brute-force all-pairs shape 5.06 → 3.51 s, an IVF-shaped 2M-row
    // synthetic candidates frame 0.38 → 0.36 s (wash — its 1000-row
    // groups sort cheaply; the win grows with rescored volume per group).
    scored.groupBy("query_id")
      .agg(graft.functions.AggF.topKNeighbors(col("neighbor_id"), col("cos"), k).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.cos").as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact top-k cosine neighbors per query vector (brute force).
    * Deterministic tie-break on neighbor id.
    */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val v = prepped(vecs, idCol, vecCol)
    val a = v.select(col(idCol).as("query_id"), col("__v").as("va"), col("__n").as("na"))
    val b = v.select(col(idCol).as("neighbor_id"), col("__v").as("vb"), col("__n").as("nb"))
    topK(a.join(b, col("query_id") =!= col("neighbor_id")), k)
  }

  /** All `planes × tables` hyperplane projections of `vec` in ONE pass —
    * the native codegen'd kernel ([[graft.functions.LshKernel]]; component
    * table precomputed once per process). The Column-fold twin
    * `SpecTwins.lshProjectionsHof` produces bit-identical sums (same
    * per-element accumulation order), which the s_lsh DuckDB oracle
    * replays.
    */
  def lshProjections(vec: Column, planes: Int, tables: Int): Column =
    VectorF.lshProj(vec.cast("array<double>"), planes * tables)

  /** Pack the sign bits of table `t`'s `planes` projections into a long. */
  def packSignature(proj: Column, table: Int, planes: Int): Column =
    (0 until planes).map { p =>
      when(element_at(proj, table * planes + p + 1) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Embedding-cosine near-duplicate pairs, EXACT form: all (a < b) pairs
    * with cosine ≥ `threshold`. O(n²) pair scoring — the verification
    * twin for [[cosineDups]]; only for probes/small slices.
    */
  def cosineDupsExact(vecs: DataFrame, idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val v = prepped(vecs, idCol, vecCol)
    val a = v.select(col(idCol).as("id_a"), col("__v").as("va"), col("__n").as("na"))
    val b = v.select(col(idCol).as("id_b"), col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        nanDiv(VectorF.dotp(col("va"), col("vb")), col("na") * col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed scale path:
    * candidate (a < b) pairs share an exact random-hyperplane signature
    * in ≥1 of `tables` tables; exact cosine rescoring keeps pairs ≥
    * `threshold`. Same signature kernel as [[lshTopK]]; `maxBucket`
    * drops degenerate buckets (all-near-identical crawl shards) from
    * pair generation. Recall rises with `tables` and falls with
    * `planes`; for true near-dups (cos ≥ 0.9) the default is spec-pinned
    * ≥ 0.9 recall.
    *
    * Two physical regimes, one output (QuantPrefilterSpec pins pair-set
    * + cosine equality across them): when the vector side fits the
    * broadcast threshold the plan is the oracle-audited catalog shape
    * (id-only candidates → distinct → broadcast rescore); when it does
    * not, an int8-quantized LOSSLESS cosine upper bound is fused into
    * the bucket self-join so failing pairs never leave the join's
    * stage — shuffle payload stays corpus-proportional instead of
    * candidate-proportional (see the branch comment for the ×243
    * byte measurements).
    */
  def cosineDups(vecs: DataFrame, idCol: String, vecCol: String,
                 threshold: Double, planes: Int = 8, tables: Int = 8,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    val v = prepped(vecs, idCol, vecCol)
    val cands = if (!vectorSideTooBig(v)) {
      // catalog/bench regime — UNCHANGED plan (PLANS + oracle gates):
      // id-only candidate dedup, vectors re-join after the distinct
      val bounded = capGroups(sigRows(v, idCol, planes, tables), maxBucket, "tbl", "sig")
      val a = bounded.select(col(idCol).as("id_a"), col("tbl"), col("sig"))
      val b = bounded.select(col(idCol).as("id_b"), col("tbl"), col("sig"))
      a.join(b, Seq("tbl", "sig"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      // Corpus-scale regime: fuse a LOSSLESS int8 cosine upper-bound
      // prefilter INTO the bucket self-join, so candidate pairs that
      // cannot reach `threshold` die inside the join's stage — they
      // never shuffle into the distinct and never join vectors again.
      // Payload economics at the fourth stress decade (×243): the
      // candidate stream is ~10⁸ pairs while the corpus is ~2.4×10⁷
      // sig rows, so moving the payload from the candidate-volume
      // rescore exchanges (measured 22.0 GB even after the float32
      // halving) to the corpus-volume signature exchange (~90 B/row
      // int8 struct, reused by BOTH join sides via ReusedExchange)
      // replaces candidate-proportional shuffle bytes with
      // corpus-proportional ones — the quantity a 1000-executor
      // cluster actually provisions for. Survivors (a superset of the
      // true pairs — [[graft.functions.QuantKernel]] proves the bound)
      // still go through the EXACT rescore below, so output semantics
      // are identical to the catalog branch; QuantPrefilterSpec pins
      // pair-set + cosine equality across regimes and the lossless
      // property on adversarial vectors.
      val bounded = capGroups(sigRows(withQuant(v), idCol, planes, tables, QuantCols),
        maxBucket, "tbl", "sig")
      boundedPairJoin(bounded, idCol, Seq("tbl", "sig"), threshold,
          estBytes = int8SideBytes(v, tables))
        .distinct()
    }
    rescorePairs(cands, v, idCol, threshold)
  }

  /** The shared (est, slack) pair BOTH bound directions are built
    * from — one definition, so the lb ≤ v·w ≤ ub sandwich cannot drift
    * asymmetric under a future edit to either formula.
    */
  private def estSlack(qa: Column, qb: Column): (Column, Column) = {
    val dotq = VectorF.dotpI8(qa.getField("q"), qb.getField("q")).cast("double")
    val est = qa.getField("s") * qb.getField("s") * dotq
    val slack = qb.getField("s") / 2 * qa.getField("l1") +
      qa.getField("s") / 2 * qb.getField("l1") +
      length(qa.getField("q")).cast("double") * qa.getField("s") * qb.getField("s") / 4
    (est, slack)
  }

  /** Upper bound on |f32cos − f64cos| for one rescored pair: the big
    * regime's exact stage scores float32 payloads ([[vecPayload]] —
    * |Δcos| ≤ ~2⁻²³ ≈ 1.2e-7 by Cauchy-Schwarz) while [[quantUpper]]/
    * [[quantLower]] bracket the FLOAT64 dot, so any comparison that
    * chains a bound against an f32-scored value must budget one drift
    * term per scored side. 2.5e-7 = 2·2⁻²³ (the worst pruned-vs-survivor
    * case compares two independently-scored pairs) + ~5% headroom; the
    * callers add their own additional headroom on top.
    */
  private[sim] val F32CosDrift = 2.5e-7

  /** Upper bound on the EXACT dot v·w of two int8-quantized vectors
    * (`struct<q, s, l1>` per [[graft.functions.QuantKernel]]):
    *
    *   v·w ≤ s_a·s_b·(q_a·q_b) + (s_b/2)‖a‖₁ + (s_a/2)‖b‖₁ + n·s_a·s_b/4
    *
    * with the integer dot exact, kept in PRODUCT form (compare against
    * threshold·‖a‖·‖b‖ — no division) and inflated 1e-9 relative —
    * absolute in (|est|+slack), so a negative est inflates upward
    * too — to dominate the handful of double roundings here.
    * QuantPrefilterSpec hammers the ≥-exact-dot property on
    * adversarial vectors.
    */
  private[sim] def quantUpper(qa: Column, qb: Column): Column = {
    val (est, slack) = estSlack(qa, qb)
    est + slack + (abs(est) + slack) * 1e-9
  }

  /** Lower-bound mirror of [[quantUpper]] (same inequality, minus the
    * slack): v·w ≥ est − slack, deflated by the same 1e-9 relative
    * margin. The top-k prefilter needs BOTH sides — upper bounds decide
    * survival, the k-th largest lower bound per query is the bar a
    * candidate's upper must clear. QuantPrefilterSpec pins ≤-exact-dot
    * on the same adversarial vectors as the upper bound.
    */
  private[sim] def quantLower(qa: Column, qb: Column): Column = {
    val (est, slack) = estSlack(qa, qb)
    est - slack - (abs(est) + slack) * 1e-9
  }

  /** The big regimes' int8 payload ([[graft.functions.QuantKernel]]) as
    * `__q` beside the prepped columns; [[QuantCols]] is the pair every
    * bounds join carries.
    */
  private def withQuant(v: DataFrame): DataFrame =
    v.withColumn("__q", VectorF.quantI8(col("__v")))

  private val QuantCols = Seq("__q", "__n")

  /** One side of a bounds join: `df`'s id as `id`, the join `keys`, and
    * the (__q, __n) payload as (q`s`, n`s`).
    */
  private def quantSide(df: DataFrame, idCol: String, id: String, s: String,
                        keys: Seq[Column]): DataFrame =
    df.select(col(idCol).as(id) +: keys :+ col("__q").as("q" + s) :+ col("__n").as("n" + s): _*)

  /** Bound-checked candidate pair self-join shared by the big-regime
    * near-dup paths ([[cosineDups]]' signature buckets,
    * [[Semantic.semanticDups]]' lists): self-join `bounded` —
    * (idCol, keyCols..., __q, __n) rows — on `keyCols`, keep
    * (id_a < id_b) pairs whose int8 cosine upper bound can reach
    * `threshold` (in product form, [[quantUpper]] ≥ t'·‖a‖·‖b‖), and
    * project id pairs. ONE definition of the prefilter comparison, so
    * the bound semantics can never drift between callers.
    *
    * t' = t − [[F32CosDrift]]: the exact stage downstream scores
    * FLOAT32 payloads while [[quantUpper]] brackets the float64 dot, so
    * a pair with f32cos ≥ t only guarantees f64cos ≥ t − ~1.2e-7 — at
    * the raw threshold the prefilter could drop a knife-edge pair its
    * own rescore would have kept. Deflating by the drift restores the
    * clean contract: the big regime's output is EXACTLY the f32-rescored
    * pair set (f64cos ≥ t ⇒ ub ≥ f64dot ≥ t·nanb ≥ t'·nanb survives
    * trivially; f32cos ≥ t ⇒ f64cos ≥ t − 1.2e-7 ⇒ ub ≥ (t−1.2e-7)·nanb
    * ≥ t'·nanb survives too — the prefilter never decides a pair, the
    * rescore does). The deflation only ever widens the survivor
    * superset, so cross-regime pair equality (QuantPrefilterSpec) and
    * every committed pair count are unchanged away from the ~2.5e-7
    * knife edge.
    */
  private[sim] def boundedPairJoin(bounded: DataFrame, idCol: String,
                                   keyCols: Seq[String], threshold: Double,
                                   estBytes: BigInt): DataFrame = {
    val a = quantSide(bounded, idCol, "id_a", "a", keyCols.map(col))
    val b = quantSide(bounded, idCol, "id_b", "b", keyCols.map(col))
    boundedHashJoin(a, b, keyCols, estBytes)
      .where(col("id_a") < col("id_b"))
      .where(quantUpper(col("qa"), col("qb")) >=
        lit(threshold - F32CosDrift) * col("na") * col("nb"))
      .select("id_a", "id_b")
  }

  /** Row-count cap for BROADCASTING the per-query bar frame into the
    * survivor filter (~28 B/row of (long, double) plus hash-relation
    * overhead → ~1.5 GB of broadcast at the cap — torrent-distributed
    * once per executor, the size class of a large dimension table).
    * Below it the bar join is a BroadcastHashJoin fused into the SAME
    * stage as the candidate join, so the candidate stream NEVER crosses
    * an exchange; above it (≫10⁷-query shards) the stream pays one
    * (query_id, neighbor_id, __ub) ≈ 24 B/row co-partitioning exchange
    * — still payload-free, and linear state per reducer. The round-13
    * ×2187 death this replaces re-shuffled the 2.2e9-row bounds stream
    * because the 4.37 M-query bar frame (~105 MB) sat just above the
    * 64 MB session broadcast ceiling — size-aware by ACTUAL row count
    * (the bar frame is persisted and counted; one corpus-proportional
    * materialization), not by Catalyst's multiplicative join-stats
    * estimate, which is meaningless above a candidate join.
    */
  private[sim] val BarBroadcastMaxRows: Long = 48L * 1024 * 1024

  /** Distinct-key budget for the bar aggregate's ObjectHashAggregate,
    * replacing the default 128-key sort-based fallback — the round-13
    * verdict's lead fix, second iteration. [[graft.functions
    * .TopKNeighbors]] is map-side-bounded BY DESIGN (≤ thresholdRank
    * entries per (query, partition) cross the wire), but Spark's
    * ObjectHashAggregate abandons its hash map at 128 DISTINCT KEYS
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) —
    * with millions of query ids per partition the partial aggregate
    * SORTS the entire candidate-volume input to disk (measured:
    * s_ivf2l's ×2187 run spilled a 2.2e9-row / ~87 GB bounds stream
    * twice and died on one node's ~60 GB free disk; the same mechanism
    * was stage 4's 52 GB spill in the s_lsh byte trail). The first fix
    * attempt — a mapPartitions pre-reduce with explicit flush epochs
    * (`BarPartial`, commit faedd20) — was MEASURED SLOWER than the
    * fallback sort it replaced (same-JVM interleaved A/B/C:
    * ×243 pre-reduce 18.1 s vs fallback-sort
    * 12.4 s vs raised-threshold 7.6 s; ×729 36.3 / 29.0 / 19.0 s):
    * leaving Tungsten rows for Scala tuples across the candidate
    * volume costs more than the sequential spill sort it avoids. The
    * kept fix raises the fallback threshold — scoped to the bar
    * materialization, restored in `finally` — so the partial keeps its
    * hash map and the whole segment stays codegen'd with ZERO extra
    * passes. Memory stays bounded by construction on both axes:
    *   - per KEY, the TopKBuf buffer holds ≤ thresholdRank entries
    *     (~160 + 16·r bytes with map-entry overhead);
    *   - per PARTITION, distinct query keys = nProbe·Q/P (each query's
    *     candidates live in its nProbe probed lists, and the partial
    *     runs on the probe join's list-partitioned output), which a
    *     deployment bounds by sizing P ∝ N — the budget here caps the
    *     map at `budgetBytes` regardless (≈ 1.1 M keys at rank 5,
    *     ≈ 0.3 M at LSH's k·tables ranks), past which the sort-based
    *     fallback returns for the residual keys — a safety valve, not
    *     the design point.
    */
  private[sim] def barFallbackKeys(thresholdRank: Int,
                                   budgetBytes: Long = 256L << 20): Int =
    math.max(128 * 1024, (budgetBytes / (160L + 16L * thresholdRank)).toInt)

  /** Lossless top-k candidate prefilter (two-phase bounded top-k), the
    * big-regime tail of [[ivfPipeline]] and [[lshTopK]]: join `probe`
    * (query_id, keys…, qa, na) to `build` (neighbor_id, keys…, qb, nb)
    * on `keys` ([[boundedHashJoin]], build side priced at `estBytes`),
    * drop self pairs and bound each candidate's cosine inside the join's
    * stage ([[cosBounds]] → __ub, __lb); then compute each query's bar =
    * the `thresholdRank`-th largest LOWER bound (no bar if a query has
    * fewer finite lowers), keep candidates whose UPPER bound clears it,
    * and exact-rescore only the survivors.
    *
    * Why the output is identical to exact top-k over ALL candidates:
    * the bounds bracket the FLOAT64 cosine while [[topK]] here scores
    * the FLOAT32 payload ([[vecPayload]] — |f32cos − f64cos| ≤ ~1.2e-7
    * per pair), so a dropped candidate d has f32(d) ≤ f64(d) + 1.2e-7 ≤
    * ub(d) + 1.2e-7 < bar − 1.5e-6 + 1.2e-7, while ≥ k distinct
    * surviving candidates cᵢ (rank semantics below; ub ≥ lb always)
    * have f32(cᵢ) ≥ f64(cᵢ) − 1.2e-7 ≥ lb(cᵢ) − 1.2e-7 ≥ bar − 1.2e-7.
    * The gap between any survivor's and any dropped candidate's scored
    * cosine is therefore > 1.5e-6 − 2·1.2e-7 = 1.26e-6 — more than one
    * 6dp rounding quantum. That matters because [[topK]] ranks cosines
    * ROUNDED to 6dp with an id tie-break: two scored cosines separated
    * by less than one quantum can round EQUAL, and then the id
    * tie-break could promote a pruned candidate in the exact-on-all
    * ordering; values separated by MORE than 1e-6 can never round
    * 6dp-equal, so the deflated bar restores strict post-rounding
    * dominance — every dropped candidate rounds strictly below k
    * survivors and loses under any tie-break. Margin budget for the
    * 1.5e-6: 1e-6 (one 6dp quantum) + 2.5e-7 ([[F32CosDrift]] — one
    * ~2⁻²³ term per scored side of the comparison) + 2.5e-7 headroom
    * (the quant bounds already carry their own 1e-9-relative FP
    * inflation). Degenerate pairs (NaN bounds from NaN/∞/zero-norm
    * vectors) SURVIVE the filter — Spark orders NaN above every double,
    * so NaN ub ≥ bar holds — and are then excluded by [[topK]] itself
    * (their exact cosine is NaN); correctness never depends on pruning
    * them.
    *
    * `thresholdRank` = k when each (query, candidate) appears once
    * (IVF: a neighbor is a member of its first probe list only, and a
    * query's probed lists are distinct). When a candidate can appear
    * up to `m` times (LSH: one occurrence per colliding table), pass
    * k·m: among the top k·m multiset entries at most (k−1)·m can come
    * from candidates strictly above the k-th distinct lower L_k, so
    * the k·m-th multiset lower ≤ L_k — a valid,
    * slightly looser bar (and per-occurrence filtering stays
    * deterministic per pair, so the post-filter distinct is unchanged
    * semantics). The threshold aggregate is the map-side-bounded
    * [[graft.functions.AggF.topKNeighbors]] — ≤ thresholdRank entries
    * shuffle per (query, partition), never the candidate volume.
    */
  private def topKViaBounds(probe: DataFrame, build: DataFrame, keys: Seq[String],
                            estBytes: BigInt, v: DataFrame, idCol: String,
                            k: Int, thresholdRank: Int, dedup: Boolean): DataFrame = {
    val spark = v.sparkSession
    val (ub, lb) = cosBounds(col("qa"), col("qb"), col("na"), col("nb"))
    val bounds = boundedHashJoin(probe, build, keys, estBytes)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), ub.as("__ub"), lb.as("__lb"))
    // The RAISED ObjectHashAggregate fallback threshold (see
    // barFallbackKeys — the default 128-key sort fallback spills the
    // candidate volume on one node) must be set BEFORE the bar frame is
    // built and persisted: CacheManager plans the InMemoryRelation's
    // child physical plan at persist() REGISTRATION, with the session
    // conf as of that moment — the round-14 shape raised the conf only
    // around thr.count(), which executes the already-planned cached
    // child, so the raise never reached the aggregate and the partial
    // still sort-spilled the whole candidate stream (round-15
    // stage-attributed decomposition: 11.18 GB spill and +10 s at
    // ×729, 0.00 GB with this ordering; the ×2187 run's 34 GB
    // "transient" was the same inert raise). Restored in `finally`
    // after the count materializes the cache; the downstream join
    // reads the persisted frame, never re-planning the aggregate.
    // CONCURRENCY ASSUMPTION: the raise mutates SESSION-scoped conf, so
    // a query planned concurrently on the same SparkSession inside this
    // window would plan its ObjectHashAggregates under the raised
    // threshold (harmless for map-side-bounded aggregates, a larger
    // hash map for unbounded ones), and the finally-restore could
    // clobber a concurrent conf change. This repo's harnesses are
    // sequential per session; a library consumer running concurrent
    // queries should hand this op its own spark.newSession() (conf is
    // per-session state — a cloned session isolates the raise).
    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val fbPrev = spark.conf.get(fbKey)
    val (thr, nQueries) =
      try {
        spark.conf.set(fbKey, barFallbackKeys(thresholdRank).toString)
        val t = Scope.persist(bounds
          .groupBy("query_id")
          .agg(graft.functions.AggF.topKNeighbors(col("neighbor_id"), col("__lb"),
            thresholdRank).as("__tk"))
          .select(col("query_id"),
            when(size(col("__tk")) < thresholdRank, lit(Double.NegativeInfinity))
              // bar deflated one 6dp rounding quantum + the f32-rescore
              // drift (+ headroom): see the post-rounding dominance
              // argument and margin budget in the scaladoc
              .otherwise(element_at(col("__tk"), thresholdRank).getField("cos") - 1.5e-6)
              .as("__thr")))
        // size-aware bar join (one corpus-proportional count on the
        // persisted bar frame — the only eager step this op adds):
        // within BarBroadcastMaxRows the bar BROADCASTS and the
        // survivor filter fuses into the candidate join's stage — the
        // candidate stream never crosses an exchange; past the cap it
        // co-partitions on query_id (24 B/row, payload-free) instead —
        // never a sort, never a payload.
        (t, t.count())
      } finally spark.conf.set(fbKey, fbPrev)
    val kept = (if (nQueries <= BarBroadcastMaxRows)
        bounds.join(broadcast(thr), "query_id")
      else
        // bar rows are (long, double) ≈ 28 B raw × the ~2× in-map
        // overhead every LongToUnsafeRowMap build pays ([[InMapFactor]]
        // — round-16 ADVICE: the raw figure underpriced the guard 2×);
        // the count is exact (the cache-materializing count above)
        boundedHashJoin(bounds, thr, Seq("query_id"),
          BigInt(nQueries) * 28 * InMapFactor))
      .where(col("__ub") >= col("__thr"))
      .select("query_id", "neighbor_id")
    val surv = if (dedup) kept.distinct() else kept
    rescoreTopK(surv, v, idCol, k)
  }

  /** Cosine bounds for a joined candidate row carrying two quantized
    * payloads and both norms: ([[quantUpper]], [[quantLower]]) divided
    * by the norm product (norms ≥ 0, so division preserves both
    * inequalities; a zero norm yields NaN bounds via [[nanDiv]] — such
    * pairs pass the NaN-greatest filter and are excluded by [[topK]]'s
    * NaN handling, exactly like their NaN exact cosine).
    */
  private def cosBounds(qa: Column, qb: Column, na: Column, nb: Column): (Column, Column) =
    (nanDiv(quantUpper(qa, qb), na * nb), nanDiv(quantLower(qa, qb), na * nb))

  /** (id, tbl, sig, extra…) signature rows — one projection kernel pass,
    * one explode — shared by [[cosineDups]] and [[lshTopK]] in both
    * regimes; the big regimes pass [[QuantCols]] as `extra`, the catalog
    * regimes nothing (their plans unchanged).
    */
  private def sigRows(v: DataFrame, idCol: String, planes: Int, tables: Int,
                      extra: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol) +: extra.map(col)
    v.select(keep :+ lshProjections(col("__v"), planes, tables).as("__p"): _*)
      .select(keep :+ explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), packSignature(col("__p"), t, planes).as("sig"))): _*)).as("s"): _*)
      .select(col(idCol) +: col("s.tbl") +: col("s.sig") +: extra.map(col): _*)
  }

  /** [[cosineDups]] with the LSH plane count chosen from the corpus
    * size by the documented capacity-∝-corpus rule ([[Capacity]]), so
    * the ×10/×30/×81-proven configuration is one call. `corpusRows` is
    * an explicit caller-supplied estimate (a deployment knows its table
    * size; no hidden `count()` job) — at the sf0.1 reference scale it
    * degenerates to the oracle-checked catalog configuration.
    */
  def cosineDupsAuto(vecs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, corpusRows: Long, tables: Int = 8,
                     maxBucket: Int = Int.MaxValue): DataFrame =
    cosineDups(vecs, idCol, vecCol, threshold,
      planes = Capacity.lshPlanes(corpusRows, basePlanes = 8),
      tables = tables, maxBucket = maxBucket)

  /** Per-row nearest-centroid ranking: every vector row gets the FULL
    * centroid table as one broadcast array column and computes its
    * `nProbe` nearest list ids (L2, ties → smallest list id) inside a
    * single projection — the codegen'd [[graft.functions.NearestKernel]]
    * top-k loop. ZERO shuffle and zero N×nLists row
    * materialization; the former shape (crossJoin(broadcast(centroids))
    * + row_number over partitionBy(id)) shuffled N×nLists ~1KB
    * vector-carrying rows through the window — twice, once per consumer
    * (assignment and probing) — which made s_ivf2 the 2nd-slowest
    * catalog query and is exactly the shuffle that breaks first at
    * corpus scale (the per-row form's cost is the N·nLists·dim distance
    * arithmetic itself, which is inherent to IVF-Flat assignment).
    *
    * FP semantics match the window form bit-for-bit: the distance is
    * the same `v·v + c·c − 2·v·c` double arithmetic (`cc` precomputed
    * per centroid is the same double; `v·v` hoisted per row is the same
    * double), and struct ordering on (d, list) reproduces
    * `ORDER BY cd ASC, list ASC` — so the DuckDB oracle's window
    * formulation still matches value-for-value.
    *
    * Returns one row per input vector: (idCol, lists: array<int> of the
    * nProbe nearest list ids, nearest first).
    */
  private[graft] def nearestLists(v: DataFrame, idCol: String,
                                  centroids: DataFrame, nProbe: Int,
                                  extra: Seq[String] = Nil): DataFrame = {
    val centArr = centroids.agg(
      array_sort(collect_list(struct(col("list"), col("centroid"),
        VectorF.dotp(col("centroid"), col("centroid")).as("cc")))).as("__cents"))
    perRowLists(v, idCol, extra, centArr,
      VectorF.nearestLists(col("__v"), col("__cents"), nProbe))
  }

  /** The 1-row broadcast-cross shape every quantizer kernel runs in:
    * `table` (one row holding the quantizer) crosses onto `v`, and
    * `kernel` (over `__v` and the table's column) becomes `lists`.
    * `extra` columns of v ride along unchanged (the big regimes carry
    * the quantized payload through probing); the default Nil keeps the
    * catalog projection — and plan — as-was.
    */
  private def perRowLists(v: DataFrame, idCol: String, extra: Seq[String],
                          table: DataFrame, kernel: Column): DataFrame =
    v.select((col(idCol) +: extra.map(col) :+ col("__v")): _*)
      .crossJoin(broadcast(table))
      .select(col(idCol) +: extra.map(col) :+ kernel.as("lists"): _*)

  /** Bounded-sample k-means coarse quantizer shared by [[ivfTopK]] and
    * [[Semantic]]. A coarse quantizer doesn't need a converged
    * clustering — recall comes from probing `nProbe` lists, not centroid
    * quality. Random init (one pass) + few Lloyd iterations replaces
    * k-means|| init + 20 iterations: same recall (spec-pinned >=0.9),
    * ~3x fewer jobs. Trains on a bounded SAMPLE: at 100 TB the Lloyd
    * iterations must not scan the corpus — ~3k points per centroid fixes
    * quantizer quality independently of corpus size (the caller's
    * assignment pass still covers every vector). Small corpora
    * (< ~3k/list) train on everything, keeping k <= n at every scale.
    */
  private[sim] def fitQuantizer(feats: DataFrame, nLists: Int, seed: Long)
      : org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    val sampleTarget = nLists * 3000L
    val n = feats.count()
    val train = if (n > sampleTarget)
      feats.sample(withReplacement = false, sampleTarget.toDouble / n, seed)
    else feats
    new KMeans().setK(math.min(nLists.toLong, n).toInt).setSeed(seed)
      .setInitMode("random").setMaxIter(5).setTol(1e-3)
      .fit(train)
  }

  /** The fitted centroids as a (list, centroid: array<double>) frame. */
  private[sim] def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame =
    spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("list", "centroid")

  /** A fitted two-level (hierarchical) quantizer:
    *   - `structure`: ONE row holding the nested
    *     `__cells: array<struct<gcent, gcc, fines: array<struct<list,
    *     centroid, cc>>>>` the membership kernel
    *     ([[graft.functions.TwoLevelKernel]]) walks — broadcast onto
    *     the corpus exactly like the single-level centroid array;
    *   - `centroids`: the flat (list, centroid) frame (global fine list
    *     numbering), for the SemDeDup keep-farthest re-pick and specs.
    * Cells that drew no training rows are dropped; per-cell fine counts
    * are sample-share-proportional, so Σ fine ≈ the requested nLists.
    */
  private[graft] case class TwoLevelQuantizer(structure: DataFrame, centroids: DataFrame)

  private val tlFineSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("list",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("cc",
      org.apache.spark.sql.types.DoubleType, nullable = false)))
  private val tlCellSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("gcent",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("gcc",
      org.apache.spark.sql.types.DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("fines",
      org.apache.spark.sql.types.ArrayType(tlFineSchema, containsNull = false),
      nullable = false)))

  /** Fit the two-level quantizer: G = ⌈√nLists⌉ coarse cells via the
    * bounded-sample MLlib fit ([[fitQuantizer]] — a coarse quantizer
    * needs balance, not convergence), then per-cell fine centroids via
    * ONE distributed pass — the bounded training sample is coarse-
    * assigned with the broadcast kernel (zero shuffle) and each cell's
    * rows run a local deterministic Lloyd inside `flatMapGroups` (one
    * bounded exchange, cells fit in parallel on executors; rows are
    * sorted by value inside the group so the fit is independent of
    * shuffle arrival order — TwoLevelSpec pins run-to-run determinism).
    * Fine-list counts are allocated ∝ the cell's sample share, so the
    * corpus-wide rows/list target is preserved cell by cell.
    *
    * Every term is √nLists-scale per row: the coarse fit touches
    * ≤ 3000·G sampled rows, the sample's coarse assignment is G dots
    * per row, and each cell's Lloyd is (cellRows · cellFines · dim ·
    * iters) ≈ rows·√nLists·dim·5 summed over cells. Nothing is
    * N·nLists — the single-level quadratic this replaces (see
    * [[graft.functions.TwoLevelKernel]] for the measured law and the
    * measured infeasibility of an exact pruned variant on this
    * geometry).
    *
    * `v` is the prepped (persisted) vector frame; the training sample
    * is unpersisted before returning (both fits are eager).
    */
  private[graft] def fitTwoLevelQuantizer(v: DataFrame, nLists: Int,
                                          seed: Long): TwoLevelQuantizer = {
    import org.apache.spark.ml.functions.array_to_vector
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    val spark = v.sparkSession
    val g = math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val n = v.count()
    require(n > 0, "fitTwoLevelQuantizer: empty corpus")
    // one bounded sample serves both levels: >= 3000·G rows for the
    // coarse fit (the fitQuantizer budget) and ~192 rows per requested
    // fine list for the per-cell fits (under the ~125 rows/list
    // capacity rule that is the whole corpus — the fine fit's WORK is
    // still √nLists per row; only tiny-nLists callers sample down)
    val sampleTarget = math.max(3000L * g, 192L * nLists)
    // degenerate vectors (NaN/±Inf components) carry no geometry and
    // MLlib's KMeans rejects them — exclude them from the FIT only;
    // at assignment time the membership kernel gives such rows the
    // documented deterministic memberships ([[graft.functions
    // .TwoLevelKernel]]), so they still flow through the pair paths
    val finite = v.select(col("__v")).where(!exists(col("__v"),
      x => isnan(x) || abs(x) === lit(Double.PositiveInfinity)))
    val train = Scope.persist(if (n > sampleTarget)
      finite.sample(withReplacement = false, sampleTarget.toDouble / n, seed)
    else finite)
    try {
      val trainCnt = train.count()
      require(trainCnt > 0,
        "fitTwoLevelQuantizer: no finite training vectors (empty or all-degenerate corpus)")
      val coarseModel = fitQuantizer(
        train.select(array_to_vector(col("__v")).as("features")), g, seed)
      val coarseCents = coarseModel.clusterCenters.map(_.toArray)
      val coarseFrame = centroidFrame(spark, coarseModel)
      // coarse-assign the sample with the broadcast single-level kernel
      // (G centroids — this pass is the cheap level) and fit each
      // cell's fines locally on its rows, in parallel
      val centArr = coarseFrame.agg(
        array_sort(collect_list(struct(col("list"), col("centroid"),
          VectorF.dotp(col("centroid"), col("centroid")).as("cc")))).as("__cents"))
      val assigned = train.crossJoin(broadcast(centArr))
        .select(element_at(VectorF.nearestLists(col("__v"), col("__cents"), 1), 1)
          .as("cell"), col("__v"))
      import spark.implicits._
      val fineRows: Array[(Int, Int, Array[Double])] = assigned
        .as[(Int, Array[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (cell: Int, it: Iterator[(Int, Array[Double])]) =>
          val pts = it.map(_._2).toArray
          TwoLevelFit.sortLex(pts)
          val k = math.min(pts.length,
            math.max(1, math.round(pts.length.toDouble / trainCnt * nLists).toInt))
          val cents = TwoLevelFit.localLloyd(pts, k, iters = 5,
            seed = seed ^ (cell.toLong * 0x9E3779B97F4A7C15L))
          cents.iterator.zipWithIndex.map { case (c, i) => (cell, i, c) }
        }
        .collect()
      // global fine-list numbering: (cell, within-cell index) ascending
      val byCell = fineRows.groupBy(_._1).toSeq.sortBy(_._1)
      val flat = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
      val cellRows = byCell.map { case (cell, rows) =>
        val gcent = coarseCents(cell)
        val fines = rows.sortBy(_._2).map { case (_, _, cen) =>
          flat += ((flat.size, cen.toSeq))
          org.apache.spark.sql.Row(flat.size - 1, cen.toSeq, TwoLevelFit.dotLR(cen, cen))
        }
        org.apache.spark.sql.Row(gcent.toSeq, TwoLevelFit.dotLR(gcent, gcent),
          fines.toSeq)
      }
      val structure = spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(cellRows)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__cells",
            org.apache.spark.sql.types.ArrayType(tlCellSchema, containsNull = false),
            nullable = false))))
      val centroids = spark.createDataFrame(flat.toSeq).toDF("list", "centroid")
      TwoLevelQuantizer(structure, centroids)
    } finally Scope.release(train)
  }

  /** Two-level membership projection: each row of `v` (prepped; `extra`
    * columns ride along) gets `lists` = its fine-list memberships from
    * ONE broadcast-kernel pass ([[graft.functions.TwoLevelKernel]] —
    * (G + cProbe·√nLists)·dim work per row, zero shuffle; the same
    * 1-row broadcast-cross shape as [[nearestLists]]).
    */
  private[graft] def twoLevelMemberships(v: DataFrame, idCol: String,
                                         structure: DataFrame, cProbe: Int,
                                         extra: Seq[String] = Nil): DataFrame =
    perRowLists(v, idCol, extra, structure,
      VectorF.twoLevelMemberships(col("__v"), col("__cells"), cProbe))

  /** The one IVF top-k body behind [[ivfTopK]], [[ivfTopKTwoLevel]]
    * and [[ivfTopKFixed]], which differ only in how a row gets its probe
    * lists: `lists(vIn, extra)` returns (idCol, extra…, lists) with the
    * row's nProbe nearest lists, nearest first — so the FIRST list is
    * the row's assignment and the whole array its probe set. The probe
    * frame is persisted: assignment and probing both derive from it, and
    * it is small (id + nProbe ints per row, + the int8 payload in the big
    * regime). Every neighbor is a member of exactly one list and a
    * query's probed lists are distinct, so (query, neighbor) candidates
    * are unique by construction — no dedup shuffle.
    *
    * Catalog/bench regime: candidate equi-join on `list` → exact
    * rescore ([[rescoreTopK]]; the audited s_ivf2 / s_ivf2l__full
    * plans). Corpus-scale regime (vector side past broadcast): the probe
    * frame carries the int8 payload (~90 B/row, CORPUS-proportional
    * exchanges), cosine bounds compute INSIDE the probe join, and only
    * bar-clearing survivors (≈ k per query) reach the exact f32 rescore
    * ([[topKViaBounds]]) — the ×729 stress is the byte evidence (s_ivf2's
    * f32 rescore payload, ~100 GB of candidate-volume shuffle, exceeded
    * one node's disk at the fifth decade). `v` is the prepped, persisted
    * vector frame.
    */
  private def ivfPipeline(v: DataFrame, idCol: String, k: Int, nProbe: Int,
                          lists: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val big = vectorSideTooBig(v)
    val near = Scope.persist(
      if (big) lists(withQuant(v), QuantCols) else lists(v, Nil))
    def side(id: String, s: String, list: Column): DataFrame =
      if (big) quantSide(near, idCol, id, s, Seq(list.as("list")))
      else near.select(col(idCol).as(id), list.as("list"))
    val assigned = side("neighbor_id", "b", element_at(col("lists"), 1))
    val probes = side("query_id", "a", explode(col("lists")))
    if (!big)
      rescoreTopK(probes.join(assigned, "list")
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id"), v, idCol, k)
    else topKViaBounds(probes, assigned, Seq("list"),
      int8SideBytes(v) + barPartialBytes(v.count(), nProbe, k), v, idCol, k,
      thresholdRank = k, dedup = false)
  }

  /** IVF (inverted-file) ANN: an MLlib k-means coarse quantizer
    * ([[fitQuantizer]], trained on a bounded sample) gives `nLists`
    * centroids; each row's `nProbe` nearest of them ([[nearestLists]] —
    * argmin L2, ties → smallest list id) are its probe lists, the first
    * its assignment, and exact cosine is scored only inside the probed
    * lists ([[ivfPipeline]]). The scale shape is the classic IVF-Flat:
    * quantizer training is MLlib-distributed, assignment and probing are
    * one corpus × centroids scoring pass (centroids broadcast — nLists ≪
    * corpus), and candidate generation is an equi-join on the list id.
    * Deterministic for a fixed seed.
    */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
              nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val v = Scope.persist(prepped(vecs, idCol, vecCol))
    val centroids = centroidFrame(v.sparkSession, fitQuantizer(
      v.select(col(idCol), array_to_vector(col("__v")).as("features")), nLists, seed))
    ivfPipeline(v, idCol, k, nProbe, nearestLists(_, idCol, centroids, nProbe, _))
  }

  /** [[ivfTopK]] with the inverted-list count chosen from the corpus
    * size ([[Capacity.ivfNLists]]: lists ∝ corpus at ~125 rows/list,
    * capped at 2²⁰). `corpusRows` is an explicit caller estimate — no
    * hidden `count()`.
    */
  def ivfTopKAuto(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                  corpusRows: Long, nProbe: Int = 4, seed: Long = 42L): DataFrame =
    ivfTopK(vecs, idCol, vecCol, k,
      nLists = Capacity.ivfNLists(corpusRows), nProbe = nProbe, seed = seed)

  /** [[ivfTopK]]'s TWO-LEVEL sibling — the versioned-scope fix for the
    * flat quantizer's N·nLists assignment arithmetic (~34 s of s_ivf2's
    * 122.8 s at the ×729 stress decade; the full argument and the
    * measured infeasibility of an exact pruned assignment live on
    * [[graft.functions.TwoLevelKernel]] / [[Semantic.semanticDupsTwoLevel]]):
    * a hierarchical quantizer ([[fitTwoLevelQuantizer]]) gives every
    * row, in ONE kernel pass, its nProbe (d, list)-lexicographically
    * nearest fine lists over the UNION of its (nProbe + 2) nearest
    * cells' fines ([[graft.functions.TwoLevelKernel.probeLists]] — the
    * +2 cell slack buys union quality at √nLists cost): the array's
    * FIRST element is the row's assignment and the whole array its
    * probe set — the [[ivfTopKFixed]] `lists` shape. Candidates are
    * unique by construction (one list per neighbor, probed lists
    * distinct), exact cosine rescoring on candidates only; the big
    * regime rides the int8 bounds + [[topKViaBounds]] bar exactly like
    * [[ivfTopK]]. Deterministic for a fixed seed. Recall differs from
    * the flat op's (both assignment and probing see only the nearby
    * cells' fines) — TwoLevelSpec pins the measured contract RELATIVE
    * to the flat op on the same seeded isotropic-worst-case corpus:
    * mean recall@5 = 0.693 vs the flat op's 0.703 at the catalog shape
    * (nLists 16, nProbe 4, 1700 rows) — within one point, at
    * (1+cProbe)·√nLists assignment work instead of N·nLists. (A first
    * design probing the nearest fine PER cell measured 0.552 — the
    * union top-k composition is what closes the gap; the dedup scope
    * keeps per-cell-nearest because its measured PAIR recall there is
    * 0.969, better than flat.)
    */
  def ivfTopKTwoLevel(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                      nLists: Int = 16, nProbe: Int = 4,
                      seed: Long = 42L): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cProbe = nProbe + 2
    val v = Scope.persist(prepped(vecs, idCol, vecCol))
    val tl = fitTwoLevelQuantizer(v, nLists, seed)
    ivfPipeline(v, idCol, k, nProbe, (vIn, extra) => perRowLists(vIn, idCol, extra,
      tl.structure, VectorF.twoLevelProbes(col("__v"), col("__cells"), cProbe, nProbe)))
  }

  /** [[ivfTopKTwoLevel]] with the list count from the FLAT capacity
    * rule ([[Capacity.ivfNLists]], ~125 rows/list — NOT the dedup
    * family's occupancy-halving [[Capacity.twoLevelNLists]]: top-k
    * probe-verify work is candidates-per-query = nProbe·rowsPerList
    * regardless of how lists are selected, so the flat rule's list
    * geometry is the right one; only the assignment/probing MECHANISM
    * changes, N·nLists → (1+nProbe)·√nLists per row). `corpusRows` is
    * an explicit caller estimate — no hidden `count()`.
    */
  def ivfTopKTwoLevelAuto(vecs: DataFrame, idCol: String, vecCol: String,
                          k: Int, corpusRows: Long, nProbe: Int = 4,
                          seed: Long = 42L): DataFrame =
    ivfTopKTwoLevel(vecs, idCol, vecCol, k,
      nLists = Capacity.ivfNLists(corpusRows),
      nProbe = nProbe, seed = seed)

  /** IVF with a FIXED deterministic coarse quantizer: the centroids are
    * the `nLists` lowest-id vectors (no k-means fit — pure relational
    * plan), assignment is argmin L2 over the broadcast centroids (ties →
    * smallest list id), probing/candidates/rescoring the shared
    * [[ivfPipeline]]. Quantizer quality is worse than k-means, recall comes
    * from `nProbe` — and every step replays in SQL, so this variant is
    * DuckDB-oracle-checkable end to end (the MLlib path keeps the
    * rows-only + recall-spec check).
    */
  def ivfTopKFixed(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                   nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val v = Scope.persist(prepped(vecs, idCol, vecCol))
    val centroids = v.orderBy(col(idCol)).limit(nLists)
      .select(row_number().over(Window.partitionBy(lit(1)).orderBy(idCol)).as("__rn"),
        col("__v").as("centroid"))
      .select((col("__rn") - 1).as("list"), col("centroid"))
    ivfPipeline(v, idCol, k, nProbe, nearestLists(_, idCol, centroids, nProbe, _))
  }

  /** ANN via LSH buckets: candidates share the exact signature in at least
    * one of `tables` independent hyperplane tables; exact cosine re-scoring
    * on candidates only.
    *
    * `maxBucket` guards the 100 TB worst case: a bucket of b rows emits
    * b² candidate pairs, so one degenerate bucket (all-near-identical
    * embeddings — common in crawl data) can dominate the whole job. Buckets
    * larger than the cap are dropped from candidate generation (their
    * members still pair via their other `tables−1` signatures).
    *
    * MEASURED SCALE BOUNDARY (round 13, the ×2187 stress decade): on a
    * corpus with Θ(N²) MODERATE-cosine pairs, LSH top-k's candidate
    * mass is super-linear BY LAW — a pair at angle θ collides per
    * table with probability (1−θ/π)^planes, so the +1-plane-per-
    * doubling capacity rule dilutes such pairs by only (1−θ/π)² ≈
    * 0.4–0.6 per doubling while their count grows 4×. At ×2187
    * (4.374 M isotropic rows, 4.8e-4 of pairs above cos 0.4, 24
    * planes) the bucket join emitted 3.19e9 candidate occurrences
    * (52 GB) and died on one node's disk, with the bucket histogram
    * showing the mass in ~3 500 buckets of ≤ 5 305 rows — no
    * `maxBucket` cap removes it without destroying recall (the
    * candidates ARE similar-ish pairs: the same collision physics that
    * gives LSH recall). Corpus-scale top-k past this regime belongs to
    * the IVF family ([[ivfTopKTwoLevel]] — candidates bounded per
    * query BY CONSTRUCTION); lshTopK stays the right op for
    * high-threshold near-dup candidate generation and for corpora
    * whose similarity mass is thin. Five stress decades (through ×729,
    * 56.3 s ratio 112) are committed in LEDGER.md.
    */
  def lshTopK(vecs: DataFrame, idCol: String, vecCol: String,
              k: Int, planes: Int = 12, tables: Int = 4,
              maxBucket: Int = Int.MaxValue): DataFrame = {
    val v = prepped(vecs, idCol, vecCol)
    if (!vectorSideTooBig(v)) {
      // catalog/bench regime — UNCHANGED plan. id-only candidate pairs:
      // the distinct shuffles 16 bytes per pair, not two embedding
      // vectors.
      val bounded = capGroups(sigRows(v, idCol, planes, tables), maxBucket, "tbl", "sig")
      val a = bounded.select(col(idCol).as("query_id"), col("tbl"), col("sig"))
      val b = bounded.select(col(idCol).as("neighbor_id"), col("tbl"), col("sig"))
      val cands = a.join(b, Seq("tbl", "sig"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct()
      rescoreTopK(cands, v, idCol, k)
    } else {
      // corpus-scale regime: the cosineDups fusion transposed to top-k —
      // quantized payloads ride the (reused) signature exchange, bounds
      // compute inside the bucket self-join, and the bar is the
      // (k·tables)-th largest multiset lower bound (a candidate appears
      // once per colliding table; see topKViaBounds for why that rank
      // stays lossless). Survivor occurrences — not all collisions —
      // feed the distinct, then the exact rescore.
      //
      // v is persisted HERE (ivfTopK's shape): it feeds the signature
      // kernel, the guard's exact count, and the final rescore — the
      // unpersisted first cut re-ran the whole prep kernel as an extra
      // eager corpus pass just to price barPartialBytes (round-16
      // ADVICE). The count below materializes the cache, which also
      // makes int8SideBytes' optimizer estimate cache-accurate. Catalog
      // regime (the branch above) is untouched — no persist, plans
      // byte-identical.
      Scope.persist(v)
      val corpusRows = v.count()
      val bounded = capGroups(sigRows(withQuant(v), idCol, planes, tables, QuantCols),
        maxBucket, "tbl", "sig")
      val keys = Seq("tbl", "sig")
      topKViaBounds(quantSide(bounded, idCol, "query_id", "a", keys.map(col)),
        quantSide(bounded, idCol, "neighbor_id", "b", keys.map(col)), keys,
        int8SideBytes(v, tables) + barPartialBytes(corpusRows, tables, k * tables),
        v, idCol, k, thresholdRank = k * tables, dedup = true)
    }
  }

  /** [[lshTopK]] with the per-table plane count chosen from the corpus
    * size ([[Capacity.lshPlanes]]: +1 plane per corpus doubling keeps
    * expected bucket occupancy constant). `corpusRows` is an explicit
    * caller estimate — no hidden `count()`.
    *
    * PAST [[Capacity.LshTopKMaxRows]] this entry point ROUTES to
    * [[ivfTopKTwoLevelAuto]] (round-13 verdict #3): the ×2187 stress
    * decade measured LSH top-k's candidate mass super-linear BY LAW on
    * Θ(N²)-moderate-cosine corpora (the collision arithmetic and the
    * instrumented death are on [[Capacity.LshTopKMaxRows]]), so a
    * deployment sizing by `corpusRows` must not be able to walk off the
    * documented cliff via the Auto API. The routed call is the IVF
    * family's own Auto configuration (default nProbe, [[Capacity
    * .ivfNLists]] lists at the default seed); `tables`/`maxBucket` are
    * LSH-mechanism parameters with no IVF analog and are ignored on the
    * routed path — output semantics are "top-k by an ANN index sized
    * for this corpus", which is the only contract an Auto entry point
    * can keep across the boundary (CapacitySpec pins the crossover and
    * the routed-equals-direct identity). Callers wanting the LSH
    * mechanism past the boundary call [[lshTopK]] explicitly and own
    * its documented law.
    */
  def lshTopKAuto(vecs: DataFrame, idCol: String, vecCol: String,
                  k: Int, corpusRows: Long, tables: Int = 4,
                  maxBucket: Int = Int.MaxValue): DataFrame =
    if (Capacity.lshTopKRoutesToIvf(corpusRows))
      ivfTopKTwoLevelAuto(vecs, idCol, vecCol, k, corpusRows)
    else
      lshTopK(vecs, idCol, vecCol, k,
        planes = Capacity.lshPlanes(corpusRows), tables = tables,
        maxBucket = maxBucket)
}

/** Executor-side helpers for the two-level quantizer's per-cell fine
  * fit ([[Similarity.fitTwoLevelQuantizer]]'s `flatMapGroups`) — a
  * dedicated Serializable object so the closure never drags the
  * enclosing module graph into the task serializer.
  */
private[sim] object TwoLevelFit extends Serializable {

  /** Total-order lexicographic sort of the cell's rows by VALUE
    * (java.lang.Double.compare — NaN ordered), so the fit is
    * deterministic regardless of shuffle arrival order without needing
    * an id column; equal vectors are interchangeable for Lloyd (the
    * init picks indices, and swapping equal values changes nothing).
    */
  def sortLex(pts: Array[Array[Double]]): Unit =
    java.util.Arrays.sort(pts, new java.util.Comparator[Array[Double]] {
      override def compare(a: Array[Double], b: Array[Double]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Double.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a.length, b.length)
      }
    })

  /** Plain seeded Lloyd on a local point set: Fisher-Yates index init,
    * `iters` assign/mean rounds (assignment ties → smaller centroid
    * index; empty clusters keep their previous centroid), means
    * accumulated in input order — fully deterministic for a fixed
    * (sorted) input and seed. A coarse-structure fit needs balance,
    * not convergence (the [[Similarity.fitQuantizer]] argument), and
    * per-cell point sets are sample-bounded, so this runs in
    * milliseconds per cell. Requires 1 ≤ k ≤ pts.length.
    */
  def localLloyd(pts: Array[Array[Double]], k: Int, iters: Int,
                 seed: Long): Array[Array[Double]] = {
    val n = pts.length
    require(k >= 1 && k <= n, s"localLloyd: k=$k n=$n")
    val dim = pts(0).length
    val rnd = new java.util.Random(seed)
    val idx = Array.tabulate(n)(identity)
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    val cents = Array.tabulate(k)(c => pts(idx(c)).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < n) {
        val pt = pts(p)
        var best = Double.PositiveInfinity
        var bi = 0
        var c = 0
        while (c < k) {
          val ce = cents(c)
          var d = 0.0
          var m = 0
          while (m < dim) { val df = pt(m) - ce(m); d += df * df; m += 1 }
          if (d < best) { best = d; bi = c }
          c += 1
        }
        assign(p) = bi
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      var p2 = 0
      while (p2 < n) {
        val s = sums(assign(p2))
        val pt = pts(p2)
        var m = 0
        while (m < dim) { s(m) += pt(m); m += 1 }
        cnt(assign(p2)) += 1
        p2 += 1
      }
      var c2 = 0
      while (c2 < k) {
        if (cnt(c2) > 0) {
          val s = sums(c2)
          var m = 0
          while (m < dim) { s(m) /= cnt(c2); m += 1 }
          cents(c2) = s
        }
        c2 += 1
      }
      it += 1
    }
    cents
  }

  /** Left-to-right double dot of an array with itself — the same
    * accumulation order as [[graft.functions.DotProduct]], so the cc
    * values the kernel reads match what a Spark-side dotp would
    * produce on the same doubles.
    */
  def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}
