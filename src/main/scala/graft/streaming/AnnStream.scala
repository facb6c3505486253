package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.QuantKernel

/** One hyperplane-LSH-banded vector row: `bucket` renders (table,
  * signature), `vec` is the double-cast embedding. Top-level for
  * encoders.
  */
case class VecBanded(bucket: String, id: Long, vec: Array[Double], ts: Long)

case class VecEntry(id: Long, vec: Array[Double], norm: Double, ts: Long)

case class VecBucketState(docs: List[VecEntry], inert: Boolean)

/** Thresholded-mode bucket entry: float32 payload (the batch big
  * regime's rescore precision — [[graft.sim.Similarity]]'s vecPayload)
  * plus the int8 prefilter struct and the norm, all derived from the
  * SAME float32-widened doubles so the bound provably brackets the
  * scored dot. 5·dim + 24 bytes vs the unthresholded entry's 8·dim —
  * ~37% smaller state at dim 64 on top of the pruned dot work.
  */
case class QVecEntry(id: Long, vec32: Array[Float], q: Array[Byte],
                     s: Double, l1: Double, norm: Double, ts: Long)

case class QVecBucketState(docs: List[QVecEntry], inert: Boolean)

case class AnnCandidate(id_a: Long, id_b: Long, cos: Double)

/** STREAMING embedding-cosine near-duplicate candidates — the §2.8 twin
  * of [[graft.sim.Similarity.cosineDups]]' candidate stage: "is this
  * incoming embedding a near-dup of anything recent?" over an unbounded
  * vector stream.
  *
  * Per arriving vector: the one-pass hyperplane projection kernel →
  * per-table sign signatures (per-row maps, no shuffle) → ONE shuffle on
  * the (table, signature) bucket into `flatMapGroupsWithState`. Each
  * arrival emits a candidate pair against every retained vector in its
  * bucket with the EXACT cosine (left-to-right dot-product accumulation,
  * the same order as `VectorF.dotp` and the DuckDB oracle — bit-stable
  * cross-engine).
  *
  * TWO MODES (threshold = None is the oracle-checked catalog op,
  * byte-identical to the pre-round-13 behavior):
  *   - None: every bucket pair is a candidate, scored float64 — the
  *     output is candidate-volume by definition.
  *   - Some(t): only pairs with cosine ≥ t are emitted, and the batch
  *     big regime's int8 prefilter runs INSIDE the state loop — each
  *     stored entry keeps an int8 struct ([[QuantKernel]]) next to a
  *     float32 payload, the incoming row's bound is checked per stored
  *     doc (an int8 dot — ~¼ the bytes of the f64 dot it replaces), and
  *     only bound-passing survivors get the exact dot. The bound is
  *     computed FROM the float32-widened doubles, so it brackets the
  *     scored dot exactly (lossless at the op's own precision — the
  *     [[graft.sim.Similarity.quantUpper]] inequality, scalar twin
  *     [[QuantKernel.upperBound]], spec-pinned equal); cosines are
  *     float32-scored like the batch big regime (|Δcos| ≤ ~2⁻²³ vs
  *     f64 — the [[graft.functions.DotProductFloat]] bound). At the
  *     ×729 stress decade the unthresholded op's super-linear slope was
  *     exactly this loop's full-precision dot volume plus the
  *     candidate-volume output; the thresholded loop does int8 dots
  *     and emits only true near-dups.
  *
  * SCALE LAW (round 14, exact counts at
  * ×243/×729/×2187 of the reference corpus): per-arrival work splits
  * into a planes/banding term that grows linear×log (never binding)
  * and a COLLISION-MASS term — int8 bound checks per arrival = bucket
  * occupancy × moderate-cosine collision survival — measured 25 → 46
  * → 91 checks/arrival per 3× decade: the same ×4·(1−θ/π)² > 1 per
  * capacity doubling arithmetic adjudicated for
  * [[graft.sim.Similarity.lshTopK]]. The int8 prefilter DEFERS the law
  * (~9 ns/check; projected ~2% of gate at ×6561), it does not remove
  * it: a corpus whose moderate-cos pair mass outruns that headroom
  * should bound its candidates per query via the IVF family
  * ([[graft.sim.Similarity.ivfTopKTwoLevelAuto]]) rather than grow
  * this stream's capacity.
  *
  * State is bounded exactly like [[NearDupStream.lshCandidates]]: a
  * bucket crossing `maxBucketSize` goes inert (a degenerate
  * all-near-identical shard), and with a `tsCol` each arrival lazily
  * evicts entries older than `ttlMs` relative to its own event time —
  * no engine timers, so batch replay is identical. Pairs colliding in
  * several tables are emitted once per table — deduplicate downstream.
  *
  * On a BATCH frame this degenerates to per-bucket all-pairs generation
  * (parity spec'd against cosineDups' candidate set; oracle-checked as
  * `e_annstream` with the s_lsh arithmetic-hyperplane SQL).
  */
object AnnStream {

  def cosineCandidates(vecs: DataFrame, idCol: String, vecCol: String,
                       tsCol: Option[String] = None,
                       planes: Int = 8, tables: Int = 8,
                       maxBucketSize: Int = 256,
                       ttlMs: Long = Long.MaxValue,
                       threshold: Option[Double] = None): Dataset[AnnCandidate] =
    cosineCandidatesReleasable(vecs, idCol, vecCol, tsCol, planes, tables,
      maxBucketSize, ttlMs, threshold)._1

  /** [[cosineCandidates]] plus a release handle that unpersists the op's
    * internal projection cache (no-op on streams) — targeted release for
    * long-lived drivers, instead of the global clearCache that would also
    * evict the caller's cached frames (round-5 ADVICE).
    */
  def cosineCandidatesReleasable(vecs: DataFrame, idCol: String, vecCol: String,
                       tsCol: Option[String] = None,
                       planes: Int = 8, tables: Int = 8,
                       maxBucketSize: Int = 256,
                       ttlMs: Long = Long.MaxValue,
                       threshold: Option[Double] = None)
      : (Dataset[AnnCandidate], () => Unit) = {
    import vecs.sparkSession.implicits._
    val tsExpr: Column = tsCol match {
      // unix_millis, NOT cast-to-long×1000: the long cast floors to whole
      // seconds, so a sub-second ttlMs would never evict within a second
      // and event-time ordering would degrade to id order inside one
      case Some(c) => unix_millis(col(c).cast("timestamp"))
      case None => lit(0L)
    }
    val p0 = vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"),
      graft.sim.Similarity.lshProjections(col(vecCol), planes, tables).as("__p"),
      tsExpr.as("ts"))
    // BATCH path: persist before the `tables`-way explode — without the
    // barrier CollapseProject inlines the full hyperplane projection into
    // every packSignature slice, recomputing it per table (the same
    // pathology fixed for the minhash fold in NearDupStream). The
    // returned Dataset is lazy, so the persist outlives this call — the
    // paired release handle unpersists exactly this frame after the
    // caller's action.
    val p = if (vecs.isStreaming) p0
      else p0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = p.select(col("id"), col("vec"), col("ts"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"),
            graft.sim.Similarity.packSignature(col("__p"), t, planes).as("sig"))): _*)).as("s"))
      .select(concat_ws(":", col("s.tbl"), col("s.sig")).as("bucket"),
        col("id"), col("vec"), col("ts"))
      .as[VecBanded]

    val grouped = banded.groupByKey(_.bucket)
    val result = threshold match {
      case None => grouped.flatMapGroupsWithState[VecBucketState, AnnCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        exactPairs(maxBucketSize, ttlMs))
      case Some(t) => grouped.flatMapGroupsWithState[QVecBucketState, AnnCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        boundedPairs(maxBucketSize, ttlMs, t))
    }
    val release: () => Unit =
      if (vecs.isStreaming) () => ()
      else () => { p.unpersist(blocking = false); () }
    (result, release)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** The unthresholded (catalog) state loop: exact float64 cosine per
    * bucket pair, byte-identical to the pre-round-13 op.
    */
  private def exactPairs(maxBucketSize: Int, ttlMs: Long)
      : (String, Iterator[VecBanded], GroupState[VecBucketState]) => Iterator[AnnCandidate] =
    (_: String, it: Iterator[VecBanded], state: GroupState[VecBucketState]) => {
      var st = state.getOption.getOrElse(VecBucketState(Nil, inert = false))
      val out = scala.collection.mutable.ArrayBuffer.empty[AnnCandidate]
      it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
        if (!st.inert) {
          if (ttlMs != Long.MaxValue)
            st = st.copy(docs = st.docs.filter(_.ts >= r.ts - ttlMs))
          val rNorm = math.sqrt(dot(r.vec, r.vec))
          // zero-norm vectors are EXCLUDED, matching the batch twin
          // (Similarity.topK/cosineDups drop null/NaN cosines): a
          // 0/0 = NaN candidate would otherwise leak downstream and
          // the degenerate entry would NaN every later pairing too
          if (rNorm > 0) {
            st.docs.foreach { e =>
              if (e.id != r.id) {
                val (a, b) = if (e.id < r.id) (e.id, r.id) else (r.id, e.id)
                out += AnnCandidate(a, b, dot(e.vec, r.vec) / (e.norm * rNorm))
              }
            }
            st =
              if (st.docs.length >= maxBucketSize) VecBucketState(Nil, inert = true)
              else st.copy(docs = VecEntry(r.id, r.vec, rNorm, r.ts) :: st.docs)
          }
        }
      }
      state.update(st)
      out.iterator
    }

  /** The thresholded state loop: int8 upper bound per stored doc
    * ([[QuantKernel.upperBound]], in product form — no division on the
    * prune path), exact float32-scored cosine only for survivors, emit
    * only cosine ≥ t. The bound and the norm are computed from the SAME
    * float32-widened doubles as the scored dot, so the prefilter is
    * LOSSLESS with respect to this op's own output: quantUpper ≥ exact
    * dot (QuantPrefilterSpec) ⇒ a pair with cos ≥ t always has
    * ub ≥ t·na·nb. Eviction/inert/zero-norm semantics identical to the
    * unthresholded loop.
    */
  private def boundedPairs(maxBucketSize: Int, ttlMs: Long, t: Double)
      : (String, Iterator[VecBanded], GroupState[QVecBucketState]) => Iterator[AnnCandidate] =
    (_: String, it: Iterator[VecBanded], state: GroupState[QVecBucketState]) => {
      var st = state.getOption.getOrElse(QVecBucketState(Nil, inert = false))
      val out = scala.collection.mutable.ArrayBuffer.empty[AnnCandidate]
      it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
        if (!st.inert) {
          if (ttlMs != Long.MaxValue)
            st = st.copy(docs = st.docs.filter(_.ts >= r.ts - ttlMs))
          val v32 = new Array[Float](r.vec.length)
          val vw = new Array[Double](r.vec.length)
          var i = 0
          while (i < r.vec.length) {
            v32(i) = r.vec(i).toFloat
            vw(i) = v32(i).toDouble
            i += 1
          }
          val rNorm = math.sqrt(dot(vw, vw))
          if (rNorm > 0) {
            val (q, s, l1) = QuantKernel.quantizeDoubles(vw)
            st.docs.foreach { e =>
              if (e.id != r.id &&
                  QuantKernel.upperBound(e.q, e.s, e.l1, q, s, l1) >= t * e.norm * rNorm) {
                val cos = dotF(e.vec32, v32) / (e.norm * rNorm)
                if (cos >= t) {
                  val (a, b) = if (e.id < r.id) (e.id, r.id) else (r.id, e.id)
                  out += AnnCandidate(a, b, cos)
                }
              }
            }
            st =
              if (st.docs.length >= maxBucketSize) QVecBucketState(Nil, inert = true)
              else st.copy(docs = QVecEntry(r.id, v32, q, s, l1, rNorm, r.ts) :: st.docs)
          }
        }
      }
      state.update(st)
      out.iterator
    }
}
