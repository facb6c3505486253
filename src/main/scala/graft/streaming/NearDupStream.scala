package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Scope

/** One LSH-banded row: `bucket` is the string-rendered (band, signature
  * slice) key, `sig` the full MinHash signature, `ts` the event time in
  * epoch ms (0 when the caller supplies no time column). Top-level for
  * encoders.
  */
case class BandKeyed(bucket: String, id: Long, sig: Array[Long], ts: Long)

case class DocSig(id: Long, sig: Array[Long], ts: Long)

/** Per-bucket state: docs seen and not yet expired (newest first), or
  * inert once the bucket crossed the size cap (a degenerate stop-shingle
  * bucket).
  */
case class BucketState(docs: List[DocSig], inert: Boolean)

case class LshCandidate(id_a: Long, id_b: Long, est_jaccard: Double)

/** STREAMING MinHash+LSH near-duplicate candidates — the §2.8 twin of
  * the batch [[graft.text.NearDup.minHashDedup]] candidate stage, for
  * "is this incoming document a near-dup of anything recent?" over an
  * unbounded corpus.
  *
  * Per incoming doc: shingle → MinHash signature → explode to
  * (band, bucket) rows (all per-row maps, no shuffle), then ONE shuffle
  * on the bucket key into `flatMapGroupsWithState`, whose state is the
  * docs previously seen in that bucket. Each arrival emits a candidate
  * pair against every retained doc in its bucket with the signature-
  * agreement estimate of Jaccard similarity.
  *
  * Bounded state, the 100 TB requirements:
  *   - a bucket that exceeds `maxBucketSize` docs is a degenerate
  *     (stop-shingle) pattern whose pairs are noise — its state is
  *     dropped and the bucket goes inert (mirrors the capped-set
  *     adjacency guard in GraphOps.linkPrediction);
  *   - with a `tsCol`, each arrival LAZILY evicts bucket entries older
  *     than `ttlMs` relative to its own event time — the streaming
  *     dedup-window analog, implemented without engine timers so the
  *     semantics replay identically on a batch frame (rows are
  *     processed in event-time order). A bucket never touched again
  *     retains at most `maxBucketSize` rows until the engine drops the
  *     partition's state; continuous deployments wanting eager expiry
  *     of idle buckets would add a timeout variant.
  *
  * A pair colliding in k bands is emitted k times (no cross-band
  * distinct is possible in append mode without a watermark) —
  * deduplicate downstream (`.distinct()` in batch, or
  * `dropDuplicatesWithinWatermark` on a timestamped stream).
  *
  * On a BATCH frame the same call degenerates to per-bucket all-pairs
  * generation — exactly [[graft.text.NearDup.candidatePairs]] before its
  * distinct (parity spec'd, and oracle-checked as `e_lshdup`).
  */
object NearDupStream {

  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    tsCol: Option[String] = None,
                    shingleWidth: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                    maxBucketSize: Int = 256,
                    ttlMs: Long = Long.MaxValue): Dataset[LshCandidate] = {
    import docs.sparkSession.implicits._
    val nHashes = bands * rowsPerBand
    val tsExpr: Column = tsCol match {
      // unix_millis, NOT cast-to-long×1000: the long cast floors to whole
      // seconds — sub-second ttlMs could never evict within a second and
      // event-time ordering would degrade to id order inside one
      case Some(c) => unix_millis(col(c).cast("timestamp"))
      case None => lit(0L)
    }
    // fused shingle→hash head + hash-input signature kernel (r10): same
    // signatures as the wordShingles→minHashSig path bit-for-bit
    // (FunctionsSpec), one byte-pass over the text, no shingle strings —
    // keeps the stream twin identical to the batch minHashDedup head.
    val sh = docs.select(col(idCol).cast("long").as("id"),
        graft.text.TextOps.shingleHashes(col(textCol), shingleWidth).as("hs"),
        tsExpr.as("ts"))
      .where(size(col("hs")) > 0)
    val sig0 = sh.select(col("id"),
      graft.functions.HashF.minhashPolySigHashes(col("hs"), nHashes).as("sig"), col("ts"))
    // BATCH parity path: persist the signature frame before the 16-way
    // band explode — without the barrier, CollapseProject inlines the
    // shingle fold + minhash kernel into every band-slice expression and
    // the per-doc signature is recomputed per band (the minHashDedup
    // persist at NearDup.scala:84-87, same reason; measured 2.3x on
    // e_lshdup). Streaming frames cannot persist — there the per-batch
    // incremental plan evaluates each row once anyway. The returned
    // Dataset is LAZY and reads the cache, so it belongs to the caller's
    // [[Scope]], whose close releases it.
    val sig = if (docs.isStreaming) sig0 else Scope.persist(sig0)
    // same banding as NearDup.lshBands, but the full signature rides
    // along (the state needs it for the agreement estimate)
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("bucket"))
    }
    val banded = sig
      .select(col("id"), col("sig"), col("ts"), explode(array(bandRows: _*)).as("bb"))
      .select(concat_ws(":", col("bb.band"), concat_ws(",", col("bb.bucket"))).as("bucket"),
        col("id"), col("sig"), col("ts"))
      .as[BandKeyed]
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, LshCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[BandKeyed], state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(Nil, inert = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[LshCandidate]
          // event-time order makes the lazy eviction deterministic and
          // batch/stream-identical (a micro-batch delivers its group's
          // rows in one iterator, same as batch)
          it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
            if (!st.inert) {
              if (ttlMs != Long.MaxValue)
                st = st.copy(docs = st.docs.filter(_.ts >= r.ts - ttlMs))
              st.docs.foreach { p =>
                if (p.id != r.id) {
                  var m = 0
                  var i = 0
                  while (i < r.sig.length) {
                    if (p.sig(i) == r.sig(i)) m += 1
                    i += 1
                  }
                  val (a, b) = if (p.id < r.id) (p.id, r.id) else (r.id, p.id)
                  out += LshCandidate(a, b, m.toDouble / r.sig.length)
                }
              }
              st =
                if (st.docs.length >= maxBucketSize) BucketState(Nil, inert = true)
                else st.copy(docs = DocSig(r.id, r.sig, r.ts) :: st.docs)
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
