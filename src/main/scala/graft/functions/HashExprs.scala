package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the hash-signature ops.
  *
  * The Column-level forms cost one interpreted HOF pass per hash bit /
  * per seed (round 1: SimHash = fold carrying a 64-element array with a
  * 64-wide zip_with per token; MinHash = 64 separate array_min(transform)
  * passes re-hashing every shingle). These kernels hash each token ONCE
  * and keep the 64 counters / minima in local primitive arrays.
  */
object HashKernels {

  // --- cross-engine polynomial hashing (the ORACLE-CHECKABLE family) ---
  // Two byte-fold polynomial hashes mod large primes, combined into a
  // 61-bit value: pure integer arithmetic that any SQL engine replays
  // exactly (DuckDB list_reduce over ascii codes), so the DuckDB
  // differential covers the FULL minhash/simhash pipelines, not just row
  // counts.
  private val P1 = 1000000007L
  private val P2 = 998244353L
  private val M31 = 2147483647L

  /** `y % M31` for 0 ≤ y < 2⁶² via Mersenne folding (2³¹ ≡ 1 mod M31,
    * so the top bits fold into the bottom 31 additively). Bit-identical
    * to the `%` the DuckDB oracle replays — FunctionsSpec pins the
    * signature kernel against the literal `%` formula — but avoids the
    * two multiply-high sequences C2 emits per constant mod in the
    * hottest loop of the corpus (numHashes ops per shingle).
    */
  @inline private def mod31(y0: Long): Long = {
    var y = (y0 & M31) + (y0 >>> 31)
    y = (y & M31) + (y >>> 31)
    if (y >= M31) y - M31 else y
  }

  /** 61-bit polynomial hash of an (ASCII) UTF8String:
    * h1·2³¹ + h2 with h1 = fold (a·31 + byte) mod 1e9+7,
    * h2 = fold (a·131 + byte) mod 998244353.
    */
  def polyHash61(s: UTF8String): Long = {
    val n = s.numBytes
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < n) {
      val c = s.getByte(i) & 0xffL
      h1 = (h1 * 31 + c) % P1
      h2 = (h2 * 131 + c) % P2
      i += 1
    }
    h1 * 2147483648L + h2
  }

  @inline private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || b == '_'

  /** 64-bit SimHash of the word tokens of a raw text, in ONE pass over
    * the bytes — no lowercase copy, no regex split, no token-string
    * array. Per token, the two polynomial folds each pass through the
    * double-Lehmer mix into a 62-bit hash, so every bit of both 31-bit
    * halves is balanced (the RAW folds have biased top bits — h1 < 2³⁰
    * etc. — which made random docs agree on many signature bits and
    * exploded the hamming<=8 candidate set ~600x); counter b gets +1
    * when bit b of the hash is set else −1, and signature bit b is set
    * when counter b ends positive (bits 62-63 structurally zero).
    * Tokens are maximal `[a-zA-Z_]` byte runs of length ≥ 3, lowered
    * ASCII-wise and hashed incrementally. Same semantics
    * contract as [[ShingleHashKernel.shingleHashes]] (which adjudicated
    * the tokenizer fusion first): non-ASCII bytes are never `[a-zA-Z_]`
    * so they separate tokens exactly like the regex split of the
    * lowercased string, with the one documented divergence that exotic
    * code points whose Java `toLowerCase` maps INTO ASCII (U+212A → 'k',
    * U+0130 → 'i'+combining) tokenize as separators here.
    * SimHashFusedSpec pins it against the composed
    * tokens(text) → per-token hash form.
    */
  def simhashPolyText(text: UTF8String): Long = {
    val nb = text.numBytes
    val counts = new Array[Int](64)
    var i = 0
    while (i < nb) {
      if (isWordByte(text.getByte(i))) {
        var h1 = 0L; var h2 = 0L
        var len = 0
        while (i < nb && isWordByte(text.getByte(i))) {
          var c = text.getByte(i) & 0xffL
          if (c >= 'A' && c <= 'Z') c += 32
          h1 = (h1 * 31 + c) % P1
          h2 = (h2 * 131 + c) % P2
          len += 1
          i += 1
        }
        if (len >= 3) {
          val m1 = ((h1 + 1) * 48271L % M31 * 16807L) % M31
          val m2 = ((h2 + 40503L) * 48271L % M31 * 16807L) % M31
          val h = m1 * 2147483648L + m2
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
      } else i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 124-effective-bit SimHash (see [[simhashPolyText]]): TWO
    * independent 62-bit sign-sum signatures from one pass (array<long>
    * of 2). Halves use disjoint polynomial bases (31/131 and 37/137) AND
    * disjoint Lehmer multiplier products (half 1: 48271·16807 on both
    * lanes; half 2: 69621·48271 and 69621·16807 — every product includes
    * 69621, absent from half 1; all three factors are full-period minstd
    * multipliers mod M31). The multiplier sets must genuinely differ: an
    * earlier revision merely swapped the 16807/48271 multiplication
    * ORDER, which commutes mod M31, leaving half 2 an affine image of
    * half 1 for single-char tokens (where every poly base folds to
    * h = c) — round-9 ADVICE. This is the corpus-scale width: banded
    * candidate generation over a FIXED w-bit signature collides
    * ~N²/2^(w/(h+1)) — measured super-linear at the ×81 stress for the
    * 64-bit op (ratio 158 vs linear 81) exactly as the collision math
    * predicts; 9 bands over 124 bits give a 2¹²⁺ per-band floor,
    * 32–256× the 64-bit op's 2⁷.
    */
  def simhashPoly128Text(text: UTF8String): ArrayData = {
    val nb = text.numBytes
    val counts = new Array[Int](124)
    var i = 0
    while (i < nb) {
      if (isWordByte(text.getByte(i))) {
        var h1 = 0L; var h2 = 0L; var h3 = 0L; var h4 = 0L
        var len = 0
        while (i < nb && isWordByte(text.getByte(i))) {
          var c = text.getByte(i) & 0xffL
          if (c >= 'A' && c <= 'Z') c += 32
          h1 = (h1 * 31 + c) % P1
          h2 = (h2 * 131 + c) % P2
          h3 = (h3 * 37 + c) % P1
          h4 = (h4 * 137 + c) % P2
          len += 1
          i += 1
        }
        if (len >= 3) {
          val m1 = ((h1 + 1) * 48271L % M31 * 16807L) % M31
          val m2 = ((h2 + 40503L) * 48271L % M31 * 16807L) % M31
          val m3 = ((h3 + 7) * 69621L % M31 * 48271L) % M31
          val m4 = ((h4 + 1009L) * 69621L % M31 * 16807L) % M31
          val w1 = m1 * 2147483648L + m2
          val w2 = m3 * 2147483648L + m4
          var b = 0
          while (b < 62) {
            if (((w1 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            if (((w2 >>> b) & 1L) == 1L) counts(62 + b) += 1 else counts(62 + b) -= 1
            b += 1
          }
        }
      } else i += 1
    }
    var s1 = 0L; var s2 = 0L
    var b = 0
    while (b < 62) {
      if (counts(b) > 0) s1 |= (1L << b)
      if (counts(62 + b) > 0) s2 |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array[Any](s1, s2))
  }

  /** MinHash signature with the poly hash: per shingle x = h61 mod
    * (2³¹−1); element s = min over shingles of the double-Lehmer mix
    * ((s·2654435761 + x + 1)·48271 mod M·16807) mod M. Empty input →
    * all-null signature (array_min over an empty transform is null).
    */
  def minhashPolySig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val mins = Array.fill[Long](numHashes)(Long.MaxValue)
    // hoist the per-seed affine constant; the loop body then costs one
    // add + two mults + two Mersenne folds per (shingle, seed).
    // Ranges stay inside mod31's 2⁶² domain: seedC < 2³⁸, x < 2³¹, so
    // (seedC + x)·48271 < 2⁵⁵ and mod31(·)·16807 < 2⁴⁶.
    val seedC = new Array[Long](numHashes)
    var s0 = 0
    while (s0 < numHashes) { seedC(s0) = s0 * 2654435761L + 1L; s0 += 1 }
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val x = mod31(polyHash61(shingles.getUTF8String(i)))
        var s = 0
        while (s < numHashes) {
          val v = mod31(mod31((seedC(s) + x) * 48271L) * 16807L)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** [[minhashPolySig]] over PRE-HASHED shingles (`array<long>` of
    * 61-bit poly values from [[ShingleHashKernel]]): x = mod31(h) is the
    * identical per-shingle base, so signatures are bit-equal to the
    * string-input kernel on the same shingle set — the fused head just
    * skips materializing the strings (FunctionsSpec pins the equality).
    */
  def minhashPolySigHashes(hashes: ArrayData, numHashes: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val mins = Array.fill[Long](numHashes)(Long.MaxValue)
    val seedC = new Array[Long](numHashes)
    var s0 = 0
    while (s0 < numHashes) { seedC(s0) = s0 * 2654435761L + 1L; s0 += 1 }
    var i = 0
    var folded = false
    while (i < n) {
      if (!hashes.isNullAt(i)) { // null elements skip, like the string kernel
        folded = true
        val x = mod31(hashes.getLong(i))
        var s = 0
        while (s < numHashes) {
          val v = mod31(mod31((seedC(s) + x) * 48271L) * 16807L)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    // all elements null = no shingles at all: same all-null signature as
    // the empty array, never the Long.MaxValue sentinel (which would
    // band-collide every such degenerate row with every other one)
    if (!folded) new GenericArrayData(Array.fill[Any](numHashes)(null))
    else new GenericArrayData(mins)
  }

}

/** [[HashKernels.simhashPolyText]] as a codegen'd expression. */
case class SimHashPolyText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_poly_text"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashPolyText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhashPolyText($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashPolyText =
    copy(child = newChild)
}

/** [[HashKernels.simhashPoly128Text]] as a codegen'd expression. */
case class SimHashPoly128Text(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash_poly128_text"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashPoly128Text(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhashPoly128Text($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashPoly128Text =
    copy(child = newChild)
}

/** MinHash signature via the cross-engine polynomial hash (codegen'd). */
case class MinHashPolySigHashes(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_poly_hashes"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashPolySigHashes(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashPolySigHashes($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashPolySigHashes =
    copy(child = newChild)
}

case class MinHashPolySignature(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_poly"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashPolySig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashPolySig($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashPolySignature =
    copy(child = newChild)
}

/** Word n-gram shingles of a raw text column — the native twin of
  * `SpecTwins.shinglesOf(tokens(text), n)`: lowercase (UTF8String
  * semantics, matching Spark's `lower`), split on `[^a-zA-Z_]+`, keep
  * tokens of length ≥ 3, space-join each n-gram, distinct preserving
  * first occurrence; empty when fewer than n tokens.
  *
  * The Column fold form costs a ~40-node lambda tree that whole-stage
  * codegen compiles in every consuming operator subtree (Filter +
  * Project + window branches) — moving it into one compiled kernel cut
  * the text-family cold times roughly in half.
  */
object ShingleKernel {
  private val sep = java.util.regex.Pattern.compile("[^a-zA-Z_]+")

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = sep.split(text.toLowerCase.toString)
    val kept = new java.util.ArrayList[String]()
    var i = 0
    while (i < toks.length) {
      if (toks(i).length >= 3) kept.add(toks(i)); i += 1
    }
    val m = kept.size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j < m) {
      val sb = new java.lang.StringBuilder(kept.get(j))
      var k = 1
      while (k < n) { sb.append(' ').append(kept.get(j + k)); k += 1 }
      seen.add(sb.toString)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var x = 0
    while (it.hasNext) { out(x) = UTF8String.fromString(it.next()); x += 1 }
    new GenericArrayData(out)
  }
}

/** Fused tokenizer → shingler → 61-bit poly-hash kernel: ONE pass over
  * the raw text bytes, no lowercase copy, no regex, no shingle-string
  * materialization. `t_jaccard`'s head (shingle + hash ≈ 16 s of its
  * 22 s at ×30) was dominated by exactly those allocations.
  *
  * Semantics contract (vs the composed `wordShingles → explode →
  * polyHash61` path, which FunctionsSpec pins it against):
  *  - tokens are maximal runs of `[a-zA-Z_]` bytes, length ≥ 3,
  *    lowercased ASCII-wise (A–Z +0x20). Non-ASCII bytes are never
  *    `[a-zA-Z_]`, so they separate tokens exactly as the regex split
  *    of the lowercased string does. The one divergence: exotic code
  *    points whose Java `toLowerCase` maps INTO ASCII (U+212A KELVIN
  *    SIGN → 'k', U+0130 → 'i'+combining) tokenize as separators here.
  *    The reference tokenizer (`vocab.py:29`) is ASCII-only too.
  *  - shingle hash = the polyHash61 fold over the joined
  *    "tok1 tok2 … tokn" bytes — bit-identical to hashing the built
  *    string, so the DuckDB oracle replays it unchanged.
  *  - per-doc dedup is on the 61-bit hash value (the composed path
  *    dedups the shingle STRING then hashes): a divergence needs two
  *    distinct shingles of one doc colliding in 61 bits (~2⁻⁶¹ per
  *    pair — ~1e-13 per million-shingle doc), accepted and noted here.
  */
object ShingleHashKernel {
  private val P1 = 1000000007L
  private val P2 = 998244353L

  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val nb = text.numBytes
    // ring buffer of the last n kept tokens' [start, end) byte offsets
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var nTok = 0 // total kept tokens so far
    // open-addressed dedup set (values are 61-bit, 0 handled via flag)
    var cap = 64
    var mask = cap - 1
    var table = new Array[Long](cap)
    var tsize = 0
    var hasZero = false
    var out = new Array[Long](16)
    var nOut = 0

    def emit(h: Long): Unit = {
      if (h == 0L) {
        if (hasZero) return
        hasZero = true
      } else {
        var idx = (java.lang.Long.hashCode(h * 0x9e3779b97f4a7c15L)) & mask
        while (table(idx) != 0L) {
          if (table(idx) == h) return
          idx = (idx + 1) & mask
        }
        table(idx) = h
        tsize += 1
        if (tsize * 4 >= cap * 3) { // grow at 75%
          val old = table
          cap <<= 1; mask = cap - 1
          table = new Array[Long](cap)
          var i = 0
          while (i < old.length) {
            val v = old(i)
            if (v != 0L) {
              var j = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L)) & mask
              while (table(j) != 0L) j = (j + 1) & mask
              table(j) = v
            }
            i += 1
          }
        }
      }
      if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
      out(nOut) = h
      nOut += 1
    }

    def shingleAt(newest: Int): Unit = {
      // fold over the n tokens ending at ring slot `newest`, joined by ' '
      var h1 = 0L
      var h2 = 0L
      var t = 0
      while (t < n) {
        if (t > 0) { h1 = (h1 * 31 + 32) % P1; h2 = (h2 * 131 + 32) % P2 }
        val slot = (newest + 1 + t) % n
        var i = starts(slot)
        val e = ends(slot)
        while (i < e) {
          var c = text.getByte(i) & 0xffL
          if (c >= 'A' && c <= 'Z') c += 32
          h1 = (h1 * 31 + c) % P1
          h2 = (h2 * 131 + c) % P2
          i += 1
        }
        t += 1
      }
      emit(h1 * 2147483648L + h2)
    }

    var i = 0
    var tokStart = -1
    while (i <= nb) {
      val isWord = i < nb && {
        val b = text.getByte(i)
        (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || b == '_'
      }
      if (isWord) {
        if (tokStart < 0) tokStart = i
      } else if (tokStart >= 0) {
        if (i - tokStart >= 3) {
          val slot = nTok % n
          starts(slot) = tokStart
          ends(slot) = i
          nTok += 1
          if (nTok >= n) shingleAt(slot)
        }
        tokStart = -1
      }
      i += 1
    }
    if (nOut == 0) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}

case class ShingleHash61(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash61"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashKernel.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashKernel.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash61 =
    copy(child = newChild)
}

case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernel.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Stopword-count language ID (Column twin: the specs'
  * `SpecTwins.langIdHof`): per language, Σ over its stopwords of the
  * `size(split(padded, "\\ssw\\s")) − 1` count (= non-overlapping
  * matcher-find count, the exact regex-split semantics both the Column
  * form and the DuckDB oracle use); zh scores 2× the non-ASCII
  * code-point count. First language in {en,es,de,fr,zh} order wins ties
  * (strict > replaces).
  */
object LangKernel {
  private val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est"))
  private val labels = (langWords.map(_._1) :+ "zh").map(UTF8String.fromString).toArray

  // --- byte-pass tables (r16): the 22 UNIQUE stopwords ("la"/"de" are
  // shared by es and fr — identical patterns scan independently, so one
  // walk counts for both), as lowercase ASCII bytes, with a per-lang
  // weight row. Indexed by word id; langOf(w) lists the langs whose
  // score the word feeds.
  private val uniqueWords: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    langWords.foreach { case (_, ws) => ws.foreach(seen += _) }
    seen.toArray
  }
  private val wordBytes: Array[Array[Byte]] =
    uniqueWords.map(_.getBytes("US-ASCII"))
  private val wordLangs: Array[Array[Int]] = uniqueWords.map { w =>
    langWords.zipWithIndex.collect { case ((_, ws), li) if ws.contains(w) => li }.toArray
  }

  @inline private def isWs(b: Byte): Boolean =
    b == 32 || (b >= 9 && b <= 13) // Java regex \s: [ \t\n\x0B\f\r]

  @inline private def lower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** One byte pass replacing the 24 `\sword\s` matcher runs (plus the
    * lowercase copy and the padded concat) of the pre-r16 regex kernel
    * (LangIdKernelSpec keeps it as the differential twin). Exact on
    * the regex semantics, including the non-overlapping CONSUMED-
    * SEPARATOR quirk: a match eats its trailing `\s`, so of two equal
    * stopword tokens separated by a SINGLE whitespace char only the
    * first matches (each pattern scans independently, so the state is
    * one last-match-end per unique word). ASCII-wise lowering is exact
    * here because every stopword is pure ASCII — a token containing any
    * non-ASCII byte can never equal one regardless of case folding.
    * The padding's virtual separators at -1 and n fall out of the
    * boundary arithmetic. zh scores 2x the non-ASCII code-point count
    * of the ORIGINAL text (leading-byte count), same as the regex form.
    */
  def langId(text: UTF8String): UTF8String = {
    val n = text.numBytes
    val nWords = wordBytes.length
    val counts = new Array[Int](nWords)
    // trailing-separator byte index of each word's previous match;
    // MinValue/2 = none (padding makes index -1 a valid separator)
    val lastEnd = new Array[Int](nWords)
    java.util.Arrays.fill(lastEnd, Integer.MIN_VALUE / 2)
    var zh = 0
    var i = 0
    while (i < n) {
      if (isWs(text.getByte(i))) i += 1
      else {
        val s = i
        while (i < n && !isWs(text.getByte(i))) {
          val b = text.getByte(i)
          if ((b & 0xc0) != 0x80 && (b & 0x80) != 0) zh += 1
          i += 1
        }
        val e = i // exclusive token end = trailing separator index (n = virtual pad)
        val len = e - s
        if (len >= 1 && len <= 3) {
          var w = 0
          while (w < nWords) {
            val wb = wordBytes(w)
            if (wb.length == len) {
              var k = 0
              var eq = true
              while (eq && k < len) {
                if (lower(text.getByte(s + k)) != wb(k)) eq = false
                k += 1
              }
              // leading separator index is s-1 (the pad at -1 when s=0);
              // valid iff it lies strictly after the previous match's
              // consumed trailing separator
              if (eq && s - 1 > lastEnd(w)) {
                counts(w) += 1
                lastEnd(w) = e
                w = nWords // a token equals at most one word
              }
            }
            w += 1
          }
        }
      }
    }
    val scores = new Array[Int](langWords.length)
    var w = 0
    while (w < nWords) {
      val ls = wordLangs(w)
      var j = 0
      while (j < ls.length) { scores(ls(j)) += counts(w); j += 1 }
      w += 1
    }
    var bestIdx = 0
    var bestScore = Integer.MIN_VALUE
    var li = 0
    while (li < scores.length) {
      if (scores(li) > bestScore) { bestScore = scores(li); bestIdx = li }
      li += 1
    }
    if (zh * 2 > bestScore) bestIdx = labels.length - 1
    labels(bestIdx)
  }
}

case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid"
  override protected def nullSafeEval(input: Any): Any =
    LangKernel.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangKernel.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

/** All ordered pairs (a(i), a(j)), i < j, of a pre-sorted int/long array
  * — the pair generator for common-neighbor counting: a neighbor with
  * degree d emits d(d−1)/2 pairs from its adjacency list in one pass, no
  * self-join probe. Callers bound d (maxNeighborDegree) so the output
  * array is capped at d²/2 entries.
  */
object PairKernel {
  def pairsLong(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var x = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(x) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        x += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def pairsInt(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var x = 0
    var i = 0
    while (i < n) {
      val a = arr.getInt(i)
      var j = i + 1
      while (j < n) {
        out(x) = new GenericInternalRow(Array[Any](a, arr.getInt(j)))
        x += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Packed pairs of an INT array: each (a, b) as one primitive long
    * (a << 32) | b — exact for any int values; the result explodes into
    * primitive longs (no per-pair row allocation) and aggregates on a
    * single primitive key. Unpack with `shiftrightunsigned(pk, 32)` and
    * `pk & 0xffffffff`.
    */
  def packedPairsInt(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n * (n - 1) / 2)
    var x = 0
    var i = 0
    while (i < n) {
      val a = arr.getInt(i).toLong << 32
      var j = i + 1
      while (j < n) {
        out(x) = a | (arr.getInt(j).toLong & 0xffffffffL)
        x += 1; j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** [[PairKernel.packedPairsInt]] as a codegen'd expression:
  * array<int> → array<long> of (a<<32)|b packed pairs.
  */
case class PackedPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_packed_pairs"

  override protected def nullSafeEval(input: Any): Any =
    PairKernel.packedPairsInt(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairKernel.packedPairsInt($c)")

  override protected def withNewChildInternal(newChild: Expression): PackedPairs =
    copy(child = newChild)
}

case class SortedPairs(child: Expression) extends UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", elemType), StructField("b", elemType))),
    containsNull = false)
  override def prettyName: String = "graft_sorted_pairs"

  private def kernel: String = elemType match {
    case LongType => "pairsLong"
    case IntegerType => "pairsInt"
    case t => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    elemType match {
      case LongType => PairKernel.pairsLong(a)
      case IntegerType => PairKernel.pairsInt(a)
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairKernel.$kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): SortedPairs =
    copy(child = newChild)
}

object HashF {
  def sortedPairs(arr: Column): Column =
    Bridge.column(SortedPairs(Bridge.expression(arr)))
  def packedPairs(arr: Column): Column =
    Bridge.column(PackedPairs(Bridge.expression(arr)))
  def langId(text: Column): Column =
    Bridge.column(LangIdExpr(Bridge.expression(text)))
  def repetitionStats(text: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(text)))
  def wsShingleHash61(text: Column, n: Int): Column =
    Bridge.column(WsShingleHash61(Bridge.expression(text), n))
  def simhashPolyText(text: Column): Column =
    Bridge.column(SimHashPolyText(Bridge.expression(text)))
  def simhashPoly128Text(text: Column): Column =
    Bridge.column(SimHashPoly128Text(Bridge.expression(text)))
  def minhashPolySig(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashPolySignature(Bridge.expression(shingles), numHashes))
  def minhashPolySigHashes(hashes: Column, numHashes: Int): Column =
    Bridge.column(MinHashPolySigHashes(Bridge.expression(hashes), numHashes))
  def fingerprint(text: Column): Column =
    Bridge.column(FingerprintHash(Bridge.expression(text)))
  def redactPii(text: Column): Column =
    Bridge.column(PiiRedact(Bridge.expression(text)))
  def wordShingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))
  def shingleHash61(text: Column, n: Int): Column =
    Bridge.column(ShingleHash61(Bridge.expression(text), n))
  def chunkByTokens(text: Column, maxTokens: Int, overlap: Int): Column =
    Bridge.column(ChunkByTokens(Bridge.expression(text), maxTokens, overlap))
  def textCounts(text: Column): Column =
    Bridge.column(TextCounts(Bridge.expression(text)))
  def bpeishCount(text: Column): Column =
    Bridge.column(BpeishCount(Bridge.expression(text)))
}
