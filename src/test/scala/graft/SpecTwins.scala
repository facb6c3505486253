package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HashKernels, VectorF}
import graft.text.TextOps

/** Reference implementations the equivalence specs compare the native
  * kernels against: the Column/HOF/regex formulations each kernel
  * replaced. None of these runs on a production path; each spec pins
  * its kernel bit-identical to the twin here.
  */
object SpecTwins {

  /** Column-HOF formulation of `TextOps.wsTokenCount` (spec-only twin). */
  def wsTokenCountHof(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** Regex formulation of `TextOps.bpeishTokenCount` (spec-only twin; the
    * alternation has no lookarounds so the same pattern also runs on RE2
    * engines for differential testing).
    */
  def bpeishTokenCountHof(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Column-builtin formulation of `TextOps.qualityScore` (spec-only twin —
    * the pre-kernel implementation, kept for the equivalence spec).
    */
  def qualityScoreHof(text: Column): Column = {
    val n = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val words = wsTokenCountHof(text).cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val alphaRatio = when(n > 0, alpha / n).otherwise(0.0)
    val punctPenalty = when(n > 0, least(punct / n * 10.0, lit(1.0))).otherwise(0.0)
    val meanWord = when(words > 0, alpha / words).otherwise(0.0)
    val wordScore = least(meanWord / lit(8.0), lit(1.0))
    round(lenScore * 0.3 + alphaRatio * 0.4 + (lit(1.0) - punctPenalty) * 0.1 + wordScore * 0.2, 6)
  }

  /** Column-HOF formulation of `TextOps.wsShingleHashes` (spec-only twin;
    * equivalence is exact on ASCII text — its `lower()` also folds
    * non-ASCII case where the kernel is ASCII-wise).
    */
  def wsShingleHashesHof(text: Column, n: Int): Column = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val toks = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => polyHash61(
          concat_ws(" ", slice(toks, i + 1, lit(n)))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Chained-`regexp_replace` formulation of `TextOps.redactPii` (spec-only
    * twin; each pass runs on the previous pass's output, placeholders
    * included — the kernel reproduces exactly this staging).
    */
  def redactPiiHof(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ssn = regexp_replace(email,
      "(^|[^0-9A-Za-z-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?=$|[^0-9-])", "$1<SSN>")
    val phone = regexp_replace(ssn,
      "(^|[^0-9A-Za-z])(\\+?[0-9]{1,3}[-. ])?(\\([0-9]{3}\\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}(?=$|[^0-9])",
      "$1<PHONE>")
    // trailing boundary: no digit/dot may follow, EXCEPT a sentence-final
    // period (a dot that is itself last or followed by a non-digit
    // non-dot) — otherwise every IP ending a sentence survives the scrub
    regexp_replace(phone,
      "(^|[^0-9A-Za-z.])([0-9]{1,3}\\.){3}[0-9]{1,3}(?=$|[^0-9.]|\\.(?=$|[^0-9.]))",
      "$1<IP>")
  }

  /** Column-expression formulation of `TextOps.langId` (spec-only twin). */
  def langIdHof(text: Column): Column = {
    def score(words: Seq[String]): Column = {
      val padded = concat(lit(" "), lower(text), lit(" "))
      words.map(sw => size(split(padded, s"\\s$sw\\s")) - 1)
        .reduce(_ + _)
    }
    val scores = Seq(
      "en" -> score(Seq("the", "and", "of", "to", "is", "a")),
      "es" -> score(Seq("el", "la", "de", "que", "y", "los")),
      "de" -> score(Seq("der", "die", "und", "das", "ist", "ein")),
      "fr" -> score(Seq("le", "la", "les", "de", "et", "est")),
      "zh" -> (length(regexp_replace(text, "[\\x00-\\x7F]", "")) * 2))
    // argmax with alphabetical tie-break: fold keeping (best, lang)
    val first = scores.head
    val best = scores.tail.foldLeft(struct(first._2.as("s"), lit(first._1).as("l"))) {
      case (acc, (lang, s)) =>
        when(s > acc.getField("s"), struct(s.as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    best.getField("l")
  }

  /** Column-HOF formulation of `TextOps.fingerprint` (spec-only twin).
    * Chars are enumerated via `split` (Spark's `split(s, "")` keeps a
    * trailing empty token that other engines drop).
    */
  def fingerprintHof(text: Column): Column = {
    val t = regexp_replace(lower(text), "[^\\x20-\\x7e]", "")
    // split("", -1) semantics keep a trailing empty token — drop it rather
    // than enumerate positions with substr (substr-per-index is O(n²)).
    val chars = filter(split(t, ""), c => length(c) > 0)
    when(length(t) > 0,
      aggregate(
        transform(chars, ch => ascii(ch).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31L + c) % 1000000007L))
      .otherwise(0L)
  }

  /** Distinct word n-gram shingles (space-joined) of a token array —
    * the Column fold twin of `TextOps.wordShingles`;
    * empty when the doc has fewer than `n` tokens (a short doc must not
    * collapse to a single partial shingle — that would make all short
    * docs mutual near-duplicates).
    *
    * Implemented as ONE left fold (`aggregate`) carrying a rolling queue
    * of the previous n−1 tokens. A Catalyst lambda re-evaluates any
    * non-bound subtree it references once PER ELEMENT, so the naive
    * `transform(sequence(...), i => slice(tok, i+1, n))` form re-derives
    * the whole token array per shingle index — O(len²) regex work when
    * `tok` is an inline tokens(...) expression (measured 17 s vs 0.5 s
    * over 5k docs). In the fold, `tok` is only the aggregate argument
    * (evaluated once) and the lambdas touch bound variables only.
    */
  def shinglesOf(tok: Column, n: Int): Column = {
    require(n >= 2, "shingle width must be >= 2")
    val init = struct(
      array().cast("array<string>").as("sh"),
      array().cast("array<string>").as("q"))
    aggregate(
      tok,
      init,
      (acc, w) => {
        val sh = acc.getField("sh")
        val q = acc.getField("q")
        val full = size(q) === (n - 1)
        struct(
          when(full, array_append(sh, concat_ws(" ", array_append(q, w))))
            .otherwise(sh).as("sh"),
          when(full, array_append(slice(q, 2, n - 2), w))
            .otherwise(array_append(q, w)).as("q"))
      },
      acc => array_distinct(acc.getField("sh")))
  }

  def polyHash61(s: Column): Column =
    Bridge.column(PolyHash61(Bridge.expression(s)))

  /** Composed tokenize→hash formulation of `NearDup.simHash`. */
  def simHashComposed(text: Column): Column = simhashPoly(TextOps.tokens(text))

  /** Composed tokenize→hash formulation of `NearDup.simHash128`. */
  def simHash128Composed(text: Column): Column = simhashPoly128(TextOps.tokens(text))

  def simhashPoly(tokens: Column): Column =
    Bridge.column(SimHashPoly(Bridge.expression(tokens)))
  def simhashPoly128(tokens: Column): Column =
    Bridge.column(SimHashPoly128(Bridge.expression(tokens)))

  private val P1 = 1000000007L
  private val P2 = 998244353L
  private val M31 = 2147483647L

  /** 62-bit token hash for SimHash: the two polynomial folds are each
    * passed through the double-Lehmer mix, so every bit of both 31-bit
    * halves is balanced (the RAW folds have biased top bits — h1 < 2³⁰
    * etc. — which made random docs agree on many signature bits and
    * exploded the hamming<=8 candidate set ~600x).
    */
  def polyMix62(s: UTF8String): Long = {
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
    val m1 = ((h1 + 1) * 48271L % M31 * 16807L) % M31
    val m2 = ((h2 + 40503L) * 48271L % M31 * 16807L) % M31
    m1 * 2147483648L + m2
  }

  /** SimHash64 over tokens with [[polyMix62]] (bits 62-63 structurally
    * zero — a 62-effective-bit simhash; banding/hamming semantics
    * unchanged).
    */
  def simhashPoly(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = polyMix62(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 124-effective-bit SimHash over tokens: the per-token form of
    * `HashKernels.simhashPoly128Text` (whose scaladoc has the hash
    * design).
    */
  def simhashPoly128(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val counts = new Array[Int](124)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val nb = t.numBytes
        var h1 = 0L; var h2 = 0L; var h3 = 0L; var h4 = 0L
        var j = 0
        while (j < nb) {
          val c = t.getByte(j) & 0xffL
          h1 = (h1 * 31 + c) % P1
          h2 = (h2 * 131 + c) % P2
          h3 = (h3 * 37 + c) % P1
          h4 = (h4 * 137 + c) % P2
          j += 1
        }
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
      i += 1
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

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d)
    * mapped to [-1, 1]: a Knuth-mix seed through the double-Lehmer step,
    * the recipe `LshKernel` tabulates and the s_lsh DuckDB oracle replays.
    */
  private def planeComponent(p: Column, d: Column): Column = {
    val seed = p * lit(2654435761L) + d * lit(40503L) + 1
    val h = (seed * 48271L % 2147483647L * 16807L) % 2147483647L
    ((h % 2000001L).cast("double") / 1000000.0) - 1.0
  }

  /** HOF fold form of `Similarity.lshProjections` — the accumulator
    * carries (partial sums, element index); interpreted.
    */
  def lshProjectionsHof(vec: Column, planes: Int, tables: Int): Column = {
    val nProj = planes * tables
    val planeIdx = sequence(lit(0), lit(nProj - 1))
    val init = struct(
      array_repeat(lit(0.0), nProj).as("s"),
      lit(0).as("i"))
    aggregate(
      vec,
      init,
      (acc, x) => struct(
        zip_with(acc.getField("s"), planeIdx,
          (s, p) => s + x.cast("double") * planeComponent(p, acc.getField("i"))).as("s"),
        (acc.getField("i") + 1).as("i")),
      acc => acc.getField("s"))
  }

  /** Interpreted HOF formulation of `Similarity.nearestLists` (transform →
    * array_sort → slice over the same broadcast centroid array); the
    * `NearestKernel` scaladoc has the measured reason the production path
    * is compiled: this form's O(N·nLists·dim) went super-linear in the
    * ×30 stress.
    */
  def nearestListsHof(v: DataFrame, idCol: String, centroids: DataFrame,
                      nProbe: Int): DataFrame = {
    val centArr = centroids.agg(
      array_sort(collect_list(struct(col("list"), col("centroid"),
        VectorF.dotp(col("centroid"), col("centroid")).as("cc")))).as("__cents"))
    v.select(col(idCol), col("__v"))
      .crossJoin(broadcast(centArr))
      .withColumn("__vv", VectorF.dotp(col("__v"), col("__v")))
      .select(col(idCol),
        slice(array_sort(transform(col("__cents"), c =>
          struct((col("__vv") + c.getField("cc")
            - lit(2.0) * VectorF.dotp(col("__v"), c.getField("centroid"))).as("d"),
            c.getField("list").as("list")))), 1, nProbe).as("__near"))
      .select(col(idCol), transform(col("__near"), x => x.getField("list")).as("lists"))
  }

  /** Union-merge formulation of `AsOf.joinBackward` (spec-only twin; the
    * native merge's differential reference): tag both sides, union on the
    * key, sort by (time, side, tieBreak nulls first), and carry the latest
    * right ROW forward as one `last(struct(values), ignoreNulls)` window.
    * `tieBreak` must be one of `valueCols`.
    */
  def unionMergeBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                         timeCol: String, valueCols: Seq[String],
                         allowExact: Boolean = true,
                         tieBreak: Option[String] = None): DataFrame =
    unionMerge(left, right, keys, timeCol, valueCols, allowExact, tieBreak, forward = false)

  /** Union-merge formulation of `AsOf.joinForward` (spec-only twin): the
    * mirror of [[unionMergeBackward]], `first(struct(values), ignoreNulls)`
    * over the following rows, tieBreak nulls last.
    */
  def unionMergeForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                        timeCol: String, valueCols: Seq[String],
                        allowExact: Boolean = true,
                        tieBreak: Option[String] = None): DataFrame =
    unionMerge(left, right, keys, timeCol, valueCols, allowExact, tieBreak, forward = true)

  // a left row's struct is null, so ignoreNulls skips it
  private def unionMerge(left: DataFrame, right: DataFrame, keys: Seq[String],
                         timeCol: String, valueCols: Seq[String], allowExact: Boolean,
                         tieBreak: Option[String], forward: Boolean): DataFrame = {
    // right rows sort before (0) or after (2) left rows at equal time, so
    // the carry sees them exactly when they may match
    val rightSide = if (allowExact != forward) 0 else 2
    val lTagged = left.withColumn("__side", lit(1))
    val rTagged = right.select(keys.map(col) ++ Seq(col(timeCol),
      struct(valueCols.map(col): _*).as("__vs"), lit(rightSide).as("__side")): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val tb = tieBreak.map(c => col("__vs").getField(c))
      .map(c => if (forward) c.asc_nulls_last else c.asc_nulls_first).toSeq
    val ordered = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(timeCol).asc, col("__side").asc) ++ tb): _*)
    val filled = if (forward)
      first(col("__vs"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    else
      last(col("__vs"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    unioned.withColumn("__fs", filled).where(col("__side") === 1)
      .select(left.columns.map(col) ++ valueCols.map(c => col("__fs").getField(c).as(c)): _*)
  }

  private val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est"))
  private val pats: Seq[(String, Array[java.util.regex.Pattern])] =
    langWords.map { case (l, ws) =>
      l -> ws.map(w => java.util.regex.Pattern.compile("\\s" + w + "\\s")).toArray
    }
  private val labels = (pats.map(_._1) :+ "zh").map(UTF8String.fromString).toArray

  /** The pre-r16 matcher implementation of `LangKernel.langId`, kept as
    * the differential twin (LangIdKernelSpec pins the byte-pass kernel ≡
    * this on adversarial inputs).
    */
  def langIdRegex(text: UTF8String): UTF8String = {
    val padded = " " + text.toLowerCase.toString + " "
    var bestIdx = 0
    var bestScore = Integer.MIN_VALUE
    var li = 0
    while (li < pats.length) {
      var s = 0
      val ps = pats(li)._2
      var pi = 0
      while (pi < ps.length) {
        val m = ps(pi).matcher(padded)
        while (m.find()) s += 1
        pi += 1
      }
      if (s > bestScore) { bestScore = s; bestIdx = li }
      li += 1
    }
    // zh: 2x non-ASCII code points of the ORIGINAL text
    val raw = text.toString
    var zh = 0
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      if (cp > 0x7f) zh += 1
      i += Character.charCount(cp)
    }
    if (zh * 2 > bestScore) bestIdx = labels.length - 1
    labels(bestIdx)
  }
}

/** [[SpecTwins.simhashPoly]] over an `array<string>` token column (codegen'd). */
case class SimHashPoly(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_poly"

  override protected def nullSafeEval(input: Any): Any =
    SpecTwins.simhashPoly(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.SpecTwins.simhashPoly($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly =
    copy(child = newChild)
}

/** [[SpecTwins.simhashPoly128]] over an `array<string>` token column (codegen'd). */
case class SimHashPoly128(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash_poly128"

  override protected def nullSafeEval(input: Any): Any =
    SpecTwins.simhashPoly128(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.SpecTwins.simhashPoly128($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly128 =
    copy(child = newChild)
}

/** `HashKernels.polyHash61` as a scalar codegen'd expression: string →
  * 61-bit cross-engine polynomial hash. Joining / windowing exploded
  * shingles on this long instead of the shingle STRING shrinks the
  * shuffle payload and makes the join key a primitive compare, while the
  * identical fold replays in DuckDB (the t_minhash `hx` CTE without the
  * final mod) — so hashed pipelines stay oracle-checkable, collisions
  * included.
  */
case class PolyHash61(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash61"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.polyHash61(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.polyHash61($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash61 =
    copy(child = newChild)
}
