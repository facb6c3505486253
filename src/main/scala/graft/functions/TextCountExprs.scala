package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Counting kernels for the per-document scoring surface — native twins
  * of the regex/split Column forms they replace (kept as `...Hof` in
  * the specs' `SpecTwins` and pinned equal by TextCountSpec):
  *
  *  - [[TextCountKernel.counts]] replaces the FOUR passes behind
  *    `qualityScore` (two `regexp_replace` + one `split`+`filter` + one
  *    `length`) with ONE byte pass returning
  *    struct<n_chars, alpha, punct, ws_words>. Every class involved is
  *    ASCII-decidable, so a byte scan is exact: `[a-zA-Z]` and
  *    `[.,;:!?]` are single-byte classes (UTF-8 continuation bytes are
  *    ≥ 0x80 and can never alias them), Java's `\s` is the ASCII set
  *    `[ \t\n\x0B\f\r]` (NOT Unicode whitespace — \x0B and \f included,
  *    NBSP excluded), and `length()` counts code points = non-
  *    continuation bytes.
  *  - [[TextCountKernel.bpeishCount]] replaces
  *    `size(regexp_extract_all(text, "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))`
  *    — which materializes every matched token string into an array just
  *    to take its size — with a pass that only counts: letter runs +
  *    digit runs + one per remaining non-whitespace CODE POINT (the
  *    regex engine matches `[^...]` per code point, so a multi-byte
  *    UTF-8 sequence counts once — the leading-byte test reproduces
  *    that).
  *
  * Shuffle-free per-row maps like the other kernels in this package;
  * they exist because the regex forms were the dominant per-task cost of
  * the corpus-scoring stage (guide §"expressions and codegen": the
  * byte pass does strictly less work per byte than the regex NFA, and
  * allocates nothing).
  */
object TextCountKernel {

  @inline private def isWs(b: Byte): Boolean =
    b == 32 || (b >= 9 && b <= 13) // Java regex \s: [ \t\n\x0B\f\r]

  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  @inline private def isPunct(b: Byte): Boolean =
    b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?'

  /** struct<n_chars:int, alpha:int, punct:int, ws_words:int>:
    * `length(text)`, count of `[a-zA-Z]`, count of `[.,;:!?]`, and the
    * count of non-empty `\s+`-separated tokens (= maximal non-`\s`
    * runs), all in one pass.
    */
  def counts(t: UTF8String): InternalRow = {
    val n = t.numBytes
    var alpha = 0
    var punct = 0
    var words = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if (isWs(b)) {
        inTok = false
      } else {
        if (!inTok) { words += 1; inTok = true }
        if (isAlpha(b)) alpha += 1
        else if (isPunct(b)) punct += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](t.numChars, alpha, punct, words))
  }

  /** Non-overlapping match count of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]`:
    * letter runs + digit runs + one per other non-`\s` code point.
    */
  def bpeishCount(t: UTF8String): Int = {
    val n = t.numBytes
    var count = 0
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if (isAlpha(b)) {
        count += 1
        i += 1
        while (i < n && isAlpha(t.getByte(i))) i += 1
      } else if (isDigit(b)) {
        count += 1
        i += 1
        while (i < n && isDigit(t.getByte(i))) i += 1
      } else if (isWs(b)) {
        i += 1
      } else {
        // one match per code point: skip the full UTF-8 sequence
        count += 1
        i += 1
        while (i < n && (t.getByte(i) & 0xc0) == 0x80) i += 1
      }
    }
    count
  }
}

/** [[TextCountKernel.counts]] as a codegen'd expression. Returns the
  * STRUCT directly (the [[RepetitionStats]] rationale): the field
  * projections are `GetStructField` over ONE shared kernel subtree, so
  * codegen subexpression elimination keeps it one byte pass per row
  * however many fields a projection uses.
  */
case class TextCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("alpha", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("ws_words", IntegerType, nullable = false)))
  override def prettyName: String = "graft_text_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextCountKernel.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextCountKernel.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): TextCounts =
    copy(child = newChild)
}

/** [[TextCountKernel.bpeishCount]] as a codegen'd expression. */
case class BpeishCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpeish_count"

  override protected def nullSafeEval(input: Any): Any =
    TextCountKernel.bpeishCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextCountKernel.bpeishCount($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeishCount =
    copy(child = newChild)
}
