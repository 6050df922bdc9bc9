package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused n-word shingling: one byte scan of the text instead of the
  * built-in formulation
  * `transform(sequence(0, size(w)-n), i -> concat_ws(" ", slice(w,i+1,n)))`
  * over `w = split(text, " ")` — whose lambda body Catalyst evaluates
  * INTERPRETED per shingle (r19 profile: StringSplit.nullSafeEval +
  * ConcatWs.eval were the top task frames of the whole b2 family).
  *
  * Semantics are EXACTLY that formulation's: because the words come
  * from a single-space split and are re-joined by single spaces, every
  * shingle is a byte-range of the ORIGINAL text (consecutive spaces
  * produce empty words, and concat_ws keeps empty strings — the bytes
  * still match). So the fused pass records the space positions and
  * emits byte slices:
  *   - `nw >= n`  → nw-n+1 slices, slice i spanning word i through
  *     word i+n-1;
  *   - `nw < n`   → one slice, the whole text (all words re-joined by
  *     their own separators = the text itself);
  *   - NULL text  → `[""]`, matching the built-in chain where
  *     `when(size(null) >= n)` falls through to
  *     `array(concat_ws(" ", null))` and concat_ws skips the null
  *     argument. The expression is therefore never null itself.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingles needs string, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null input maps to [""], so the result itself never is null
  override def nullable: Boolean = false

  def compute(text: UTF8String): GenericArrayData = {
    if (text == null)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    // getBytes returns a private copy except when the string spans its
    // whole backing array — which only an immutable, self-owned string
    // satisfies — so slices may share `b` without a defensive copy
    val b = text.getBytes
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val nw = spaces + 1
    if (nw < n)
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(b)))
    // wordStart(j) = byte offset of word j; word j ends at
    // wordStart(j+1)-1 (its trailing space) or at b.length for the last
    val starts = new Array[Int](nw + 1)
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nw) = b.length + 1 // virtual space after the last word
    val out = new Array[Any](nw - n + 1)
    var j = 0
    while (j <= nw - n) {
      val from = starts(j)
      val until = starts(j + n) - 1 // drop the space (real or virtual)
      out(j) = UTF8String.fromBytes(b, from, until - from)
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    val c = child.genCode(ctx)
    val value = ctx.freshName("shingles")
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.GenericArrayData $value =
          $ref.compute(${c.isNull} ? null : ${c.value});
      """,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .variable(value, dataType),
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}
