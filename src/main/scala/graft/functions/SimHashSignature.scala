package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused 32-bit SimHash of an already lower-cased, trimmed text: one
  * byte scan splits it on single spaces, each distinct token is hashed
  * ONCE with xxhash64 (seed 42), and 32 int votes give the signature.
  *
  * It replaces the built-in formulation
  * `aggregate(array_distinct(split(t, " ")), votes, (acc, tok) ->
  * zip_with(acc, transform(powers, p -> xxhash64(tok) & p ...), +))`,
  * whose lambdas Catalyst interprets per row and which recomputed
  * xxhash64(tok) for each of the 32 bit positions.
  *
  * Semantics are EXACTLY that formulation's:
  *   - tokens are `split(t, " ")`: consecutive spaces give empty
  *     tokens and "" gives one empty token. `split` round-trips the
  *     text through a Java String; that keeps its bytes because
  *     `lower` (the caller's child) always returns valid UTF-8;
  *   - `array_distinct`: each distinct token votes once;
  *   - vote sum > 0 sets the bit; NULL text gives NULL.
  */
case class SimHashSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash_signature needs string, got $t")
  }

  override def dataType: DataType = LongType

  def compute(t: UTF8String): Long = {
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val len = t.numBytes
    val votes = new Array[Int](SimHash.Bits)
    val seen = new java.util.HashSet[UTF8String]()
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || t.getByte(i) == ' ') {
        // a view over the text's bytes: it lives only as long as this row
        val tok = UTF8String.fromAddress(base, off + start, i - start)
        if (seen.add(tok)) {
          val h = XXH64.hashUTF8String(tok, 42L)
          var b = 0
          while (b < SimHash.Bits) {
            votes(b) += (if ((h & (1L << b)) != 0) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < SimHash.Bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHashSignature].getName)
    defineCodeGen(ctx, ev, t => s"$ref.compute($t)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}
