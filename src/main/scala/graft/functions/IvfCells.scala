package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** A k×dim centroid matrix for [[IvfCells]]: a plain constructor
  * argument, so a plan prints its shape, never its k×dim values. */
final class CentroidMatrix(val rows: Array[Array[Double]]) extends Serializable {

  def k: Int = rows.length

  // |c|²/2 per cell, summed as the literal spelling summed it
  private val halfSq: Array[Double] = rows.map(c => c.toSeq.map(x => x * x).sum / 2)

  /** The `n` best cells for `v`, best first. A cell scores
    * v·c − |c|²/2 (argmax = argmin of squared L2 distance), the dot
    * accumulated left to right in double as [[DotProduct]] does; a NULL
    * vector or a dimension mismatch scores NULL. The order is
    * `array_sort` over (score, cell) structs, reversed: NULL scores
    * last, NaN first, -0.0 equal to 0.0, and ties go to the larger
    * cell. */
  def rank(v: ArrayData, floats: Boolean, n: Int): Array[Int] = {
    val score = new Array[Double](k)
    val valid = new Array[Boolean](k)
    if (v != null) {
      val dim = v.numElements()
      var j = 0
      while (j < k) {
        val c = rows(j)
        if (c.length == dim) {
          var s = 0.0
          var i = 0
          while (i < dim) {
            s += (if (floats) v.getFloat(i).toDouble else v.getDouble(i)) * c(i)
            i += 1
          }
          score(j) = s - halfSq(j)
          valid(j) = true
        }
        j += 1
      }
    }
    // (score, cell) of a ranks above that of b
    def above(a: Int, b: Int): Boolean = {
      val c =
        if (valid(a) && valid(b)) SQLOrderingUtil.compareDoubles(score(a), score(b))
        else java.lang.Boolean.compare(valid(a), valid(b))
      c > 0 || (c == 0 && a > b)
    }
    val out = new Array[Int](math.min(n, k))
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < out.length) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 || above(j, best))) best = j
        j += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    out
  }

  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix => java.util.Arrays.deepEquals(
      rows.asInstanceOf[Array[AnyRef]], m.rows.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int = java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])

  override def toString: String = s"centroids[$k x ${rows.headOption.fold(0)(_.length)}]"
}

object CentroidMatrix {
  def apply(cs: Seq[Seq[Double]]): CentroidMatrix = new CentroidMatrix(cs.map(_.toArray).toArray)
}

/** The `n` nearest IVF cells of an embedding, best first, as
  * array<int> — one codegen'd expression over a [[CentroidMatrix]].
  *
  * It replaces `array_max` / `array_sort` over an array of k
  * `struct(dot(v, typedlit(c_k)) − |c_k|²/2, k)`, which put k×dim
  * double literals into every plan: rendering and re-planning them was
  * most of an IVF call's driver time. The ranking is that spelling's
  * exactly ([[CentroidMatrix.rank]]): a NULL vector still gets cells,
  * the larger ones first, as every score is NULL.
  */
case class IvfCells(child: Expression, centroids: CentroidMatrix, n: Int) extends UnaryExpression {
  require(n >= 0, s"cell count must not be negative, got $n")

  private def floats: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ivf_cells needs array<float|double>, got $t")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    UnsafeArrayData.fromPrimitiveArray(
      centroids.rank(child.eval(input).asInstanceOf[ArrayData], floats, n))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfCentroids", centroids, classOf[CentroidMatrix].getName)
    val c = child.genCode(ctx)
    val value = ctx.freshName("cells")
    ev.copy(
      code = code"""
        ${c.code}
        ${classOf[ArrayData].getName} $value = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(
          $m.rank(${c.isNull} ? null : ${c.value}, $floats, $n));
      """,
      value = JavaCode.variable(value, dataType),
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)
}
