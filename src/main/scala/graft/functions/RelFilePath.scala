package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The scan path → manifest-relative form ("data/<uuid>/…"), derived
  * from `_metadata.file_path` — the fused, per-FILE-memoized twin of
  * ManifestTable.relFileCol's built-in chain, which re-ran per ROW
  * (r20 profile of q_sql_restore: `UrlCodec.decode` +
  * `StringReplace.execBinary` burned ~1.6 thread-s per DELETE rewrite
  * re-deriving a value that is constant within a file):
  *
  * {{{
  * concat("data/", url_decode(replace(
  *   substring_index(path, "/data/", -1), "+", "%2B")))
  * }}}
  *
  * Rows arrive in file order, so
  * a per-thread last-path memo turns the split + masked URL-decode
  * into one equality check per row and one real derivation per file.
  * Semantics replicated bit-for-bit: substring_index(s, "/data/", -1)
  * is the substring after the LAST occurrence, overlaps included (a
  * table rooted at `…/data` has `…/data/data/<uuid>/…` paths and the
  * manifest records `data/<uuid>/…`) — or the WHOLE string when
  * absent; '+' masks to %2B before the decode
  * (url_decode would read a literal '+' as space); decode failures
  * throw like the built-in's (on-disk paths never fail).
  */
case class RelFilePath(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"rel_file_path needs string, got $t")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  // [0] = last file_path seen (defensively copied), [1] = its value
  @transient private lazy val memo =
    ThreadLocal.withInitial[Array[AnyRef]](() => new Array[AnyRef](2))

  private def derive(path: UTF8String): UTF8String = {
    val s = path.toString
    val cut = s.lastIndexOf("/data/")
    val rel = if (cut < 0) s else s.substring(cut + 6)
    val dec = java.net.URLDecoder.decode(
      rel.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)
    UTF8String.fromString("data/" + dec)
  }

  def compute(path: UTF8String): UTF8String = {
    if (path == null) return null
    val slot = memo.get()
    val last = slot(0).asInstanceOf[UTF8String]
    if (last != null && last.equals(path)) return slot(1).asInstanceOf[UTF8String]
    val v = derive(path)
    // copy the key: the input may point into a reused scan buffer
    slot(0) = UTF8String.fromBytes(path.getBytes)
    slot(1) = v
    v
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("relFilePath", this,
      classOf[RelFilePath].getName)
    nullSafeCodeGen(ctx, ev, p => {
      // compute() returns null only for null input; under a
      // non-nullable child ev.isNull is the LITERAL "false" and must
      // not be assigned (janino: "not an rvalue" — the whole stage
      // would silently fall back to interpreted execution)
      if (nullable)
        s"""
           |${ev.value} = $ref.compute($p);
           |${ev.isNull} = (${ev.value} == null);
         """.stripMargin
      else
        s"${ev.value} = $ref.compute($p);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RelFilePath =
    copy(child = newChild)
}
