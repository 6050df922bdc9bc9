package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A partition column's raw string value, derived from
  * `_metadata.file_path` — the fused, per-FILE-memoized twin of the
  * built-in chain the manifest read path used per ROW (r19 profile:
  * UrlCodec.decode + StringReplace.execBinary burned whole task-seconds
  * on every partitioned read, re-deriving a value that is constant
  * within a file):
  *
  * {{{
  * raw = regexp_extract(substring_index(path, "/data/", -1),
  *                      "/<dir>=([^/]+)/", 1)
  * dec1(x) = url_decode(replace(x, "+", "%2B"))   // mask legal '+'
  * when(raw === "" || dec1(dec1(raw)) === "__HIVE_DEFAULT_PARTITION__",
  *      null).otherwise(dec1(dec1(raw)))
  * }}}
  *
  * Rows arrive in file order, so a last-path memo (per thread — the
  * expression instance is shared across local-mode tasks) turns the
  * regex + double URL-decode into one equality check per row and one
  * real derivation per file. Values are decoded EXACTLY like the chain:
  * same regex, same '+' masking, same double decode, same NULL rules.
  */
case class PartitionPathValue(child: Expression, dirName: String) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"partition_path_value needs string, got $t")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val pattern =
    java.util.regex.Pattern.compile(
      "/" + java.util.regex.Pattern.quote(dirName) + "=([^/]+)/")

  // [0] = last file_path seen (defensively copied), [1] = its value
  @transient private lazy val memo =
    ThreadLocal.withInitial[Array[AnyRef]](() => new Array[AnyRef](2))

  private def derive(path: UTF8String): UTF8String = {
    val s = path.toString
    // substring_index(path, "/data/", -1): the part after the LAST
    // occurrence, overlaps included
    val cut = s.lastIndexOf("/data/")
    val rel = if (cut < 0) s else s.substring(cut + 6)
    val m = pattern.matcher(rel)
    if (!m.find()) return null // raw === "" → null
    def dec1(x: String): String =
      java.net.URLDecoder.decode(
        x.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)
    val dec = dec1(dec1(m.group(1)))
    if (dec == "__HIVE_DEFAULT_PARTITION__") null else UTF8String.fromString(dec)
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
    val ref = ctx.addReferenceObj("partitionPathValue", this,
      classOf[PartitionPathValue].getName)
    nullSafeCodeGen(ctx, ev, p => {
      s"""
         |${ev.value} = $ref.compute($p);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PartitionPathValue =
    copy(child = newChild)
}
