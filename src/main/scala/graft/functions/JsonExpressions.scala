package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.{GetJsonObjectEvaluator, JsonPathParser, PathInstruction}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** `get_json_object(json, '$.name')` in one Jackson pass over the row's
  * UTF-8 bytes. Spark's own evaluator builds an `InputStreamReader`, a
  * parser and a generator writing into a `ByteArrayOutputStream` for every
  * row; on the partitioned load path that was a third of executor time.
  *
  * Fast path: the bytes go straight to `createParser(byte[], off, len)` of
  * one [[factory]] configured like Spark's `SharedFactory` (unescaped
  * control chars and single quotes allowed). The walk reads the root
  * object's fields, `skipChildren` past every value that is not the match,
  * and stops at the root's `END_OBJECT` without reading what follows it
  * (Spark ignores trailing content too). The first field named `name`
  * whose value is not JSON `null` decides the result, as in Spark:
  *  - an integer in the `long` range gives its rendering (`-0` gives `0`);
  *  - no such field, or a non-object root, gives NULL.
  *
  * Fallback: the row goes to Spark's own `GetJsonObjectEvaluator`, so its
  * rendering rules stay in one place, when the match is anything else (a
  * string, a boolean, a wider integer, a float, a nested object or array);
  * when the parser throws (a truncated document gives NULL there, not
  * here); and for any input the fast path does not take.
  *
  * The encoding trap: Jackson's byte source guesses the encoding, but
  * Spark's `Reader` decodes UTF-8 with replacement. So the fast path only
  * takes valid UTF-8 (an invalid byte is U+FFFD to Spark but an error or
  * a different character to the byte parser), whose first byte is ASCII
  * (a BOM is skipped by the byte parser but makes Spark's result NULL) and
  * whose first four bytes hold no NUL (the byte parser would read UTF-16
  * or UTF-32).
  */
object JsonFieldKernel {

  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** The field of a path that reads one root field (`$.name`, `$['name']`),
    * as Spark's own path parser reads it.
    */
  def fieldName(path: String): Option[String] = JsonPathParser.parse(path) match {
    // `named` is the only production ending in `Named`; it yields `Key, Named`
    case Some(List(_, PathInstruction.Named(n))) => Some(n)
    case _ => None
  }

  /** A new evaluator of Spark's own for the fallback; not thread-safe, so
    * one per expression instance (interpreted) or generated class.
    */
  def evaluator(path: String): GetJsonObjectEvaluator =
    new GetJsonObjectEvaluator(UTF8String.fromString(path))

  /** Returned by [[fast]] when the row must go to Spark; compared by identity. */
  private val Fallback = UTF8String.fromString("fallback")

  def compute(json: UTF8String, name: String,
      spark: GetJsonObjectEvaluator): UTF8String = {
    val r = fast(json, name)
    if (r ne Fallback) r
    else {
      spark.setJson(json)
      spark.evaluate().asInstanceOf[UTF8String]
    }
  }

  private def fast(json: UTF8String, name: String): UTF8String = {
    val bb = json.getByteBuffer
    val bytes = bb.array
    val off = bb.arrayOffset + bb.position
    val len = bb.remaining
    if (len > 0 && bytes(off) < 0) return Fallback
    var i = 0
    while (i < 4 && i < len) { if (bytes(off + i) == 0) return Fallback; i += 1 }
    if (!json.isValid) return Fallback
    var p: JsonParser = null
    try {
      p = factory.createParser(bytes, off, len)
      if (p.nextToken() != JsonToken.START_OBJECT) return null
      var out: UTF8String = null
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val hit = out == null && p.currentName == name
        t = p.nextToken()
        if (hit && t != JsonToken.VALUE_NULL) {
          if (t != JsonToken.VALUE_NUMBER_INT ||
              p.getNumberType == JsonParser.NumberType.BIG_INTEGER)
            return Fallback
          out = UTF8String.fromString(java.lang.Long.toString(p.getLongValue))
        } else p.skipChildren()
        t = p.nextToken()
      }
      if (t == JsonToken.END_OBJECT) out else Fallback
    } catch { case NonFatal(_) => Fallback }
    finally if (p != null) p.close()
  }
}

/** [[JsonFieldKernel]] over a plain string child. Built by
  * `graft.plans.JsonFieldRewrite` from `get_json_object(child, path)` when
  * `path` reads the one root field `name`; the fallback evaluates `path`
  * itself. Users keep writing `get_json_object`.
  */
case class JsonField(child: Expression, name: String, path: String)
    extends UnaryKernel {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val evaluator = JsonFieldKernel.evaluator(path)

  override def nullSafeEval(input: Any): Any =
    JsonFieldKernel.compute(input.asInstanceOf[UTF8String], name, evaluator)

  protected def kernel = "graft.functions.JsonFieldKernel.compute"

  override protected def kernelArgs(ctx: CodegenContext): Seq[String] = {
    val cls = classOf[GetJsonObjectEvaluator].getName
    val pathRef = ctx.addReferenceObj("jsonFieldPath", path)
    Seq(ctx.addReferenceObj("jsonFieldName", name),
      ctx.addMutableState(cls, "jsonFieldEval",
        v => s"$v = graft.functions.JsonFieldKernel.evaluator($pathRef);",
        forceInline = true))
  }

  /** The kernel returns null for a NULL result, so `isNull` follows it. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    nullSafeCodeGen(ctx, ev, c => KernelCall(ev, kernel, c +: args) +
      s"\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "json_field"
}
