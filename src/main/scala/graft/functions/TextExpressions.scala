package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word n-gram shingling kernel.
  *
  * The composable formulation (`transform(sequence(...), i => concat_ws(...,
  * element_at(toks, i+j)))` + `array_distinct`) interprets a lambda stack
  * per shingle per row — profiled at ~2-3 ms/doc, the single hottest step of
  * the dedup pipeline at sf0.1. This kernel does the same work in one Java
  * pass (~µs/doc).
  *
  * Contract (must stay mirror-exact with the DuckDB oracle, SURVEY §6):
  * input is already-normalized single-spaced text; tokens = split on space;
  * fewer than n tokens ⇒ one shingle = the whole string; otherwise the
  * distinct n-grams in first-occurrence order.
  */
/** Static kernel shared by interpreted eval and generated code. */
object WordShinglesKernel {
  def compute(input: UTF8String, n: Int): ArrayData = {
    val text = input.toString
    val toks = text.split(" ")
    if (toks.length < n) {
      new GenericArrayData(Array[Any](UTF8String.fromString(text)))
    } else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      val k = toks.length - (n - 1)
      while (i < k) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
      new GenericArrayData(out)
    }
  }
}

case class WordShingles(child: Expression, n: Int)
    extends UnaryKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires a string input and n >= 1, got " +
        s"${child.dataType.simpleString}, n=$n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShinglesKernel.compute(input.asInstanceOf[UTF8String], n)

  protected def kernel = "graft.functions.WordShinglesKernel.compute"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    Seq(n.toString)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

/** Decontamination probe over the same n-gram windows as
  * [[WordShinglesKernel]]: true at the first gram of `input` that is in
  * `grams`, false when none is. Same contract — tokens are Java
  * `split(" ")` segments (trailing empty ones dropped) and fewer than n
  * tokens ⇒ the whole string is the one gram — but no gram array is built:
  * each window is a zero-copy view over the input bytes, matched exactly
  * (bytes, not a hash) against the set.
  */
object NgramHitKernel {
  def compute(input: UTF8String, n: Int,
      grams: java.util.Set[UTF8String]): Boolean = {
    if (grams.isEmpty) return false
    val bytes = input.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    // starts(t) = first byte of token t; the sentinel starts(spaces + 1)
    // = len + 1 makes every token t end at starts(t + 1) - 1
    val starts = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(spaces + 1) = len + 1
    // split drops trailing empty tokens once a separator matched
    var m = spaces + 1
    if (spaces > 0)
      while (m > 0 && starts(m) - 1 == starts(m - 1)) m -= 1
    if (m < n) grams.contains(input)
    else {
      var w = 0
      while (w + n <= m) {
        val from = starts(w)
        if (grams.contains(
            UTF8String.fromBytes(bytes, from, starts(w + n) - 1 - from)))
          return true
        w += 1
      }
      false
    }
  }
}

/** Whether a (normalized) text shares any word n-gram with a broadcast
  * gram set; false for null text. The set travels as a `Broadcast`, so the
  * plan and each task carry only its id.
  */
case class NgramHit(child: Expression, n: Int,
    grams: Broadcast[java.util.Set[UTF8String]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_hit requires a string input and n >= 1, got " +
        s"${child.dataType.simpleString}, n=$n")

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = false

  @transient private lazy val gramSet = grams.value

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null &&
      NgramHitKernel.compute(v.asInstanceOf[UTF8String], n, gramSet)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("evalGrams", grams,
      "org.apache.spark.broadcast.Broadcast")
    val set = ctx.addMutableState("java.util.Set", "evalGramSet",
      v => s"$v = (java.util.Set) $bc.value();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} &&
        graft.functions.NgramHitKernel.compute(${c.value}, $n, $set);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ngram_hit"
}

object TextFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Distinct word n-gram shingles of a (normalized) text column. */
  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  /** Whether a (normalized) text column shares a word n-gram with `grams`. */
  def ngramHit(text: Column, n: Int,
      grams: Broadcast[java.util.Set[UTF8String]]): Column =
    ColumnBridge.column(NgramHit(ColumnBridge.expression(text), n, grams))
}
