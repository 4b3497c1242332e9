package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PII masking in one pass per row: the same result, byte for byte, as
  * the chain `regexp_replace(text, p, '[TAG]')` over
  * [[graft.operators.TextAnalysis.piiPatterns]] in declaration order, which
  * decodes and re-encodes the row once per pattern and runs every regex
  * over every row.
  *
  *  1. One scan over the row's bytes notes whether it holds an `@` and
  *     whether it holds an ASCII digit.
  *  2. A pattern runs only when the row holds the byte every one of its
  *     matches needs: `@` for EMAIL, a digit for IPV4 and PHONE. The skip
  *     is exact, not a heuristic: a decoded string holds an ASCII
  *     character only where the bytes do, and a tag (`[EMAIL]`, `[IPV4]`)
  *     adds neither, so the check on the original bytes covers the check
  *     on every intermediate string of the chain.
  *  3. A row is decoded once, and encoded once when a pattern matched.
  *     The patterns are the same `java.util.regex` patterns Spark compiles
  *     for `regexp_replace` on a plain string, and each is applied with
  *     the same `appendReplacement` loop.
  *
  * The UTF-8 rule: `regexp_replace` always returns `fromString(toString)`,
  * which turns every invalid byte sequence into U+FFFD even when nothing
  * matched. So the input itself is returned only when it is valid UTF-8;
  * an invalid row with no match, scanned or not, is re-encoded the same
  * way.
  */
object RedactPiiKernel {

  private val At = 1
  private val Digit = 2

  /** One pattern with its `[TAG]` and the byte class each match holds. */
  private final case class Step(pattern: Pattern, tag: String, needs: Int)

  private val steps: Array[Step] =
    graft.operators.TextAnalysis.piiPatterns.map { case (tag, p) =>
      val needs = tag match {
        case "EMAIL" => At
        case "IPV4" | "PHONE" => Digit
      }
      Step(Pattern.compile(p), s"[$tag]", needs)
    }.toArray

  def compute(input: UTF8String): UTF8String = {
    val n = input.numBytes
    var seen = 0
    var i = 0
    while (i < n && seen != (At | Digit)) {
      val b = input.getByte(i)
      if (b == '@') seen |= At
      else if (b >= '0' && b <= '9') seen |= Digit
      i += 1
    }
    val text = if (seen == 0) null else input.toString
    var out = text
    var s = 0
    while (s < steps.length) {
      if ((steps(s).needs & seen) != 0) out = replace(steps(s), out)
      s += 1
    }
    if (out ne text) UTF8String.fromString(out)
    else if (input.isValid) input
    else UTF8String.fromString(if (text == null) input.toString else text)
  }

  /** `s` itself when `step` does not match, as Spark's loop otherwise. */
  private def replace(step: Step, s: String): String = {
    val m = step.pattern.matcher(s)
    if (!m.find()) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var more = true
      while (more) {
        m.appendReplacement(sb, step.tag)
        more = m.find()
      }
      m.appendTail(sb).toString
    }
  }
}

/** [[RedactPiiKernel]] over a plain string child; `TextAnalysis.redactPii`
  * builds it. A collated string (`UTF8_LCASE`) is refused at analysis by
  * the [[UnaryKernel]] input check, where `regexp_replace` would compile
  * the patterns case-insensitively.
  */
case class RedactPii(child: Expression) extends UnaryKernel {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    RedactPiiKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.RedactPiiKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "redact_pii"
}
