package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-quality statistics kernel.
  *
  * `TextAnalysis.qualityScore` previously composed three independent
  * regex passes per row — `split("\\s+")` for the word count, a
  * `regexp_extract_all` that MATERIALIZED an array of every punctuation
  * character just to take its size, and a `filter(tokens, isin(...))`
  * stopword pass — the per-row linear floor that dominated the 30× tail
  * (quality_bands / source_quota / both config curation pipelines). This
  * kernel computes all four counts in one allocation-free scan over the
  * UTF-8 bytes.
  *
  * Contract — mirror-exact with the regex formulation it replaces (and
  * therefore with the unchanged DuckDB oracle fragment):
  *  - words = `size(split(text, "\\s+"))` with Java `limit = -1`
  *    semantics: segments between whitespace runs, INCLUDING the empty
  *    leading/trailing segment a boundary run produces, and `[""]` for
  *    empty input ⇒ count = whitespaceRuns + 1 (runs at any position),
  *    1 for empty text. Whitespace = Java regex `\s` = space \t \n \x0B
  *    \f \r (ASCII-only, no Unicode classes — Java's default).
  *  - stopwords = tokens equal (case-sensitive) to one of
  *    [[graft.operators.TextAnalysis.stopwords]]; empty tokens never match.
  *  - punct = count of codepoints matching `[^A-Za-z0-9\s]` — every
  *    non-ASCII codepoint matches, counted once per codepoint (not byte).
  *  - chars = `length(text)` = codepoint count.
  *
  * Output: array<long> [words, stopwords, punct, chars].
  */
object QualityStatsKernel {
  // TextAnalysis.stopwords, as bytes for segment comparison (ASCII)
  private val stopwordBytes: Array[Array[Byte]] =
    graft.operators.TextAnalysis.stopwords
      .map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  private def isStopword(bytes: Array[Byte], from: Int, until: Int): Boolean = {
    val len = until - from
    var s = 0
    while (s < stopwordBytes.length) {
      val sw = stopwordBytes(s)
      if (sw.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) { ok = bytes(from + i) == sw(i); i += 1 }
        if (ok) return true
      }
      s += 1
    }
    false
  }

  def compute(input: UTF8String): ArrayData =
    new GenericArrayData(counts(input))

  /** [words, stopwords, punct, chars] as a primitive array. */
  def counts(input: UTF8String): Array[Long] = {
    val bytes = input.getBytes
    val n = bytes.length
    var chars = 0L
    var punct = 0L
    var stop = 0L
    var wsRuns = 0L
    var inWs = false
    var segStart = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val continuation = (b & 0xC0) == 0x80
      if (!continuation) chars += 1
      if (isWs(b)) {
        if (!inWs) {
          wsRuns += 1
          if (i > segStart && isStopword(bytes, segStart, i)) stop += 1
          inWs = true
        }
      } else {
        if (inWs) { segStart = i; inWs = false }
        if (!continuation && !isAlnum(b)) punct += 1
      }
      i += 1
    }
    if (!inWs && n > segStart && isStopword(bytes, segStart, n)) stop += 1
    Array(wsRuns + 1, stop, punct, chars)
  }
}

case class QualityStats(child: Expression) extends UnaryKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    QualityStatsKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.QualityStatsKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "quality_stats"
}

/** `TextAnalysis.qualityScore` as one expression: one [[QualityStatsKernel]]
  * scan, then the length × punctuation × stopword terms in Java, the same
  * double operations in the same order as the Column formula they replaced
  * (the DuckDB `qualityScoreExprSql` fragment still gates it). A `Filter`
  * gets no common-subexpression elimination, so the formula's four
  * references to the stats array ran the scan four times per row there.
  */
object QualityScoreKernel {
  def compute(input: UTF8String): Double = {
    val st = QualityStatsKernel.counts(input)
    val nWords = st(0)
    val words = nWords.toDouble
    val lengthTerm =
      if (words >= 20 && words <= 1000) 1.0
      else if (words < 20) words / 20.0
      else 1000.0 / words
    val chars = st(3)
    val pRatio = if (chars == 0) 0.0 else st(2).toDouble / chars.toDouble
    val punctTerm = 1.0 - pRatio
    val sRatio = if (nWords == 0) 0.0 else st(1).toDouble / nWords.toDouble
    val stopTerm = if (sRatio > 0.01) 1.0 else 0.5
    lengthTerm * punctTerm * stopTerm
  }
}

case class QualityScore(child: Expression) extends UnaryKernel {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    QualityScoreKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.QualityScoreKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "quality_score"
}

/** One-pass multi-set token counting: for each word set, how many tokens
  * of the text (Java `split("\\s+")` segmentation, duplicates counted)
  * are members. Replaces one `filter(tokens, isin(...))` pass PER SET —
  * `langId` previously ran four of them (one per language marker set)
  * over every row of the corpus.
  */
object TokenSetCountKernel {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private def segMatches(bytes: Array[Byte], from: Int, until: Int,
      set: Array[Array[Byte]]): Boolean = {
    val len = until - from
    var w = 0
    while (w < set.length) {
      val word = set(w)
      if (word.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) { ok = bytes(from + i) == word(i); i += 1 }
        if (ok) return true
      }
      w += 1
    }
    false
  }

  def compute(input: UTF8String,
      sets: Array[Array[Array[Byte]]]): ArrayData =
    new GenericArrayData(counts(input, sets))

  def counts(input: UTF8String,
      sets: Array[Array[Array[Byte]]]): Array[Long] = {
    val bytes = input.getBytes
    val n = bytes.length
    val hits = new Array[Long](sets.length)
    var inWs = false
    var segStart = 0
    def close(until: Int): Unit = if (until > segStart) {
      var s = 0
      while (s < sets.length) {
        if (segMatches(bytes, segStart, until, sets(s))) hits(s) += 1
        s += 1
      }
    }
    var i = 0
    while (i < n) {
      if (isWs(bytes(i))) {
        if (!inWs) { close(i); inWs = true }
      } else if (inWs) { segStart = i; inWs = false }
      i += 1
    }
    if (!inWs) close(n)
    hits
  }
}

case class TokenSetCount(child: Expression, sets: Seq[Seq[String]])
    extends UnaryKernel {

  @transient private lazy val setBytes: Array[Array[Array[Byte]]] =
    sets.map(_.map(_.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && sets.nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_set_count requires a string input and non-empty sets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenSetCountKernel.compute(input.asInstanceOf[UTF8String], setBytes)

  protected def kernel = "graft.functions.TokenSetCountKernel.compute"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    Seq(ctx.addReferenceObj("tokenSets", setBytes, "byte[][][]"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "token_set_count"
}

/** `TextAnalysis.langId` as one expression: one [[TokenSetCountKernel]]
  * scan over the [[graft.operators.TextAnalysis.langMarkers]] sets, then
  * the argmax in probe order (en, de, fr, es; the first maximum wins) —
  * "und" when no marker matches or the text is null, as the CASE chain it
  * replaced gave. That chain referenced the counts array once per branch
  * and in its `greatest`, and a `Filter` (no common-subexpression
  * elimination) ran the scan for every reference.
  */
object LangIdKernel {
  private val markers = graft.operators.TextAnalysis.langMarkers
  private val sets: Array[Array[Array[Byte]]] =
    markers.map(_._2.map(_.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).toArray).toArray
  private val langs: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray
  private val und = UTF8String.fromString("und")

  def compute(input: UTF8String): UTF8String =
    if (input == null) und
    else {
      val counts = TokenSetCountKernel.counts(input, sets)
      var best = 0
      var i = 1
      while (i < counts.length) {
        if (counts(i) > counts(best)) best = i
        i += 1
      }
      if (counts(best) > 0) langs(best) else und
    }
}

/** Not null-in-null-out ("und" for null text), so it keeps its own
  * eval and doGenCode over [[UnaryKernel]]'s input check.
  */
case class LangId(child: Expression) extends UnaryKernel {

  protected def kernel = "graft.functions.LangIdKernel.compute"

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    LangIdKernel.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $kernel(
        ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lang_id"
}

/** One-pass BPE-ish pre-token count — the L10 token-budget operator.
  *
  * Counts matches of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` (letter runs +
  * digit runs + every other non-whitespace codepoint, Java alternation
  * semantics) without `regexp_extract_all`'s per-row array of every
  * match — counting a 100 TB corpus's token budget should not allocate
  * the tokens.
  */
object BpeCountKernel {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
  private def isLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  def compute(input: UTF8String): Long = {
    val bytes = input.getBytes
    val n = bytes.length
    var count = 0L
    var state = 0 // 0 = none/ws/symbol, 1 = in letter run, 2 = in digit run
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xC0) != 0x80) { // skip continuation bytes entirely
        if (isLetter(b)) { if (state != 1) { count += 1; state = 1 } }
        else if (isDigit(b)) { if (state != 2) { count += 1; state = 2 } }
        else {
          state = 0
          if (!isWs(b)) count += 1 // symbol or non-ASCII codepoint: 1 each
        }
      }
      i += 1
    }
    count
  }
}

case class BpeCount(child: Expression) extends UnaryKernel {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    BpeCountKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.BpeCountKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_count"
}

object QualityFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** [words, stopwords, punct, chars] of a text column in one scan. */
  def qualityStats(text: Column): Column =
    ColumnBridge.column(QualityStats(ColumnBridge.expression(text)))

  /** Quality score in [0, 1] of a text column in one scan. */
  def qualityScore(text: Column): Column =
    ColumnBridge.column(QualityScore(ColumnBridge.expression(text)))

  /** Marker-vote language of a text column in one scan ("und" if none). */
  def langId(text: Column): Column =
    ColumnBridge.column(LangId(ColumnBridge.expression(text)))

  /** Per-set token membership counts of a text column in one scan. */
  def tokenSetCounts(text: Column, sets: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenSetCount(ColumnBridge.expression(text), sets))

  /** BPE-ish pre-token count in one scan, no match array. */
  def bpeCount(text: Column): Column =
    ColumnBridge.column(BpeCount(ColumnBridge.expression(text)))
}
