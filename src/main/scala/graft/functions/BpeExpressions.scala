package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real-vocab BPE token counting — the L10 token-budget operator driven by
  * an actual merges table, not the pre-token proxy ([[BpeCountKernel]]
  * counts pre-tokens only; budgets derived from it are systematically high
  * for any corpus a subword vocabulary compresses).
  *
  * The merges file is the standard GPT-2 `merges.txt` format (optional
  * `#`-prefixed header lines, then one `left right` pair per line, rank =
  * line order), so any public vocabulary drops in unchanged. The
  * checked-in table (`graft/bpe_merges.txt`) is trained deterministically
  * on the sf0.01 documents corpus by [[graft.BpeTrain]] — this container
  * has no network access to fetch a published file, and a corpus-trained
  * table exercises the identical code path.
  *
  * Encoding is the reference BPE algorithm (Sennrich et al. 2016; the
  * GPT-2 encoder's `bpe()` loop): pre-tokenize (letter runs | digit runs |
  * single non-alphanumeric codepoints — the same classes as
  * [[BpeCountKernel]]), then per pre-token repeatedly merge ALL
  * left-to-right non-overlapping occurrences of the lowest-rank adjacent
  * pair until none remains. Because a trained merge's two sides always
  * form at strictly lower ranks, this min-rank loop is equivalent to
  * applying merges in rank order — which is what the DuckDB oracle
  * replays with a recursive CTE.
  */
object BpeVocab {

  /** Parse GPT-2 `merges.txt` content: `#…` headers and blank lines are
    * skipped; each remaining line is `left right`; rank = order.
    */
  def parseMerges(lines: Iterator[String]): Array[(String, String)] =
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf(' ')
        require(i > 0 && i < l.length - 1, s"malformed merge line: '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toArray

  /** The checked-in table (see [[graft.BpeTrain]] for provenance). */
  lazy val resourceMerges: Array[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "resource graft/bpe_merges.txt missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try parseMerges(src.getLines()) finally src.close()
  }

  /** rank lookup keyed `left\u0000right` (NUL never occurs in a merge side:
    * sides are concatenations of alphanumeric pre-token characters).
    */
  def ranksOf(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.put(merges(i)._1 + "\u0000" + merges(i)._2, i); i += 1
    }
    m
  }
}

object BpeEncodeKernel {

  /** Final symbol sequence for one pre-token word under `ranks`.
    * Min-rank merge loop over the symbol array; each round merges all
    * left-to-right non-overlapping occurrences of the winning pair.
    */
  def encodeSyms(word: String,
      ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    // split into codepoints (corpus words are ASCII; stay correct beyond)
    var syms = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      syms.add(word.substring(i, i + n))
      i += n
    }
    var done = false
    while (!done && syms.size > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var bi = -1
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + "\u0000" + syms.get(j + 1))
        if (r != null && r < best) { best = r; bi = j }
        j += 1
      }
      if (bi < 0) done = true
      else {
        val l = syms.get(bi); val r = syms.get(bi + 1)
        val merged = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k < syms.size - 1 && syms.get(k) == l && syms.get(k + 1) == r) {
            merged.add(l + r); k += 2
          } else { merged.add(syms.get(k)); k += 1 }
        }
        syms = merged
      }
    }
    syms
  }

  /** Number of BPE tokens for one pre-token word under `ranks`. */
  def encodeCount(word: String, ranks: java.util.HashMap[String, Integer]): Int =
    if (word.length <= 1) word.length min 1
    else encodeSyms(word, ranks).size

  private val CacheCap = 1 << 16

  /** One-pass token count of a whole text: pre-token classes exactly as
    * [[BpeCountKernel]] (letter runs, digit runs, one per other
    * non-whitespace codepoint), with each run BPE-encoded. `cache`
    * memoizes word → token count across rows (corpus vocabularies are
    * Zipfian — the hot words dominate); capped so an adversarial corpus
    * can't grow executor memory unboundedly.
    */
  def compute(input: UTF8String,
      ranks: java.util.HashMap[String, Integer],
      cache: java.util.concurrent.ConcurrentHashMap[String, Integer]): Long = {
    val s = input.toString
    val n = s.length
    var count = 0L
    var i = 0
    def runEnd(start: Int, letter: Boolean): Int = {
      var e = start
      while (e < n && {
        val c = s.charAt(e)
        if (letter) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else c >= '0' && c <= '9'
      }) e += 1
      e
    }
    while (i < n) {
      val c = s.charAt(i)
      val isL = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      val isD = c >= '0' && c <= '9'
      if (isL || isD) {
        val e = runEnd(i, isL)
        val w = s.substring(i, e)
        var t = cache.get(w)
        if (t == null) {
          t = encodeCount(w, ranks)
          if (cache.size < CacheCap) cache.put(w, t)
        }
        count += t.intValue()
        i = e
      } else {
        if (!(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' ||
            c == '\r')) count += 1
        // a surrogate pair is one codepoint = one symbol token
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
      }
    }
    count
  }

  /** Token-id base for merged symbols: 0x110000 is one past the last
    * Unicode codepoint, so merged-symbol ids (`IdBase + rank`) can never
    * collide with a single-codepoint symbol's id (its codepoint value).
    */
  val IdBase = 0x110000

  /** symbol → id for merged symbols: `IdBase + min(rank)` over the merges
    * producing that string (two merges CAN produce the same string via
    * different splits — (a,bc) and (ab,c) both yield "abc" — so the map
    * keeps the lowest rank, matching the oracle's `MIN(rnk)`).
    */
  def vocabOf(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + merges(i)._2, IdBase + i); i += 1
    }
    m
  }

  /** Token-id sequence for one pre-token word: final symbols from the
    * min-rank loop, each mapped to its id (codepoint for single-codepoint
    * symbols; `IdBase + min-rank` for merged ones — every multi-codepoint
    * final symbol was produced by some merge, so the vocab lookup total).
    */
  def encodeIds(word: String, ranks: java.util.HashMap[String, Integer],
      vocab: java.util.HashMap[String, Integer]): Array[Int] = {
    val syms = encodeSyms(word, ranks)
    val out = new Array[Int](syms.size)
    var i = 0
    while (i < syms.size) {
      val s0 = syms.get(i)
      out(i) =
        if (s0.codePointCount(0, s0.length) == 1) s0.codePointAt(0)
        else vocab.get(s0).intValue()
      i += 1
    }
    out
  }

  private val EmptyIds = new Array[Int](0)

  /** Full token-id sequence of a text — the tokenizer OUTPUT, not just its
    * count. Same pre-token scan as [[compute]]; per-word id arrays come
    * from the capped `cache`. Returns a primitive int array wrapped as
    * Catalyst array data (token ids fit in int: codepoints < 0x110000,
    * merged ids = 0x110000 + rank).
    */
  def computeIds(input: UTF8String,
      ranks: java.util.HashMap[String, Integer],
      vocab: java.util.HashMap[String, Integer],
      cache: java.util.concurrent.ConcurrentHashMap[String, Array[Int]])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = input.toString
    val n = s.length
    var buf = new Array[Int](math.max(8, n / 2))
    var len = 0
    def append(ids: Array[Int]): Unit = {
      if (len + ids.length > buf.length) {
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, len + ids.length))
      }
      System.arraycopy(ids, 0, buf, len, ids.length)
      len += ids.length
    }
    def append1(id: Int): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      buf(len) = id; len += 1
    }
    def runEnd(start: Int, letter: Boolean): Int = {
      var e = start
      while (e < n && {
        val c = s.charAt(e)
        if (letter) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else c >= '0' && c <= '9'
      }) e += 1
      e
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val isL = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      val isD = c >= '0' && c <= '9'
      if (isL || isD) {
        val e = runEnd(i, isL)
        val w = s.substring(i, e)
        var ids = cache.get(w)
        if (ids == null) {
          ids = if (w.isEmpty) EmptyIds else encodeIds(w, ranks, vocab)
          if (cache.size < CacheCap) cache.put(w, ids)
        }
        append(ids)
        i = e
      } else {
        val wide = Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))
        if (!(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' ||
            c == '\r')) append1(if (wide) s.codePointAt(i) else c.toInt)
        i += (if (wide) 2 else 1)
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, len))
  }
}

/** Merges-table-driven BPE token count of a text column. The ranks map and
  * the per-expression word cache ride into generated code as REFERENCE
  * OBJECTS (`addReferenceObj`) — inlining a vocabulary as literals in the
  * expression tree blows the codegen size limits and silently drops the
  * stage to interpreted eval.
  */
case class BpeTokenCount(child: Expression, merges: Array[(String, String)])
    extends UnaryKernel {

  override def dataType: DataType = LongType

  @transient private lazy val ranks = BpeVocab.ranksOf(merges)
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  override def nullSafeEval(input: Any): Any =
    BpeEncodeKernel.compute(input.asInstanceOf[UTF8String], ranks, cache)

  protected def kernel = "graft.functions.BpeEncodeKernel.compute"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap<String, Integer>"),
    ctx.addReferenceObj("bpeCache", cache,
      "java.util.concurrent.ConcurrentHashMap<String, Integer>"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_token_count"
}

/** Full BPE ENCODE of a text column — the array of token ids, i.e. what a
  * training pipeline actually writes out, not just the budget count.
  * Id scheme (replayed exactly by the DuckDB oracle): a single-codepoint
  * symbol's id is its codepoint; a merged symbol's id is
  * `0x110000 + min(rank)` over merges producing it — disjoint ranges, so
  * the mapping needs no global vocabulary table beyond the merges file.
  * Ranks map, symbol-id vocab, and the per-word id-array cache all ride
  * into generated code as reference objects (same codegen-size rule as
  * [[BpeTokenCount]]).
  */
case class BpeEncode(child: Expression, merges: Array[(String, String)])
    extends UnaryKernel {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val ranks = BpeVocab.ranksOf(merges)
  @transient private lazy val vocab = BpeEncodeKernel.vocabOf(merges)
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

  override def nullSafeEval(input: Any): Any =
    BpeEncodeKernel.computeIds(input.asInstanceOf[UTF8String], ranks, vocab, cache)

  protected def kernel = "graft.functions.BpeEncodeKernel.computeIds"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap<String, Integer>"),
    ctx.addReferenceObj("bpeVocab", vocab, "java.util.HashMap<String, Integer>"),
    ctx.addReferenceObj("bpeIdCache", cache,
      "java.util.concurrent.ConcurrentHashMap<String, int[]>"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}

object BpeFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Real-vocab BPE token count using the checked-in merges table. */
  def bpeTokenCount(text: Column): Column =
    bpeTokenCount(text, BpeVocab.resourceMerges)

  /** Real-vocab BPE token count under an explicit merges table. */
  def bpeTokenCount(text: Column, merges: Array[(String, String)]): Column =
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expression(text), merges))

  /** Full BPE token-id encode using the checked-in merges table. */
  def bpeEncode(text: Column): Column =
    bpeEncode(text, BpeVocab.resourceMerges)

  /** Full BPE token-id encode under an explicit merges table. */
  def bpeEncode(text: Column, merges: Array[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(text), merges))
}
