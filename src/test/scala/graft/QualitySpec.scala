package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The one-pass QualityStats kernel must be mirror-exact with the regex
  * formulation it replaced — same counts on every input, including the
  * split(limit=-1) empty-token quirks and non-ASCII codepoints — so the
  * DuckDB oracle fragment keeps gating `quality_score` unchanged.
  */
class QualitySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // the pre-kernel regex formulation, kept verbatim as the truth here
  private def regexScore(text: org.apache.spark.sql.Column) = {
    val words = TextAnalysis.wordCount(text).cast("double")
    val lengthTerm = when(words >= 20 && words <= 1000, lit(1.0))
      .when(words < 20, words / lit(20.0))
      .otherwise(lit(1000.0) / words)
    val punctTerm = lit(1.0) - TextAnalysis.punctRatio(text)
    val stopTerm = when(TextAnalysis.stopwordRatio(text) > 0.01, lit(1.0))
      .otherwise(lit(0.5))
    lengthTerm * punctTerm * stopTerm
  }

  private def statCols(text: org.apache.spark.sql.Column) = Seq(
    TextAnalysis.wordCount(text).cast("long").as("w_re"),
    TextAnalysis.stopwordCount(text).cast("long").as("s_re"),
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long").as("p_re"),
    length(text).cast("long").as("c_re"),
    element_at(graft.functions.QualityFunctions.qualityStats(text), 1).as("w_k"),
    element_at(graft.functions.QualityFunctions.qualityStats(text), 2).as("s_k"),
    element_at(graft.functions.QualityFunctions.qualityStats(text), 3).as("p_k"),
    element_at(graft.functions.QualityFunctions.qualityStats(text), 4).as("c_k"))

  test("kernel counts equal the regex formulation on adversarial strings") {
    val cases = Seq(
      "", " ", "  ", "a", " a", "a ", " a ", "the", " the\tof  and\n",
      "a b", "hello, world!", "the quick brown fox", "of", "xof", "ofx",
      "tab\tsep\nnewline\rcr\u000Bvt\fff", "!!!", "a!b?c.d",
      "café résumé", " nbsp", "emoji 😀 end",
      "中文 text the", "1 2 3 the a of", "trailing space the ",
      "    leading the", "is", "is is is is", "punct,,,,;;;;")
    val df = cases.toDF("t").select(statCols(col("t")): _*)
    df.collect().zip(cases).foreach { case (r, t) =>
      assert(r.getLong(0) === r.getLong(4), s"words for ${t.take(30)}")
      assert(r.getLong(1) === r.getLong(5), s"stopwords for ${t.take(30)}")
      assert(r.getLong(2) === r.getLong(6), s"punct for ${t.take(30)}")
      assert(r.getLong(3) === r.getLong(7), s"chars for ${t.take(30)}")
    }
  }

  test("kernels compile under CODEGEN_ONLY — no silent interpreted fallback") {
    // a doGenCode bug would not fail any correctness test (Spark falls
    // back to interpreted eval) — it would just quietly lose the perf the
    // kernels exist for; CODEGEN_ONLY turns that fallback into an error
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Seq("the a b!", "der und é 中", "", "  ").toDF("t").select(
        TextAnalysis.qualityScore($"t").as("q"),
        TextAnalysis.langId($"t").as("l"),
        TextAnalysis.bpeTokenCount($"t").as("b"),
        graft.operators.Dedup.shingles($"t", 3).as("s"))
      assert(out.collect().length === 4)
      // the IVF coarse-quantizer kernels too (and they must agree with
      // the interpreted eval path)
      val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
      val ids = Array(7L, 8L, 9L)
      val vecs = Seq(Tuple1(Array(2.0f, 0.1f)), Tuple1(Array(0.1f, 3.0f)))
        .toDF("v")
      val ivf = vecs.select(
        graft.functions.IvfFunctions.nearestCell($"v", cents, ids).as("c"),
        graft.functions.IvfFunctions.probeCells($"v", cents, ids, 2).as("p"))
        .collect()
      assert(ivf(0).getLong(0) === 7L && ivf(1).getLong(0) === 8L)
      assert(ivf(0).getSeq[Long](1) === Seq(7L, 9L))
      assert(ivf(1).getSeq[Long](1) === Seq(8L, 9L))
      // NaN affinity (zero vector) ranks GREATEST with ties to the lowest
      // cell — the order both Spark's sort and DuckDB's ORDER BY DESC give
      val zero = Seq(Tuple1(Array(0.0f, 0.0f))).toDF("v").select(
        graft.functions.IvfFunctions.nearestCell($"v", cents, ids).as("c"),
        graft.functions.IvfFunctions.probeCells($"v", cents, ids, 2).as("p"))
        .head()
      assert(zero.getLong(0) === 7L)
      assert(zero.getSeq[Long](1) === Seq(7L, 8L))
      // the one-expression scores and the decontamination probe, in a
      // projection and in a filter, null input included
      val grams = spark.sparkContext.broadcast[java.util.Set[
        org.apache.spark.unsafe.types.UTF8String]](new java.util.HashSet(
          java.util.Arrays.asList(
            org.apache.spark.unsafe.types.UTF8String.fromString("a b"))))
      val texts = Seq("the a b!", "der und é 中", "", "  ", null).toDF("t")
      val scored = texts.select(
        graft.functions.QualityFunctions.qualityScore($"t").as("q"),
        graft.functions.QualityFunctions.langId($"t").as("l"),
        graft.operators.Dedup.sharesShingle($"t", 2, grams).as("h"))
        .collect()
      assert(scored.map(_.getString(1)).toSeq ===
        Seq("en", "de", "und", "und", "und"))
      assert(scored.map(_.getBoolean(2)).toSeq ===
        Seq(true, false, false, false, false))
      assert(scored(4).isNullAt(0))
      assert(texts.where(
        graft.functions.QualityFunctions.langId($"t") === "en" &&
          graft.functions.QualityFunctions.qualityScore($"t") > 0.0 &&
          graft.operators.Dedup.sharesShingle($"t", 2, grams)).count() === 1)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("kernel score is bit-identical to the regex score on the corpus") {
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
      TextAnalysis.qualityScore($"text").as("kernel"),
      regexScore($"text").as("regex"))
    assert(both.where(!($"kernel" <=> $"regex")).count() === 0)
    assert(both.count() > 0)
    // null, empty and whitespace-only text: null in, null out
    val edge = Seq(null, "", " ", "\t\n ").toDF("t").select(
      TextAnalysis.qualityScore($"t").as("kernel"),
      regexScore($"t").as("regex"))
    assert(edge.where(!($"kernel" <=> $"regex")).count() === 0)
    assert(edge.where($"kernel".isNull).count() === 1)
  }

  test("langId and qualityScore are one kernel expression each") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.expression
    val t = $"t"
    assert(expression(TextAnalysis.langId(t)) ===
      graft.functions.LangId(expression(t)))
    assert(expression(TextAnalysis.qualityScore(t)) ===
      graft.functions.QualityScore(expression(t)))
  }

  test("kernel filters keep exactly the ids of the reference formulas") {
    val docs = Tables.documents(spark, sf)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val keep = Seq("en", "de")
    val byLang = ids(docs.where(TextAnalysis.langId($"text").isin(keep: _*)))
    assert(byLang.nonEmpty)
    assert(byLang === ids(docs.where(regexLang($"text").isin(keep: _*))))
    val byScore = ids(docs.where(TextAnalysis.qualityScore($"text") >= 0.6))
    assert(byScore.nonEmpty)
    assert(byScore === ids(docs.where(regexScore($"text") >= 0.6)))
  }

  // the pre-kernel langId formulation, verbatim
  private def regexLang(text: org.apache.spark.sql.Column) = {
    val toks = TextAnalysis.tokens(text)
    val scores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((lang, s), els) => when(s === best && best > 0, lit(lang))
        .otherwise(els)
    }
  }

  private def regexBpe(text: org.apache.spark.sql.Column) =
    size(regexp_extract_all(text, lit(TextAnalysis.bpeTokenPattern), lit(0)))
      .cast("long")

  test("langId kernel equals the filter-isin formulation everywhere") {
    val cases = Seq(null, "", " ", "\t\n ", "the cat", "der hund ist",
      "le chat et", "el gato y los", "xyz qqq", "the und", "is ist est es",
      "  der  ", "und") ++ {
      val rnd = new scala.util.Random(11)
      val vocab = Seq("the", "of", "und", "der", "le", "el", "es", "is",
        "xx", "y", "et", "", " ", "\t")
      (0 until 300).map(_ =>
        (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
    }
    val df = cases.toDF("t").select(
      TextAnalysis.langId($"t").as("kernel"), regexLang($"t").as("regex"))
    assert(df.where(!($"kernel" <=> $"regex")).count() === 0)
    // null, empty and whitespace-only text carry no evidence
    assert(df.limit(4).collect().map(_.getString(0)).toSeq ===
      Seq.fill(4)("und"))
    // corpus too
    val docs = Tables.documents(spark, sf).select(
      TextAnalysis.langId($"text").as("kernel"),
      regexLang($"text").as("regex"))
    assert(docs.where(!($"kernel" <=> $"regex")).count() === 0)
  }

  test("ngram hit equals membership of the word_shingles windows") {
    // the probe must walk exactly the windows WordShingles emits, split
    // quirks included: empty tokens from double spaces, a leading space,
    // trailing spaces dropped by split, and the short-text whole-string gram
    val rnd = new scala.util.Random(23)
    val pool = Vector("a", "b", "c", " ", "  ", "é", "")
    val texts = Seq(null, "", " ", "  ", "a", "a b", " a b", "a b ", "a  b",
      "a b c", "b c a b", "é a") ++ (0 until 400).map(_ =>
        (0 until rnd.nextInt(8)).map(_ => pool(rnd.nextInt(pool.length)))
          .mkString(if (rnd.nextBoolean()) " " else ""))
    val gramList = Seq("a b", "", " ", "c", "a", "b  a", "é a", "b c a")
    val grams = spark.sparkContext.broadcast[java.util.Set[
      org.apache.spark.unsafe.types.UTF8String]](new java.util.HashSet(
        java.util.Arrays.asList(gramList.map(
          org.apache.spark.unsafe.types.UTF8String.fromString): _*)))
    val df = texts.toDF("t")
    for (n <- 1 to 3) {
      val got = df.select($"t",
        graft.functions.TextFunctions.ngramHit($"t", n, grams).as("k"),
        coalesce(exists(graft.functions.TextFunctions.wordShingles($"t", n),
          g => g.isin(gramList.map(lit(_)): _*)), lit(false)).as("re"))
      val bad = got.where($"k" =!= $"re").collect()
      assert(bad.isEmpty, s"n=$n: ${bad.take(5).mkString(", ")}")
    }
  }

  test("bpe count kernel equals the regexp_extract_all formulation") {
    val cases = Seq("", " ", "abc", "a1b", "ab cd", "hello, world!",
      "1234 5678", "a!b?c", "abécd", "中文abc123", "  !  ",
      "CamelCase mixedUP 42x7", "...", "\t\n") ++ {
      val rnd = new scala.util.Random(13)
      val alphabet = "aB3 ,.!é中\t"
      (0 until 300).map(_ => (0 until rnd.nextInt(40))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = cases.toDF("t").select(
      TextAnalysis.bpeTokenCount($"t").as("kernel"), regexBpe($"t").as("re"))
    assert(df.where($"kernel" =!= $"re").count() === 0)
    val docs = Tables.documents(spark, sf).select(
      TextAnalysis.bpeTokenCount($"text").as("kernel"),
      regexBpe($"text").as("re"))
    assert(docs.where($"kernel" =!= $"re").count() === 0)
  }

  test("all three byte-scan kernels survive a UTF-8 edge-case fuzz " +
      "bit-identical to their regex formulations") {
    // the byte-scan kernels walk raw UTF-8; the classes of input that can
    // break a byte walk are exactly these — multi-byte boundaries (2/3/4
    // byte sequences), supplementary-plane codepoints (surrogate PAIRS in
    // the JVM string, single 4-byte sequences on the wire), every
    // java-regex \s member (incl. 0x0B vertical tab and 0x0C form feed,
    // which are NOT in " \t\n\r"), CR/LF mixes straddling token edges,
    // zero-width/BOM codepoints (non-ASCII, non-space), and NUL
    val edges = Seq(
      "", " ", "\u000B", "\u000C", "\u000B\u000C", "a\u000Bb", "a\u000Cthe",
      "\r", "\n", "\r\n", "\n\r", "\r\nthe\r\nof\r", "a\rb\nc\r\nd",
      "😀", "😀😀", "a😀b", "the😀of", "😀 the 😀", "𝄞clef", "🀄中é",
      "\u200Bthe", "the\u200B", "\uFEFFthe of", "a\u0000b", "\u0000",
      "é\u000Bé", "中\u000C中", "the\u000Bof\u000Cund der",
      " \u000B \u000C \r \n \t ", "😀!,.😀", "ab\u00ADcd")
    val rnd = new scala.util.Random(17)
    // token pool mixes 1/2/3/4-byte UTF-8, markers, digits, punctuation,
    // and every whitespace class; concatenation is sometimes glued (no
    // separator) so multi-byte sequences land adjacent to token edges
    val pool = Vector("the", "of", "und", "der", "le", "el", "es", "is",
      "a", "b", "x", "0", "42", "!", ",", ".", "?", ";", "é", "ß", "中",
      "文", "😀", "🜁", "𝄞", "\u000B", "\u000C", "\r", "\n", "\r\n", "\t",
      " ", "  ", "\u200B", "\uFEFF")
    val fuzz = (0 until 700).map { _ =>
      val n = rnd.nextInt(16)
      (0 until n).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
    }
    val df = (edges ++ fuzz).toDF("t").select(
      col("t") +: (statCols(col("t")) ++ Seq(
        TextAnalysis.qualityScore($"t").as("q_k"),
        regexScore($"t").as("q_re"),
        TextAnalysis.langId($"t").as("l_k"), regexLang($"t").as("l_re"),
        TextAnalysis.bpeTokenCount($"t").as("b_k"),
        regexBpe($"t").as("b_re"))): _*)
    df.collect().foreach { r =>
      val t = r.getString(0)
      val show = t.take(24).flatMap(c =>
        if (c < ' ' || c >= 0xD800) f"\\u$c%04X" else s"$c")
      assert(r.getLong(1) === r.getLong(5), s"words for '$show'")
      assert(r.getLong(2) === r.getLong(6), s"stopwords for '$show'")
      assert(r.getLong(3) === r.getLong(7), s"punct for '$show'")
      assert(r.getLong(4) === r.getLong(8), s"chars for '$show'")
      assert(r.getDouble(9) === r.getDouble(10), s"score for '$show'")
      assert(r.getString(11) === r.getString(12), s"lang for '$show'")
      assert(r.getLong(13) === r.getLong(14), s"bpe for '$show'")
    }
  }

  test("kernel score matches on seeded-random byte soup") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab the of!,.\t\n  é中0123"
    val cases = (0 until 500).map { _ =>
      val len = rnd.nextInt(60)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = cases.toDF("t").select(
      TextAnalysis.qualityScore($"t").as("kernel"),
      regexScore($"t").as("regex"))
    assert(df.where($"kernel" =!= $"regex").count() === 0)
  }
}
