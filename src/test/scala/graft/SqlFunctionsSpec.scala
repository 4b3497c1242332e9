package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.SqlFunctions

/** The graft_* SQL function surface: registered kernels must behave
  * exactly like their Scala DSL twins, every kernel's interpreted and
  * generated paths must agree, and codegen-shaping parameters must be
  * rejected unless they are integer literals.
  */
class SqlFunctionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  SqlFunctions.register(spark)

  test("SQL kernels equal their DSL twins") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("id", "t")
    docs.createOrReplaceTempView("sqlfn_docs")
    val viaSql = spark.sql(
      """SELECT id, graft_simhash64(t) AS sh,
              graft_word_shingles(t, 3) AS sg,
              graft_minhash_slots(graft_word_shingles(t, 2), 16) AS mh,
              graft_bpe_count(t) AS bc,
              graft_nfc_clean(t) AS nc,
              graft_bounded_levenshtein(t, upper(t), 50) AS lv
         FROM sqlfn_docs ORDER BY id""").collect()
    val viaDsl = docs.select(col("id"),
        graft.functions.SimhashFunctions.simhash64(col("t")).as("sh"),
        graft.functions.TextFunctions.wordShingles(col("t"), 3).as("sg"),
        graft.functions.MinhashFunctions.minhashSlots(
          graft.functions.TextFunctions.wordShingles(col("t"), 2), 16)
          .as("mh"),
        graft.functions.QualityFunctions.bpeCount(col("t")).as("bc"),
        graft.functions.NormalizeFunctions.nfcClean(col("t")).as("nc"),
        graft.functions.LevenshteinFunctions
          .boundedLevenshtein(col("t"), upper(col("t")), 50).as("lv"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toSeq).toSeq === viaDsl.map(_.toSeq).toSeq)
  }

  test("pairwise SQL kernels: jaccard and cosine") {
    val r = spark.sql(
      """SELECT graft_sorted_jaccard(array(1L, 2L, 3L),
                                     array(1L, 2L, 4L)) AS j,
              graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c1,
              graft_cosine(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS c0""")
      .collect().head
    // {1,2,3} vs {1,2,4}: jaccard = 2/4
    assert(r.getDouble(0) === 0.5)
    assert(r.getDouble(1) === 1.0 && r.getDouble(2) === 0.0)
  }

  test("every kernel gives the same rows under eval and codegen") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._

    val longs = ArrayType(LongType, containsNull = false)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("t", StringType), StructField("u", StringType),
      StructField("fa", ArrayType(FloatType, containsNull = false)),
      StructField("da", ArrayType(DoubleType, containsNull = false)),
      StructField("la", longs), StructField("lb", longs),
      StructField("sh", ArrayType(StringType, containsNull = false)),
      StructField("j", StringType)))
    def f(xs: Double*) = xs.map(_.toFloat)
    val rows = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog", "the quick cat",
        f(1, 2, 3), Seq(3.0, 2.0, 1.0), Seq(1L, 2L, 3L), Seq(2L, 3L, 4L),
        Seq("the quick", "quick brown"), """{"a": [1], "k": "fox", "k": 2}"""),
      Row(2L, null, null, null, null, null, null, null, null),
      Row(3L, "", "", f(), Seq(), Seq(), Seq(), Seq(), ""),
      // zero-norm vectors (NaN cosine and affinity), disjoint walks
      Row(4L, "der und die ist le et", "der und", f(0, 0, 0),
        Seq(0.0, 0.0, 0.0), Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq("der und"),
        """{"k": null, "k": -0}"""),
      // float vs double widening of the same decimals, identical walks
      Row(5L, "née Zürich é 中 a\tb  c!", "nee Zurich", f(0.1, 0.2, 0.3),
        Seq(0.1, 0.2, 0.3), Seq(5L, 7L, 9L), Seq(5L, 7L, 9L), Seq("é 中"),
        """{"k": 1.50}"""),
      // equal affinity to cells 7 and 9 (duplicate centroids)
      Row(6L, "el y los es el", "el y", f(1, 0, 0), Seq(2.0, 0.0, 0.0),
        Seq(1L, 3L), Seq(1L, 2L, 3L, 4L), Seq("el y", "y los"),
        """{"k": 7} trailing"""))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      schema)

    def e(c: String): Expression = ColumnBridge.expression(col(c))
    def int(v: Int): Expression = Literal(v)
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(1.0, 0.0, 0.0), Array(1.0, 1.0, 0.0))
    val cellIds = Array(7L, 8L, 9L, 10L)
    val grams = spark.sparkContext.broadcast[java.util.Set[UTF8String]](
      new java.util.HashSet(java.util.Arrays.asList(
        UTF8String.fromString("quick brown"), UTF8String.fromString("und"))))
    val builderArgs: Map[String, Seq[Seq[Expression]]] = Map(
      "graft_cosine" -> Seq(Seq(e("fa"), e("fa")), Seq(e("fa"), e("da")),
        Seq(e("da"), e("fa")), Seq(e("da"), e("da"))),
      "graft_sorted_jaccard" -> Seq(Seq(e("la"), e("lb"))),
      "graft_simhash64" -> Seq(Seq(e("t"))),
      "graft_nfc_clean" -> Seq(Seq(e("t"))),
      "graft_bpe_count" -> Seq(Seq(e("t"))),
      "graft_quality_stats" -> Seq(Seq(e("t"))),
      "graft_word_shingles" -> Seq(Seq(e("t"), int(2))),
      "graft_minhash_slots" -> Seq(Seq(e("sh"), int(8))),
      "graft_bounded_levenshtein" -> Seq(Seq(e("t"), e("u"), int(12))),
      "graft_lsh_buckets" -> Seq(Seq(e("fa"), int(4), int(2), int(3)),
        Seq(e("da"), int(4), int(2), int(3))))
    assert(builderArgs.keySet === SqlFunctions.builders.map(_._1).toSet)
    val kernels: Seq[Expression] =
      SqlFunctions.builders.flatMap { case (n, b) => builderArgs(n).map(b) } ++
      Seq(SortedOverlap(e("la"), e("lb")), SortedIntersect(e("la"), e("lb")),
        IvfNearestCell(e("fa"), cents, cellIds),
        IvfNearestCell(e("da"), cents, cellIds),
        IvfProbeCells(e("fa"), cents, cellIds, 3),
        IvfProbeCells(e("da"), cents, cellIds, 9),
        LangId(e("t")), NgramHit(e("t"), 2, grams), NgramHit(e("t"), 1, grams),
        NormalizeText(e("t")), NormalizeText(ColumnBridge.expression(lower(col("t")))),
        TokenSetCount(e("t"), Seq(Seq("the", "der"), Seq("el", "y"))),
        QualityScore(e("t")),
        BpeTokenCount(e("t"), BpeVocab.resourceMerges),
        BpeEncode(e("t"), BpeVocab.resourceMerges),
        JsonField(e("j"), "k", "$.k"), JsonField(e("t"), "k", "$.k"),
        RedactPii(e("t")), RedactPii(e("j")),
        RedactPii(ColumnBridge.expression(concat(col("t"),
          lit(" é a.b@ex.org 10.0.3.7 +1 555-012-3456")))))
    val cols = col("id") +: kernels.zipWithIndex.map { case (k, i) =>
      ColumnBridge.column(k).as(s"k$i") }

    // doubles by bit pattern, recursively through arrays
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case s: scala.collection.Seq[_] => s.map(bits)
      case other => other
    }
    def run(codegen: Boolean): Seq[Seq[Any]] = {
      val confs = Seq(
        "spark.sql.codegen.factoryMode" ->
          (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.fallback" -> "false")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = df.select(cols: _*)
        assert(out.queryExecution.executedPlan
          .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined === codegen)
        out.collect().sortBy(_.getLong(0)).map(_.toSeq.map(bits)).toSeq
      } finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val interpreted = run(codegen = false)
    val generated = run(codegen = true)
    assert(interpreted.length === rows.length)
    for ((i, g) <- interpreted.zip(generated); c <- i.indices)
      assert(g(c) === i(c), s"row ${i.head}, column ${cols(c)}")
  }

  test("codegen-shaping parameters must be integer literals") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles('a b c', id + 1) " +
        "FROM range(3)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
    val a = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1.0F))").collect()
    }
    assert(a.getMessage.contains("expects 2 arguments"))
  }

  test("injectables cover every builder with unique names") {
    val inj = SqlFunctions.injectables
    assert(inj.map(_._1.funcName).distinct.size === SqlFunctions.builders.size)
    // builders construct the advertised expression classes
    val cos = SqlFunctions.builders.toMap.apply("graft_cosine")(
      Seq(Literal(1), Literal(2)))
    assert(cos.isInstanceOf[graft.functions.CosineSim])
  }

  test("JsonField gives get_json_object's bytes on generated JSON, traps included") {
    import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => Check}
    import graft.functions.JsonField

    def u(s: String): Array[Byte] = s.getBytes(UTF_8)
    def raw(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    // invalid UTF-8: a lone lead, a lone continuation, overlong NUL and 'k',
    // a UTF-8-encoded surrogate, a code point above U+10FFFF, a bad lead
    val invalid = Seq(raw(0xC3), raw(0x80), raw(0xC0, 0x80), raw(0xC1, 0xAB),
      raw(0xED, 0xA0, 0x80), raw(0xF4, 0x90, 0x80, 0x80), raw(0xFF))
    // Spark 4.1.2's get_json_object(doc, '$.k') for each trap
    val traps: Seq[(Array[Byte], Option[String])] = Seq(
      """{"k": 1} x""" -> Some("1"), """{"k": 1}{""" -> Some("1"),
      """{"k": 1}]""" -> Some("1"), """{"k": 5""" -> None,
      "{\u0000\"k\":1}" -> None, "\uFEFF{\"k\": 1}" -> None,
      "{\"k\": \"a\u0000b\"}" -> Some("a\u0000b"), "{'k': 'x'}" -> Some("x"),
      """{"k": -0}""" -> Some("0"),
      """{"k": 12345678901234567890123}""" -> Some("12345678901234567890123"),
      """{"k": 1.50}""" -> Some("1.5"), """{"k": 1e2}""" -> Some("100.0"),
      """{"k": 007}""" -> None, """{"k": NaN}""" -> None,
      """{"k": 1, "k": 2}""" -> Some("1"), """{"k": null}""" -> None,
      """[{"k": 1}]""" -> None, """{"K": 1}""" -> None,
      """{"k": {"a": [1, 2]}}""" -> Some("""{"a":[1,2]}"""),
      "{\"k\": \"\\u00e9\\ud83d\\ude00\\n\"}" -> Some("é😀\n"),
      "{\"\\u006b\": true}" -> Some("true"))
      .map { case (d, want) => u(d) -> want } :+
      (raw('{', '"', 'k', '"', ':', '"', 0xC3, '"', '}') -> Some("\uFFFD")) :+
      // an overlong 'k' as the key: U+FFFD U+FFFD to Spark, "k" to Jackson
      (raw('{', '"', 0xC1, 0xAB, '"', ':', '1', '}') -> None)

    // a JSON string's body: plain runs, escapes, \u sequences (lone
    // surrogates too), raw multibyte and raw control characters
    val chunk: Gen[String] = Gen.frequency(
      3 -> Gen.alphaNumStr.map(_.take(5)),
      4 -> Gen.oneOf("\\n", "\\\"", "\\\\", "\\/", "\\t", "\\u00e9", "\\u006b",
        "\\ud83d\\ude00", "\\ud800", "\\udc00x", "\\'", "é", "中", "😀",
        "\u0000", "\u0001", " ", "'", "k"))
    val body = Gen.choose(0, 4).flatMap(Gen.listOfN(_, chunk)).map(_.mkString)
    val str = Gen.oneOf(body.map(b => s""""$b""""), body.map(b => s"'$b'"))
    val number = Gen.oneOf(Gen.choose(-1000L, 1000L).map(_.toString),
      Gen.oneOf("-0", "0", "007", "1.50", "1e2", "-1E-2", "NaN", "+1", "1.",
        "12345678901234567890123", "9223372036854775808", "-2147483649"))
    val key = Gen.oneOf("\"k\"", "'k'", "\"K\"", "\"\\u006b\"", "\"ключ\"",
      "\"a\"", "\"k \"", "\"\"", "\"😀\"", "\"k\\u0000\"", "\"k'\"")
    val ws = Gen.oneOf("", " ", "\n", "\t")
    def value(depth: Int): Gen[String] = Gen.frequency(Seq(
      4 -> str, 3 -> number, 2 -> Gen.oneOf("true", "false", "null")) ++
      Option.when(depth > 0)(Seq(1 -> obj(depth - 1),
        1 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, value(depth - 1)))
          .map(_.mkString("[", ",", "]")))).getOrElse(Nil): _*)
    def obj(depth: Int): Gen[String] = Gen.choose(0, 4).flatMap(Gen.listOfN(_,
      for (k <- key; w <- ws; v <- value(depth)) yield s"$k$w:$w$v"))
      .map(_.mkString("{", ", ", "}"))
    val doc: Gen[Array[Byte]] = Gen.frequency(
      8 -> obj(2).map(u),
      2 -> (for (o <- obj(2); tail <- Gen.oneOf(" x", "{", "]", "}", ",",
        """ {"k": 9}""")) yield u(o + tail)),
      2 -> (for (o <- obj(2); cut <- Gen.choose(0, o.length))
        yield u(o.take(cut))),
      1 -> obj(1).map(o => u("\uFEFF" + o)),
      1 -> obj(1).map(o => raw(0) ++ u(o)),
      1 -> obj(1).map(o => u(o.take(1) + "\u0000" + o.drop(1))),
      1 -> obj(1).map(_.getBytes(UTF_16BE)),
      1 -> obj(1).map(_.getBytes(UTF_16LE)),
      1 -> value(1).map(u),
      2 -> (for (o <- obj(2); at <- Gen.choose(0, o.length);
        bad <- Gen.oneOf(invalid)) yield u(o.take(at)) ++ bad ++ u(o.drop(at))),
      1 -> Gen.listOf(Gen.choose(0, 255)).map(bs => raw(bs.take(24): _*)))

    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("b", BinaryType)))
    def frame(docs: Seq[Array[Byte]]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.zipWithIndex.map { case (d, i) => Row(i.toLong, d) }, 2), schema)
    // the reference side runs Spark's expression: the rewrite excluded
    def extract(df: DataFrame, path: String,
        rewrite: Boolean): Seq[Option[Seq[Byte]]] = {
      val key = "spark.sql.optimizer.excludedRules"
      val prev = spark.conf.getOption(key)
      if (!rewrite) spark.conf.set(key, "graft.plans.JsonFieldRewrite")
      try {
        val out = df.select(col("id"),
          get_json_object(col("b").cast("string"), path).cast("binary"))
        assert(out.queryExecution.optimizedPlan.expressions.exists(
          _.find(_.isInstanceOf[JsonField]).isDefined) === rewrite, path)
        out.collect().sortBy(_.getLong(0)).toSeq
          .map(r => Option(r.getAs[Array[Byte]](1)).map(_.toSeq))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val paths = Seq("$.k", "$['k']", "$.ключ", "$['k ']", "$.k'")
    def differences(docs: Seq[Array[Byte]]): Seq[String] = {
      val df = frame(docs)
      for {
        path <- paths
        ((kernel, reference), d) <- extract(df, path, rewrite = true)
          .zip(extract(df, path, rewrite = false)).zip(docs)
        if kernel != reference
      } yield s"$path on ${d.map(b => f"${b & 0xFF}%02x").mkString}: " +
        s"kernel $kernel, Spark $reference"
    }

    val (trapDocs, wants) = traps.unzip
    assert(extract(frame(trapDocs), "$.k", rewrite = false)
      .map(_.map(b => new String(b.toArray, UTF_8))) === wants)
    assert(differences(trapDocs).isEmpty)
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAllNoShrink(Gen.listOfN(300, doc)) { docs =>
        val diff = differences(docs)
        Prop(diff.isEmpty) :| diff.take(5).mkString("\n")
      })
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
