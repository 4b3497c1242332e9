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
      StructField("sh", ArrayType(StringType, containsNull = false))))
    def f(xs: Double*) = xs.map(_.toFloat)
    val rows = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog", "the quick cat",
        f(1, 2, 3), Seq(3.0, 2.0, 1.0), Seq(1L, 2L, 3L), Seq(2L, 3L, 4L),
        Seq("the quick", "quick brown")),
      Row(2L, null, null, null, null, null, null, null),
      Row(3L, "", "", f(), Seq(), Seq(), Seq(), Seq()),
      // zero-norm vectors (NaN cosine and affinity), disjoint walks
      Row(4L, "der und die ist le et", "der und", f(0, 0, 0),
        Seq(0.0, 0.0, 0.0), Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq("der und")),
      // float vs double widening of the same decimals, identical walks
      Row(5L, "née Zürich é 中 a\tb  c!", "nee Zurich", f(0.1, 0.2, 0.3),
        Seq(0.1, 0.2, 0.3), Seq(5L, 7L, 9L), Seq(5L, 7L, 9L), Seq("é 中")),
      // equal affinity to cells 7 and 9 (duplicate centroids)
      Row(6L, "el y los es el", "el y", f(1, 0, 0), Seq(2.0, 0.0, 0.0),
        Seq(1L, 3L), Seq(1L, 2L, 3L, 4L), Seq("el y", "y los")))
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
        BpeEncode(e("t"), BpeVocab.resourceMerges))
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
}
