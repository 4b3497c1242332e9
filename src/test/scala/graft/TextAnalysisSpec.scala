package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(text).toDF("text").select(c).head()

  test("word and BPE-ish token counting") {
    assert(one(TextAnalysis.wordCount($"text"), "a b  c").getInt(0) === 3)
    // letters run + digits run + 2 symbols + letters run = 5
    assert(one(TextAnalysis.bpeTokenCount($"text"), "ab12, (cd").getLong(0) === 5L)
  }

  test("normalize lowers, strips punctuation, collapses whitespace") {
    assert(one(TextAnalysis.normalize($"text"), " Hello,  WORLD!! ")
      .getString(0) === "hello world")
  }

  test("the normalize kernel equals the regex form the oracle replays, " +
      "with and without ICU case mapping") {
    // the pre-kernel formulation, kept verbatim as the truth here
    def regexNormalize(t: org.apache.spark.sql.Column) =
      trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9]+", " "),
        "\\s+", " "))
    val edge = Seq[String](null, "", " ", "   \t\n ", "\t\n",
      "!!Hello, World??", "...a", "b...", "tab\there\nnew\r\nline",
      "nbsp\u00A0space", "ideographic\u3000space", "\u0130stanbul \u0130",
      "\u212A kelvin", "Stra\u00DFe \u00DF", "\u03A3\u03C3\u03C2 \u03A3",
      "\u4E2D\u6587 text \u65E5\u672C", "emoji \uD83D\uDE00 x\uD83D\uDE00y",
      "A1-B2_c3", "\u00C0\u00E9\u00EE")
      .zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    // invalid UTF-8 from binary: the bytes reach both forms unchecked
    val invalid = spark.sql(
      "SELECT 1000 AS id, CAST(X'C341FF62' AS STRING) AS text UNION ALL " +
        "SELECT 1001, CAST(X'41E282' AS STRING) UNION ALL " +
        "SELECT 1002, CAST(X'F09F98' AS STRING)")
    val docs = spark.read.parquet(
      s"${new java.io.File(sf).getParent}/sf0.01/documents.parquet")
      .select(col("doc_id").cast("int").as("id"), col("text"))
    val inputs = edge.unionByName(invalid).unionByName(docs)
    val key = "spark.sql.icu.caseMappings.enabled"
    val prev = spark.conf.getOption(key)
    try {
      for (icu <- Seq("true", "false")) {
        spark.conf.set(key, icu)
        val differ = inputs.select(col("id"),
            TextAnalysis.normalize(col("text")).as("kernel"),
            regexNormalize(col("text")).as("regex"))
          .where(!(col("kernel") <=> col("regex")))
        assert(differ.count() === 0,
          s"icu=$icu: ${differ.limit(5).collect().mkString("; ")}")
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the adversarial rows produce what the regex produces, spelled out
    assert(one(TextAnalysis.normalize($"text"), "\u0130stanbul")
      .getString(0) === "i stanbul")
    assert(one(TextAnalysis.normalize($"text"), " \u212A-9 ").getString(0) ===
      "k 9")
  }

  test("stopword and punct ratios are int/int doubles") {
    val r = Seq("the cat, the hat").toDF("text").select(
      TextAnalysis.stopwordRatio($"text").as("s"),
      TextAnalysis.punctRatio($"text").as("p")).head()
    assert(r.getDouble(0) === 2.0 / 4.0)
    assert(r.getDouble(1) === 1.0 / 16.0)
  }

  test("langId picks the language with most marker hits, und when none") {
    val df = Seq(
      ("the size of the house is big", "en"),
      ("der hund und die katze ist da", "de"),
      ("le chat et les chiens est la", "fr"),
      ("el perro y los gatos es aqui", "es"),
      ("zzz qqq www", "und"),
    ).toDF("text", "want")
    df.select(TextAnalysis.langId($"text").as("got"), $"want").collect()
      .foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("qualityScore in [0,1], rewards normal prose over symbol soup") {
    val scores = Seq(
      "the cat sat on the mat and then the dog sat on the cat so everyone sat down today",
      "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@ !!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@",
    ).toDF("text").select(TextAnalysis.qualityScore($"text")).collect()
      .map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }

  test("fingerprint is normalization-invariant") {
    val fp = Seq("The  Quick FOX!", "the quick fox").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fp(0) === fp(1))
  }

  test("domainMixture: sqrt-temperature weights match the naive truth, " +
      "normalize to 1, and oversample the tail") {
    import spark.implicits._
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"text").collect()
    // split limit -1 keeps trailing empty tokens — the semantics of
    // Spark's split and DuckDB's string_split_regex; Java's default
    // limit 0 drops them and would diverge on trailing whitespace
    val per = rows.groupBy(_.getString(0)).map { case (src, xs) =>
      src -> ((xs.length.toLong,
        xs.map(_.getString(1).split("\\s+", -1).length.toLong).sum))
    }
    val tot = per.values.map(_._2).sum
    val q = per.map { case (src, (_, t)) =>
      src -> math.floor(1048576.0 *
        math.sqrt(t.toDouble / tot.toDouble)).toLong
    }
    val qtot = q.values.sum
    val got = Queries.domainMixture(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq === per.keys.toSeq.sorted)
    got.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) === per(src)._1, s"n_docs of $src")
      assert(r.getLong(2) === per(src)._2, s"n_tokens of $src")
      assert(r.getDouble(3) === per(src)._2.toDouble / tot.toDouble)
      assert(r.getDouble(4) === q(src).toDouble / qtot.toDouble)
      assert(r.getDouble(5) === r.getDouble(4) / r.getDouble(3))
    }
    // weights normalize (exactly q/qtot summed — tiny float tail only)
    assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    // α = 1/2 smooths toward uniform: the token-heaviest source is
    // undersampled (multiplier < 1), the lightest oversampled (> 1),
    // provided the corpus isn't already uniform
    val bySh = got.sortBy(_.getDouble(3))
    if (bySh.last.getDouble(3) > bySh.head.getDouble(3) * 1.01) {
      assert(bySh.last.getDouble(5) < 1.0)
      assert(bySh.head.getDouble(5) > 1.0)
    }
  }

  test("lmScore equals the naive conditional-probability truth over " +
      "the corpus; sub-2-word docs excluded; probabilities normalize") {
    import spark.implicits._
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
    def norm(t: String) =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val words = rows.map(r =>
      r.getLong(0) -> norm(r.getString(1)).split(" ", -1).toSeq).toMap
    val inst = words.toSeq.flatMap { case (d, w) =>
      if (w.length < 2) Nil
      else w.sliding(2).map(p => (d, p(0), p(1))).toSeq
    }
    val c2 = inst.groupBy(i => (i._2, i._3))
      .map { case (k, v) => k -> v.size.toLong }
    val c1 = c2.groupBy(_._1._1).map { case (x, m) => x -> m.values.sum }
    val q = c2.map { case ((x, y), c) =>
      (x, y) -> math.floor(1048576.0 * (c.toDouble / c1(x).toDouble)).toLong
    }
    val want = inst.groupBy(_._1).map { case (d, xs) =>
      val sq = xs.map(i => q((i._2, i._3))).sum
      d -> ((xs.size.toLong, sq.toDouble / xs.size / 1048576.0))
    }
    val got = Queries.lmScore(spark, sf).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val d = r.getLong(0)
      assert(r.getLong(1) === want(d)._1, s"n_bigrams of doc $d")
      assert(r.getDouble(2) === want(d)._2, s"lm_score of doc $d")
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("lmScore collapsed path equals the naive truth on a verbatim-" +
      "duplicated corpus (gsize-weighted counts, members rejoined)") {
    import spark.implicits._
    // amplify the fixture: every doc appears twice more under new ids
    // (duplication factor 3 ≥ the dispatch's ≥2 bar), so the dispatch
    // takes the r18 collapse branch; the naive truth runs over the SAME
    // rows
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rows = base ++ base.flatMap { case (d, t) =>
      Seq((d + 1000000L, t), (d + 2000000L, t)) }
    val dir = java.nio.file.Files.createTempDirectory("graft_lmdup_")
    try {
      // lmScore reads documents(dir) — source/lang are unused by it but
      // the reader selects them, so carry placeholders
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def norm(t: String) =
        t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      val inst = rows.toSeq.flatMap { case (d, t) =>
        val w = norm(t).split(" ", -1).toSeq
        if (w.length < 2) Nil
        else w.sliding(2).map(p => (d, p(0), p(1))).toSeq
      }
      val c2 = inst.groupBy(i => (i._2, i._3))
        .map { case (k, v) => k -> v.size.toLong }
      val c1 = c2.groupBy(_._1._1).map { case (x, m) => x -> m.values.sum }
      val q = c2.map { case ((x, y), c) =>
        (x, y) -> math.floor(1048576.0 * (c.toDouble / c1(x).toDouble)).toLong
      }
      val want = inst.groupBy(_._1).map { case (d, xs) =>
        val sq = xs.map(i => q((i._2, i._3))).sum
        d -> ((xs.size.toLong, sq.toDouble / xs.size / 1048576.0))
      }
      val got = Queries.lmScore(spark, dir.toString).collect()
      assert(got.length === want.size)
      got.foreach { r =>
        val d = r.getLong(0)
        assert(r.getLong(1) === want(d)._1, s"n_bigrams of doc $d")
        assert(r.getDouble(2) === want(d)._2, s"lm_score of doc $d")
      }
      // replicas carry exactly their original's row
      base.foreach { case (d, _) =>
        val byId = got.map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
        for (rep <- Seq(d + 1000000L, d + 2000000L) if byId.contains(d))
          assert(byId(rep) === byId(d), s"replica $rep of doc $d")
      }
    } finally graft.sources.Sinks.rmTree(dir.toFile)
  }

  test("redactPii masks emails, IPv4s, and phone numbers; counts match") {
    val text = "mail a.b+c@ex-1.org or admin@x.io, host 192.168.0.1, " +
      "call +1 555-012-3456; clean text stays."
    assert(one(TextAnalysis.redactPii($"text"), text).getString(0) ===
      "mail [EMAIL] or [EMAIL], host [IPV4], call [PHONE]; clean text stays.")
    assert(one(TextAnalysis.piiCount($"text"), text).getInt(0) === 4)
    // no PII → identity, zero count
    val clean = "version 1.2 costs 3 dollars at 5pm"
    assert(one(TextAnalysis.redactPii($"text"), clean).getString(0) === clean)
    assert(one(TextAnalysis.piiCount($"text"), clean).getInt(0) === 0)
  }

  // the regex chain the oracle replays, built here from the same patterns
  private def regexRedact(t: org.apache.spark.sql.Column) =
    TextAnalysis.piiPatterns.foldLeft(t) { case (c, (tag, pat)) =>
      regexp_replace(c, pat, s"[$tag]")
    }

  /** Rows of `inputs` (id, text) where the kernel and the chain differ. */
  private def redactDiffers(inputs: org.apache.spark.sql.DataFrame) =
    inputs.select(col("id"), col("text"),
        TextAnalysis.redactPii(col("text")).as("kernel"),
        regexRedact(col("text")).as("regex"))
      .where(!(col("kernel") <=> col("regex")))

  test("redactPii equals the regex chain on the corpus, edge rows and " +
      "invalid UTF-8") {
    // the tags go into appendReplacement as written: no group reference
    assert(TextAnalysis.piiPatterns.map(_._1) === Seq("EMAIL", "IPV4", "PHONE"))
    val edge = Seq[String](null, "", " ", "no digit, but a@sign",
      "no at sign: version 1.2 at 5pm", "digits matching nothing: 555-01 1.2.3",
      "only zeros 0.0.0.0", "only nines 9.9.9.9", "0 000 000 0000",
      "é a@b.co", "中文 192.168.0.1 😀 x@y.deé",
      "a@b.coc@d.org", "1.2.3.4 5.6.7.8", "a@b.io 1.2.3.4+1 555-012-3456",
      "mail 1-555-012-3456@ex.com now", "a@555-012-3456.com",
      "+1 192.168.100.1234", "+12 345.678.9012", "10.20.30.40.5678",
      "1 (555) 012-3456 and +44 (555) 012 3456", "a@b.c 999.999.999.999",
      "100% of a.b+c@ex-1.org (call 1.555.012.3456)")
      .zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    // invalid UTF-8 from binary: re-encoded by the chain even with no match
    val invalid = spark.sql(
      "SELECT 1000 AS id, CAST(X'FF41' AS STRING) AS text UNION ALL " +
        "SELECT 1001, CAST(X'C3A9206140622E636F' AS STRING) UNION ALL " +
        "SELECT 1002, CAST(X'3132372EFF2E302E31' AS STRING) UNION ALL " +
        "SELECT 1003, CAST(X'EDA0803140322E696F' AS STRING) UNION ALL " +
        "SELECT 1004, CAST(X'C080F490808040' AS STRING)")
    val docs = spark.read.parquet(
      s"${new java.io.File(sf).getParent}/sf0.01/documents.parquet")
      .select(col("doc_id").cast("int").as("id"), col("text"))
    // the pii_redact query's splice, over every document
    val salted = docs.select((col("id") + 1000000).as("id"),
      concat(col("text"), lit(" contact user"), col("id"),
        lit("@example.com from 10.0."), pmod(col("id"), lit(256)),
        lit(".7 call +1 555-012-3456.")).as("text"))
    val inputs = edge.unionByName(invalid).unionByName(docs)
      .unionByName(salted)
    val differ = redactDiffers(inputs)
    assert(differ.count() === 0, differ.limit(5).collect().mkString("; "))
    assert(salted.where(TextAnalysis.redactPii(col("text")) === col("text"))
      .count() === 0)

    // the traps, spelled out
    def redactHex(h: String): String =
      Seq(h).toDF("h").select(hex(TextAnalysis.redactPii(
        unhex(col("h")).cast("string")).cast("binary"))).head().getString(0)
    assert(redactHex("FF41") === "EFBFBD41")
    assert(redactHex("C3A9206140622E636F") ===
      "C3A920" + "[EMAIL]".getBytes("UTF-8").map(b => f"$b%02X").mkString)
    assert(redactHex("3132372EFF2E302E31") === "3132372EEFBFBD2E302E31")
  }

  test("redactPii equals the regex chain on generated text") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.scalacheck.{Gen, Prop, Test => Check}
    // pieces that build and break the patterns: their characters, a few
    // multibyte ones, whole matches, and invalid UTF-8
    val piece: Gen[Array[Byte]] = Gen.frequency(
      6 -> Gen.oneOf("a", "Z", "x", "0", "1", "5", "9", "@", ".", "-", "+",
        "(", ")", "%", " ", " ", "é", "中", "😀").map(_.getBytes(UTF_8)),
      2 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.numChar))
        .map(_.mkString.getBytes(UTF_8)),
      1 -> Gen.oneOf("a@b.co", "x.y@ex-1.org", "10.0.3.7", "192.168.0.1",
        "+1 555-012-3456", "555 012 3456", "(555)").map(_.getBytes(UTF_8)),
      1 -> Gen.oneOf(Seq(0xFF), Seq(0xC3), Seq(0x80), Seq(0xC0, 0x80),
        Seq(0xED, 0xA0, 0x80), Seq(0xF4, 0x90, 0x80, 0x80))
        .map(_.map(_.toByte).toArray))
    val text: Gen[Array[Byte]] = Gen.choose(0, 30)
      .flatMap(Gen.listOfN(_, piece)).map(_.toArray.flatten)
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAllNoShrink(Gen.listOfN(300, text)) { texts =>
        val inputs = texts.zipWithIndex.map { case (t, i) => (i, t) }
          .toDF("id", "b").select(col("id"), col("b").cast("string").as("text"))
        val diff = redactDiffers(inputs).limit(5).collect()
        Prop(diff.isEmpty) :| diff.mkString("\n")
      })
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("redactPii refuses a collated string at analysis") {
    val lcase = spark.sql("SELECT 'A@B.CO 10.0.0.1' COLLATE UTF8_LCASE AS text")
    // regexp_replace takes it (and matches case-insensitively); the kernel
    // is for plain strings only
    assert(lcase.select(regexRedact(col("text"))).head().getString(0) ===
      "[EMAIL] [IPV4]")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      lcase.select(TextAnalysis.redactPii(col("text"))).collect()
    }
    assert(e.getMessage.contains("redact_pii requires a string input"),
      e.getMessage)
  }
}
