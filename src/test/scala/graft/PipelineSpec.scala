package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ErrorPolicy
import graft.pipeline.{Pipeline, TaskReport}

/** Pipeline config semantics — the reference's executor config surface
  * (`MapReduceExecutorTask.java:32-75`), including the partitioned-output
  * job shape of `EmbulkPartitioningMapReduce.java` and the
  * `stop_on_invalid_record` policy.
  */
class PipelineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("map-only config: transforms apply, no partitioning") {
    val cfg = Pipeline.Config(
      inputPath = s"$sf/orders.parquet",
      transforms = Seq(
        Pipeline.Where("o_totalprice > 50000"),
        Pipeline.Cast("o_custkey", "string"),
        Pipeline.Rename("o_orderstatus", "status"),
        Pipeline.Derive("big", "o_totalprice > 200000"),
        Pipeline.Select(Seq("o_orderkey", "o_custkey", "status", "big"))))
    val df = Pipeline.plan(spark, cfg)
    assert(df.columns.toSeq === Seq("o_orderkey", "o_custkey", "status", "big"))
    assert(df.schema("o_custkey").dataType.typeName === "string")
    assert(df.count() > 0)
  }

  test("dedup filter step keeps the lowest-id row per content") {
    val cfg = Pipeline.Config(
      inputPath = s"$sf/documents.parquet",
      transforms = Seq(Pipeline.DedupRows("doc_id", "text")))
    val df = Pipeline.plan(spark, cfg)
    // schema unchanged (row-level filter, not a hash-group projection)
    assert(df.columns.toSeq ===
      spark.read.parquet(s"$sf/documents.parquet").columns.toSeq)
    val viaOperator = graft.operators.Dedup.exact(
      spark.read.parquet(s"$sf/documents.parquet"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    assert(df.count() === viaOperator.count())
    // the JSON front-end parses the same step
    val json = s"""{"in": {"path": "$sf/documents.parquet"},
      "filters": [{"type": "dedup", "id": "doc_id", "column": "text"}]}"""
    assert(Pipeline.plan(spark,
      graft.pipeline.ConfigJson.parse(json)).count() === df.count())
  }

  test("source_quota and quality_bands config steps match their operators") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // quota step ≡ TopKPerKey over the quality score
    val quotaJson = s"""{"in": {"path": "$sf/documents.parquet"},
      "filters": [{"type": "source_quota", "key": "source",
        "column": "text", "id": "doc_id", "k": 5}]}"""
    val quota = Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(quotaJson))
    assert(quota.columns.toSeq === docs.columns.toSeq) // schema preserved
    val scored = docs.withColumn("_s",
      graft.operators.TextAnalysis.qualityScore($"text"))
    val direct = graft.plans.TopKPerKey.topK(scored, Seq("source"),
      Seq("_s" -> "desc", "doc_id" -> "asc"), 5)
    assert(quota.select("doc_id").collect().map(_.getLong(0)).toSet ===
      direct.select("doc_id").collect().map(_.getLong(0)).toSet)
    // band step ≡ ntileByStratum keep-set
    val bandJson = s"""{"in": {"path": "$sf/documents.parquet"},
      "filters": [{"type": "quality_bands", "stratum": "lang",
        "column": "text", "id": "doc_id", "buckets": 4, "keep": [4]}]}"""
    val band = Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(bandJson))
    val banded = graft.operators.Banding.ntileByStratum(scored, "lang",
      Seq("_s", "doc_id"), 4)
    val wantIds = banded.where($"band" === 4).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(band.select("doc_id").collect().map(_.getLong(0)).toSet === wantIds)
    assert(band.columns.toSeq === docs.columns.toSeq)
  }

  test("decontaminate config step drops exactly the gram-overlap ids") {
    val json = s"""{"in": {"path": "$sf/documents.parquet"},
      "filters": [
        {"type": "where", "predicate": "doc_id >= 50"},
        {"type": "decontaminate", "column": "text", "id": "doc_id",
         "eval": {"path": "$sf/documents.parquet", "where": "doc_id < 50"}}]}"""
    val kept = Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(json))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.where($"doc_id" >= 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the registered decontaminate query lists contaminated train ids
    val dirty = Queries.decontaminate(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === train -- dirty)
    assert(dirty.nonEmpty) // the synthetic corpus plants overlaps
  }

  /** Run a decontaminate step over a hand-built corpus and eval slice;
    * returns the kept ids (a null id reads as -1).
    */
  private def decontaminated(corpus: Seq[(java.lang.Long, String)],
      eval: Seq[String], n: Int = 8): Set[Long] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_decon_").toString
    corpus.toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    eval.toDF("text").write.parquet(s"$dir/eval")
    val json = s"""{"in": {"path": "$dir/corpus"},
      "filters": [{"type": "decontaminate", "column": "text",
        "eval": {"path": "$dir/eval"}, "ngram": $n}]}"""
    Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(json))
      .select(coalesce($"doc_id", lit(-1L))).collect().map(_.getLong(0)).toSet
  }

  private val evalDoc = "one two three four five six seven eight nine"

  test("decontaminate keeps a corpus row with null text") {
    assert(decontaminated(Seq((1L, null), (2L, s"x $evalDoc")),
      Seq(evalDoc)) === Set(1L))
  }

  test("decontaminate with an empty eval slice drops nothing") {
    val corpus: Seq[(java.lang.Long, String)] =
      Seq((1L, evalDoc), (2L, null), (3L, ""), (null, "a b"))
    assert(decontaminated(corpus, Nil) === Set(1L, 2L, 3L, -1L))
  }

  test("decontaminate matches an eval document shorter than n words " +
      "as one whole-string gram") {
    // "Alpha, beta GAMMA!" normalizes to the eval doc's one gram; a longer
    // row holding the same words has only 8-grams and survives
    val corpus: Seq[(java.lang.Long, String)] = Seq(
      (1L, "Alpha, beta GAMMA!"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma a b c d e f"))
    assert(decontaminated(corpus, Seq("alpha beta gamma")) === Set(2L, 3L))
  }

  test("decontaminate drops a contaminated row whose id is null") {
    // row-level: the row's own text decides, the id plays no part
    val corpus: Seq[(java.lang.Long, String)] =
      Seq((null, s"prefix $evalDoc"), (2L, "unrelated text here"))
    assert(decontaminated(corpus, Seq(evalDoc)) === Set(2L))
  }

  test("partitioned config writes bucket directories and reports tasks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_").toString
    val cfg = Pipeline.Config(
      inputPath = s"$sf/orders.parquet",
      partitioning = Some(Pipeline.Partitioning("o_orderdate", "day")),
      reducers = Some(4))
    val listeners = org.apache.spark.sql.graftbridge.ListenerCount(
      spark.sparkContext)
    val reports = (1 to 3).map(i => Pipeline.run(spark, cfg, s"$dir/out$i"))
    // each run detaches its report: no listener outlives the call
    assert(org.apache.spark.sql.graftbridge.ListenerCount(spark.sparkContext)
      === listeners)
    val out = s"$dir/out1"
    val dirs = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(dirs.nonEmpty)
    assert(spark.read.parquet(out).count() ===
      spark.read.parquet(s"$sf/orders.parquet").count())
    // the returned reports are complete: the run drained the bus
    reports.foreach { report =>
      assert(report.taskRows.nonEmpty)
      assert(report.failedTasks === 0)
    }
  }

  test("long-column partitioning config uses unix_timestamp_unit") {
    val df = Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("t_us"))
    val bucket = Pipeline.bucketExpr(df,
      Pipeline.Partitioning("t_us", "hour", Some("micro")))
    val n = df.select(bucket.as("b")).distinct().count()
    assert(n > 0 && n < df.count())
  }

  test("localModeMaxTasks coalesces tiny inputs (local_mode_input_tasks)") {
    val cfg = Pipeline.Config(inputPath = s"$sf/orders.parquet",
      localModeMaxTasks = Some(1))
    assert(Pipeline.plan(spark, cfg).rdd.getNumPartitions === 1)
  }

  test("stop_on_invalid_record flows from the JSON config through the plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_soir_").toString
    Seq(("1", 1L), ("xx", 2L), ("3", 3L)).toDF("raw", "i")
      .write.mode("overwrite").parquet(dir)
    def json(stop: Boolean) = s"""{
      "in": {"path": "$dir"},
      "filters": [{"type": "cast", "col": "raw", "to": "long"}],
      "stop_on_invalid_record": $stop}"""
    // failfast: 'xx' fails the long cast and aborts the run (reference
    // embulk_mapred_stop_on_invalid_record_config.yml semantics)
    val e = intercept[graft.operators.ErrorPolicy.InvalidRecordException] {
      Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(json(true)))
    }
    assert(e.count === 1)
    // default: the failed cast becomes null, rows survive
    val relaxed = Pipeline.plan(spark, graft.pipeline.ConfigJson.parse(json(false)))
    assert(relaxed.count() === 3)
    assert(relaxed.where($"raw".isNull).count() === 1)
  }

  test("map_side_partition_split salts the partitioned write through run()") {
    val dir = java.nio.file.Files.createTempDirectory("graft_split_").toString
    def run(split: Int): org.apache.spark.sql.DataFrame = {
      val out = s"$dir/out_$split"
      val json = s"""{
        "in": {"path": "$sf/events.parquet"},
        "partitioning": {"column": "ts", "unit": "hour",
                         "map_side_partition_split": $split},
        "reducers": 4}"""
      Pipeline.run(spark, graft.pipeline.ConfigJson.parse(json), out)
      spark.read.parquet(out)
    }
    val salted = run(2)
    val plain = run(1)
    // the salt widens reducer parallelism only: layout and content equal
    assert(salted.count() === plain.count())
    assert(salted.select("bucket").distinct().count() ===
      plain.select("bucket").distinct().count())
    assert(salted.select($"event_id").except(plain.select($"event_id")).count() === 0)
  }

  test("partitioning type dispatch: column_hash buckets, unknown rejected") {
    val out = java.nio.file.Files.createTempDirectory("graft_chash_").toString
    val json = s"""{
      "in": {"path": "$sf/orders.parquet"},
      "partitioning": {"type": "column_hash", "column": "o_custkey",
                       "buckets": 8}}"""
    Pipeline.run(spark, graft.pipeline.ConfigJson.parse(json), out)
    val buckets = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toLong)
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 8))
    assert(spark.read.parquet(out).count() ===
      spark.read.parquet(s"$sf/orders.parquet").count())
    val bad = intercept[IllegalArgumentException] {
      Pipeline.bucketExpr(Tables.orders(spark, sf),
        Pipeline.Partitioning("o_custkey", ptype = "zorder"))
    }
    assert(bad.getMessage.contains(
      "Supported types are timestamp, column_hash and composite"))
  }

  test("config out section writes csv through run() (in -> filters -> out)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfgout_").toString
    val json = s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [{"type": "select", "cols": ["o_orderkey", "o_orderstatus"]}],
      "out": {"format": "csv", "options": {"header": "true"}}}"""
    Pipeline.run(spark, graft.pipeline.ConfigJson.parse(json), out)
    val back = spark.read.option("header", "true")
      .schema("o_orderkey LONG, o_orderstatus STRING").csv(out)
    assert(back.count() === spark.read.parquet(s"$sf/orders.parquet").count())
    assert(back.columns.toSeq === Seq("o_orderkey", "o_orderstatus"))
  }

  test("ErrorPolicy: Drop filters, Permissive marks, Fail throws") {
    val df = Seq(("1", 1), ("x", 2), ("3", 3)).toDF("raw", "i")
    val parsed = Seq("v" -> $"raw".cast("long"))
    val valid = $"raw".cast("long").isNotNull
    assert(ErrorPolicy(df, parsed, valid, ErrorPolicy.Drop).count() === 2)
    val perm = ErrorPolicy(df, parsed, valid, ErrorPolicy.Permissive)
    assert(perm.count() === 3)
    assert(perm.where($"_corrupt").count() === 1)
    val e = intercept[ErrorPolicy.InvalidRecordException](
      ErrorPolicy(df, parsed, valid, ErrorPolicy.Fail).count())
    assert(e.count === 1)
  }

  test("curation filters parse from JSON and compose in the plan") {
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/documents.parquet"},
      "filters": [
        {"type": "nfc_clean", "column": "text"},
        {"type": "dedup", "id": "doc_id", "column": "text"},
        {"type": "lang_filter", "column": "text", "keep": ["en"]},
        {"type": "quality_filter", "column": "text", "min_score": 0.8},
        {"type": "pii_redact", "column": "text"}
      ]
    }""")
    assert(cfg.transforms(0) === Pipeline.NfcCleanCol("text"))
    assert(cfg.transforms(2) === Pipeline.LangFilter("text", Seq("en")))
    assert(cfg.transforms(3) === Pipeline.QualityFilter("text", 0.8))
    assert(cfg.transforms(4) === Pipeline.RedactPii("text"))
    val out = Pipeline.plan(spark, cfg)
    val n = out.count()
    assert(n > 0) // survivors exist: en docs above the quality bar
    // every survivor is predicted en and clears the bar (filters applied)
    import graft.operators.TextAnalysis
    assert(out.where(TextAnalysis.langId($"text") =!= "en").count() === 0)
    assert(out.where(TextAnalysis.qualityScore($"text") < 0.8).count() === 0)
  }

  test("ConfigJson names a missing required key or a mistyped key") {
    import graft.pipeline.ConfigJson
    def rejects(body: String, message: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ConfigJson.parse(s"""{"in": {"path": "x"}, $body}""")
      }
      assert(e.getMessage === s"config: $message", body)
    }
    def step(f: String) = s""""filters": [$f]"""
    rejects(step("""{"type": "where"}"""), "where.predicate is required")
    rejects(step("""{"type": "rename", "from": "a"}"""), "rename.to is required")
    rejects(step("""{"type": "dedup", "column": "t"}"""), "dedup.id is required")
    rejects(step("""{"type": "dq_check", "rules": [{"rule": "not_null"}]}"""),
      "dq_check.rules.column is required")
    rejects(step("""{"type": "quality_filter", "column": "t"}"""),
      "quality_filter.min_score is required")
    rejects(step("""{"column": "t"}"""), "filters.type is required")
    // present with the wrong JSON type: fails, never reads as the default
    rejects(""""stop_on_invalid_record": "true"""",
      "stop_on_invalid_record must be a boolean")
    rejects(step("""{"type": "dq_check", "fail": "true", "rules": []}"""),
      "dq_check.fail must be a boolean")
    rejects(""""partitioning": {"column": "ts", "map_side_partition_split": "4"}""",
      "partitioning.map_side_partition_split must be an integer")
    rejects(""""reducers": "8"""", "reducers must be an integer")
    rejects(step("""{"type": "quality_filter", "column": "t", "min_score": "0.5"}"""),
      "quality_filter.min_score must be a number")
    rejects(step("""{"type": "lang_filter", "column": "t", "keep": ["en", 1]}"""),
      "lang_filter.keep must hold only strings")
    rejects(""""out": {"options": {"header": true}}""",
      "out.options.header must be a string")
    // the well-typed spellings still parse to their values
    val ok = ConfigJson.parse("""{"in": {"path": "x"}, "reducers": 8,
      "stop_on_invalid_record": true,
      "partitioning": {"column": "ts", "map_side_partition_split": 4},
      "filters": [{"type": "dq_check", "fail": true, "rules": []},
                  {"type": "quality_filter", "column": "t", "min_score": 1}]}""")
    assert(ok.reducers === Some(8) && ok.stopOnInvalidRecord)
    assert(ok.partitioning.get.mapSidePartitionSplit === 4)
    assert(ok.transforms === Seq(Pipeline.DqCheck(Nil, failOnViolation = true),
      Pipeline.QualityFilter("t", 1.0)))
  }

  test("ConfigJson rejects a filter key the step does not read") {
    import graft.pipeline.ConfigJson
    def rejects(f: String, message: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ConfigJson.parse(s"""{"in": {"path": "x"}, "filters": [$f]}""")
      }
      assert(e.getMessage === s"config: $message", f)
    }
    // a misspelt optional key fails instead of taking the default
    rejects("""{"type": "decontaminate", "column": "t", "ngrams": 4,
      "eval": {"path": "e"}}""", "unknown decontaminate key(s): ngrams")
    rejects("""{"type": "dedup", "id": "i", "column": "t", "normalised": true}""",
      "unknown dedup key(s): normalised")
    rejects("""{"type": "decontaminate", "column": "t",
      "eval": {"path": "e", "fromat": "csv"}}""",
      "unknown decontaminate.eval key(s): fromat")
    rejects("""{"type": "dq_check", "rules": [{"rule": "min", "column": "c",
      "vaule": "1"}]}""", "unknown dq_check.rules key(s): vaule")
    // a key another step reads is still unknown to this one
    rejects("""{"type": "where", "predicate": "true", "column": "t"}""",
      "unknown where key(s): column")
    // decontaminate still accepts the `id` older configs pass, and ignores it
    val ok = ConfigJson.parse("""{"in": {"path": "x"}, "filters": [
      {"type": "decontaminate", "column": "t", "id": "doc_id",
       "eval": {"path": "e"}, "ngram": 4}]}""")
    assert(ok.transforms === Seq(Pipeline.Decontaminate(textCol = "t",
      evalPath = "e", evalFormat = "parquet", evalWhere = None, n = 4)))
  }

  test("ConfigJson checks each dq_check rule at parse, naming the key") {
    import graft.pipeline.ConfigJson
    def rejects(rule: String, message: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ConfigJson.parse(s"""{"in": {"path": "x"}, "filters": [
          {"type": "dq_check", "fail": false, "rules": [$rule]}]}""")
      }
      assert(e.getMessage === s"config: $message", rule)
    }
    rejects("""{"rule": "not-null", "column": "c"}""",
      "dq_check.rules.rule must be one of not_null, unique, min, max, fk, " +
        "got 'not-null'")
    rejects("""{"rule": "min", "column": "c"}""",
      "dq_check.rules.value is required for min")
    rejects("""{"rule": "max", "column": "c", "value": "ten"}""",
      "dq_check.rules.value must be a number for max, got 'ten'")
    rejects("""{"rule": "fk", "column": "c", "ref_column": "k"}""",
      "dq_check.rules.ref_path is required for fk")
    rejects("""{"rule": "fk", "column": "c", "ref_path": "p"}""",
      "dq_check.rules.ref_column is required for fk")
    val ok = ConfigJson.parse("""{"in": {"path": "x"}, "filters": [
      {"type": "dq_check", "rules": [{"rule": "not_null", "column": "a"},
        {"rule": "unique", "column": "a"},
        {"rule": "min", "column": "b", "value": "-1.5"},
        {"rule": "max", "column": "b", "value": "1e3"},
        {"rule": "fk", "column": "a", "ref_path": "p", "ref_column": "k"}]}]}""")
    assert(ok.transforms === Seq(Pipeline.DqCheck(Seq(
      Pipeline.DqRule("not_null", "a"), Pipeline.DqRule("unique", "a"),
      Pipeline.DqRule("min", "b", value = Some("-1.5")),
      Pipeline.DqRule("max", "b", value = Some("1e3")),
      Pipeline.DqRule("fk", "a", refPath = Some("p"), refColumn = Some("k"))))))
  }

  /** The Spark jobs started while `Pipeline.plan` plans `cfg`. */
  private def planJobs(cfg: Pipeline.Config): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.BusDrain
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.plan(spark, cfg)
      BusDrain(sc)
    } finally sc.removeSparkListener(listener)
    started.get
  }

  test("a non-failing dq_check starts no job at plan time and names a " +
      "missing column") {
    def config(dq: String) = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [{"type": "where", "predicate": "o_totalprice > 0"}$dq]}""")
    // every rule kind, the fk reference included: none of them is counted
    val dq = s""", {"type": "dq_check", "fail": false, "rules": [
      {"rule": "not_null", "column": "o_custkey"},
      {"rule": "unique", "column": "o_orderkey"},
      {"rule": "min", "column": "o_totalprice", "value": "0"},
      {"rule": "max", "column": "o_totalprice", "value": "1e9"},
      {"rule": "fk", "column": "o_custkey",
       "ref_path": "$sf/customer.parquet", "ref_column": "c_custkey"}]}"""
    assert(planJobs(config("")) === 0)
    assert(planJobs(config(dq)) === 0)
    val e = intercept[IllegalArgumentException](Pipeline.plan(spark, config(
      """, {"type": "dq_check", "rules": [
        {"rule": "not_null", "column": "o_custkey"},
        {"rule": "unique", "column": "o_nokey"}]}""")))
    assert(e.getMessage.startsWith("dq_check: no column o_nokey in the input"),
      e.getMessage)
  }

  test("planning reads no parquet schema with a job: the load config " +
      "starts none, the curation config only its eval collect") {
    import graft.pipeline.ConfigJson
    // Spark-written multi-file inputs, as a bulk load meets them
    val dir = java.nio.file.Files.createTempDirectory("graft_planjobs_")
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.parquet(s"$dir/events")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.repartition(3).write.parquet(s"$dir/documents")
    docs.orderBy("doc_id").limit(5).write.parquet(s"$dir/eval")
    val load = ConfigJson.parse(s"""{
      "in": {"path": "$dir/events", "format": "parquet"},
      "filters": [
        {"type": "where", "predicate": "event_type <> 'error'"},
        {"type": "derive", "name": "k",
         "expression": "get_json_object(props, '$$.k')"},
        {"type": "cast", "col": "k", "to": "int"},
        {"type": "rename", "from": "value", "to": "amount"}],
      "partitioning": {"type": "timestamp", "column": "ts", "unit": "day",
        "map_side_partition_split": 4},
      "out": {"format": "parquet"}}""")
    val curate = ConfigJson.parse(s"""{
      "in": {"path": "$dir/documents", "format": "parquet"},
      "filters": [
        {"type": "nfc_clean", "column": "text"},
        {"type": "dq_check", "fail": false, "rules": [
          {"rule": "not_null", "column": "doc_id"},
          {"rule": "min", "column": "n_chars", "value": "1"}]},
        {"type": "dedup", "id": "doc_id", "column": "text",
         "normalized": true},
        {"type": "lang_filter", "column": "text", "keep": ["en", "de"]},
        {"type": "quality_filter", "column": "text", "min_score": 0.6},
        {"type": "pii_redact", "column": "text"},
        {"type": "decontaminate", "column": "text", "id": "doc_id",
         "eval": {"path": "$dir/eval"}, "ngram": 8},
        {"type": "source_quota", "key": "source", "column": "text",
         "id": "doc_id", "k": 5}],
      "out": {"format": "parquet"}}""")
    // no warm-up: a first plan must not need a schema job either
    assert(planJobs(load) === 0)
    assert(planJobs(curate) === 1)
  }

  test("ConfigJson rejects unknown keys at the root and in `in` and `out`") {
    import graft.pipeline.ConfigJson
    def rejects(json: String, message: String): Unit = {
      val e = intercept[IllegalArgumentException](ConfigJson.parse(json))
      assert(e.getMessage === s"config: $message", json)
    }
    // a misspelt `reducers` would otherwise quietly pick the other write
    rejects("""{"in": {"path": "x"}, "reducer": 8}""",
      "unknown root key(s): reducer")
    rejects("""{"in": {"path": "x"}, "filter": [], "jobname": "j"}""",
      "unknown root key(s): filter, jobname")
    rejects("""{"in": {"path": "x", "fromat": "csv"}}""",
      "unknown in key(s): fromat")
    rejects("""{"in": {"path": "x"}, "out": {"format": "csv", "option": {}}}""",
      "unknown out key(s): option")
    // every root, `in` and `out` key the parser reads still parses
    val ok = ConfigJson.parse("""{"in": {"path": "x", "format": "csv"},
      "filters": [], "reducers": 2, "local_mode_input_tasks": 1,
      "stop_on_invalid_record": false, "job_name": "j", "config_files": [],
      "config": {"k": "v"}, "partitioning": {"column": "ts"},
      "out": {"format": "json", "options": {"compression": "none"}}}""")
    assert(ok.format === "csv" && ok.reducers === Some(2) &&
      ok.out === Pipeline.Out("json", Map("compression" -> "none")))
  }

  test("ConfigJson requires counts of at least 1, naming the key") {
    import graft.pipeline.ConfigJson
    def rejects(body: String, message: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ConfigJson.parse(s"""{"in": {"path": "x"}, $body}""")
      }
      assert(e.getMessage === s"config: $message", body)
    }
    rejects(""""reducers": 0""", "reducers must be an integer >= 1, got 0")
    rejects(""""partitioning": {"column": "ts", "map_side_partition_split": 0}""",
      "partitioning.map_side_partition_split must be an integer >= 1, got 0")
    rejects(""""partitioning": {"type": "column_hash", "column": "c", "buckets": -2}""",
      "partitioning.buckets must be an integer >= 1, got -2")
    val one = ConfigJson.parse("""{"in": {"path": "x"}, "reducers": 1,
      "partitioning": {"column": "ts", "map_side_partition_split": 1, "buckets": 1}}""")
    assert(one.reducers === Some(1) &&
      one.partitioning.get.mapSidePartitionSplit === 1 &&
      one.partitioning.get.hashBuckets === 1)
  }

  test("config_files names the file and key of a non-string value") {
    val f = java.nio.file.Files.createTempFile("graft_cfg_", ".json")
    try {
      java.nio.file.Files.writeString(f,
        """{"spark.sql.shuffle.partitions": 8, "k": "v"}""")
      val e = intercept[IllegalArgumentException] {
        graft.pipeline.ConfigJson.parse(
          s"""{"in": {"path": "x"}, "config_files": ["$f"]}""")
      }
      assert(e.getMessage === s"config: config_files[$f]" +
        ".spark.sql.shuffle.partitions must be a string")
    } finally java.nio.file.Files.delete(f)
  }

  test("pseudonymize config step keeps tables joinable across runs") {
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [
        {"type": "pseudonymize", "column": "o_custkey", "salt": "s1"}
      ]
    }""")
    assert(cfg.transforms.head ===
      Pipeline.PseudonymizeCol("o_custkey", "s1"))
    val ordersP = Pipeline.plan(spark, cfg)
    val custP = Tables.customer(spark, sf)
      .withColumn("c_custkey",
        graft.operators.Privacy.pseudonym($"c_custkey", "s1"))
    // every pseudonymized order still finds its customer, none leak raw
    val joined = ordersP.join(custP,
      ordersP("o_custkey") === custP("c_custkey"))
    assert(joined.count() === Tables.orders(spark, sf).count())
    assert(ordersP.schema("o_custkey").dataType.typeName === "string")
  }

  test("task report aggregates per-stage records (AttemptState surface)") {
    val report = TaskReport.attach(spark)
    Tables.lineitem(spark, sf).groupBy($"l_returnflag").count().collect()
    report.detach(spark)
    val stages = report.stageReport(spark).collect()
    assert(stages.nonEmpty)
    assert(stages.map(_.getAs[Long]("records_read")).sum > 0)
  }

  test("withRetry surfaces the attempt number, bounds attempts, rethrows " +
      "when exhausted (retry_tasks surface)") {
    // succeeds on the second attempt: body sees 0 then 1
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (v, attempts) = TaskReport.withRetry(3) { a =>
      seen += a
      if (a == 0) throw new RuntimeException("transient")
      "ok"
    }
    assert(v === "ok" && attempts === 2 && seen.toSeq === Seq(0, 1))
    // exhausted: the final failure propagates after exactly maxAttempts
    val tries = scala.collection.mutable.ArrayBuffer.empty[Int]
    val e = intercept[RuntimeException] {
      TaskReport.withRetry(2) { a => tries += a; throw new RuntimeException(s"boom$a") }
    }
    assert(e.getMessage === "boom1" && tries.toSeq === Seq(0, 1))
    // fatal errors are not retried
    val fatalTries = scala.collection.mutable.ArrayBuffer.empty[Int]
    intercept[OutOfMemoryError] {
      TaskReport.withRetry(3) { a => fatalTries += a; throw new OutOfMemoryError("x") }
    }
    assert(fatalTries.toSeq === Seq(0))
  }
}
