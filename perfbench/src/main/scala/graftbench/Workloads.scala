package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.pipeline.{ConfigJson, Pipeline}
import graft.sources.Sources

/** Input sizes. `full` is what the benchmark times; `tiny` is the
  * smoke-test size.
  */
final case class Sizes(name: String, events: Long, corpus: Long,
    families: Long, files: Int)

object Sizes {
  val full = Sizes("full", events = 400000L, corpus = 24000L, families = 4000L,
    files = 8)
  val tiny = Sizes("tiny", events = 20000L, corpus = 1000L, families = 600L,
    files = 2)
}

/** Runs a block inside a span when tracing, or bare when not. */
final class Probe(val tracer: Option[Tracer]) {
  def apply[T](name: String)(body: => T): T =
    tracer.fold(body)(_.apply(name)(body))
}

/** One workload: its seeded input, the job a user runs on it, and the
  * checks that the job's committed output is right. `in` is the directory
  * one input was generated into.
  */
abstract class Workload(val name: String, val rationale: String) {
  /** The table the job reads, under `in`. */
  def dataDir(in: Path): Path = in.resolve(table)
  protected def table: String

  /** Build the input under `in` unless it is there for (seed, sizes) and
    * return the properties that drive the job, `rows` (the exact input row
    * count) among them.
    */
  def prepare(spark: SparkSession, in: Path, seed: Long,
      sizes: Sizes): Map[String, Any]

  /** The timed job: from the public entry point to committed output. */
  def job(spark: SparkSession, in: Path, out: Path, p: Probe): Unit

  /** Problems with one job's output; empty when it is correct. Runs
    * outside the timing.
    */
  def check(spark: SparkSession, in: Path, out: Path): Seq[String]

  /** Traced-run probes into single layers; each opens its own span. */
  def probes(spark: SparkSession, in: Path, t: Tracer): Unit

  /** A traced-run clustering of this workload's documents, for the
    * operators layer on a workload whose job does not cluster.
    */
  def operatorProbe(spark: SparkSession, in: Path, p: Probe): Unit = ()

  /** The config `Pipeline.plan` is timed on, for the config workloads. */
  def config(in: Path): Option[String] = None

  /** Order-independent digest of a committed output: row count and the
    * wrap-free sum of one 64-bit hash per row.
    */
  def digest(spark: SparkSession, out: Path): String = {
    val df = spark.read.parquet(out.toString)
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0)))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  protected def docs(spark: SparkSession, in: Path): DataFrame =
    Sources.parquet(spark, dataDir(in).toString)

  protected def scanProbes(spark: SparkSession, in: Path, t: Tracer): Unit = {
    t("sources.scan")(noop(docs(spark, in)))
    // the base the text kernels' self times are taken against
    if (docs(spark, in).columns.contains("text"))
      t("sources.scan_text")(noop(docs(spark, in).select(col("text"))))
  }

  protected def noop(df: DataFrame): Unit = Workloads.noop(df)

  /** What an input was built from: the generator version, the workload,
    * the seed and every property that shapes the files.
    */
  protected def stamp(seed: Long, props: Map[String, Any]): String =
    (s"v${Gen.Version} $name seed=$seed" +: props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }).mkString(" ")
}

object Workloads {
  val all: Seq[Workload] = Seq(LoadPartitioned, CurateCorpus, NearDupClusters)
  def of(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  private def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), "\\s+", " "))

  /** Word n-grams of the normalized text, written independently of the
    * library's shingle kernel: the check must not trust the code it checks.
    */
  def grams(text: Column, n: Int): Column = {
    val ws = split(normalize(text), " ")
    when(size(ws) >= n, transform(sequence(lit(1), size(ws) - n + 1),
      i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Force a frame through every operator without writing it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** md5 of the normalized text: lowercase, non-alphanumerics to spaces,
    * whitespace collapsed and trimmed.
    */
  def normalizedFingerprint(text: Column): Column = md5(normalize(text))
}

/** Partitioned load: filters then a timestamp/day partitioned parquet write
  * with hot-bucket salting, through `ConfigJson.parse` and `Pipeline.run`.
  */
object LoadPartitioned extends Workload("load_partitioned",
  "one wide repartition of full rows into a day-partitioned write with a hot day; " +
    "sinks and the shuffle dominate while functions sit idle") {

  protected val table = "events"
  val HotShare = 0.25
  val Split = 4

  override def config(in: Path): Option[String] = Some(
    s"""{"in": {"path": "${dataDir(in)}", "format": "parquet"},
       | "filters": [
       |  {"type": "where", "predicate": "event_type <> 'error'"},
       |  {"type": "derive", "name": "k", "expression": "get_json_object(props, '$$.k')"},
       |  {"type": "cast", "col": "k", "to": "int"},
       |  {"type": "rename", "from": "value", "to": "amount"}],
       | "partitioning": {"type": "timestamp", "column": "ts", "unit": "day",
       |  "map_side_partition_split": $Split},
       | "out": {"format": "parquet"}}""".stripMargin)

  def prepare(spark: SparkSession, in: Path, seed: Long,
      s: Sizes): Map[String, Any] = {
    val props = Map("rows" -> s.events, "hot_day" -> (Gen.hotDay(seed) + 1),
      "hot_share" -> HotShare, "days" -> Gen.Days, "unit" -> "day",
      "map_side_partition_split" -> Split, "input_files" -> s.files)
    Gen.ensure(in, stamp(seed, props)) { dir =>
      Gen.events(spark, dir, seed, s.events, HotShare, s.files)
    }
    props
  }

  def job(spark: SparkSession, in: Path, out: Path, p: Probe): Unit = {
    val cfg = p("pipeline.parse")(ConfigJson.parse(config(in).get))
    p("pipeline.run")(Pipeline.run(spark, cfg, out.toString))
    ()
  }

  def check(spark: SparkSession, in: Path, out: Path): Seq[String] = {
    val want = spark.read.parquet(dataDir(in).toString)
      .where(col("event_type") =!= "error").count()
    val day = floor(unix_micros(col("ts")) / lit(Gen.DayMicros))
    val r = spark.read.parquet(out.toString).agg(count(lit(1)),
      coalesce(sum(when(col("bucket") =!= day, 1L).otherwise(0L)), lit(0L)))
      .head()
    Seq(
      Option.when(r.getLong(0) != want)(
        s"rows out ${r.getLong(0)} != rows in after the where $want"),
      Option.when(r.getLong(1) != 0)(
        s"${r.getLong(1)} rows sit under a bucket other than their day")
    ).flatten
  }

  def probes(spark: SparkSession, in: Path, t: Tracer): Unit =
    scanProbes(spark, in, t)
}

/** LLM curation config, map-only: nfc_clean, dq_check, normalized dedup,
  * lang and quality filters, PII redaction, decontamination against an
  * eval slice and a per-source quota.
  */
object CurateCorpus extends Workload("curate_corpus",
  "map-only curation: per-row text kernels plus eager plan-time side jobs and " +
    "a top-k per source; the shuffle carries only hashes") {

  protected val table = "documents"
  def evalDir(in: Path): Path = in.resolve("eval")

  val Verbatim = 0.20
  val NearCopies = 0.10
  val CaseCopies = 0.10
  val EvalShare = 0.005
  /** Rows kept per source: binds on the full corpus, not on the tiny one. */
  val Quota = 150

  override def config(in: Path): Option[String] = Some(
    s"""{"in": {"path": "${dataDir(in)}", "format": "parquet"},
       | "filters": [
       |  {"type": "nfc_clean", "column": "text"},
       |  {"type": "dq_check", "fail": false, "rules": [
       |    {"rule": "not_null", "column": "doc_id"},
       |    {"rule": "unique", "column": "doc_id"},
       |    {"rule": "min", "column": "n_chars", "value": "1"}]},
       |  {"type": "dedup", "id": "doc_id", "column": "text", "normalized": true},
       |  {"type": "lang_filter", "column": "text", "keep": ["en", "de"]},
       |  {"type": "quality_filter", "column": "text", "min_score": 0.6},
       |  {"type": "pii_redact", "column": "text"},
       |  {"type": "decontaminate", "column": "text", "id": "doc_id",
       |   "eval": {"path": "${evalDir(in)}"}, "ngram": 8},
       |  {"type": "source_quota", "key": "source", "column": "text", "id": "doc_id",
       |   "k": $Quota}],
       | "out": {"format": "parquet"}}""".stripMargin)

  def prepare(spark: SparkSession, in: Path, seed: Long,
      s: Sizes): Map[String, Any] = {
    val props = Map("rows" -> s.corpus, "verbatim_share" -> Verbatim,
      "near_copy_share" -> NearCopies, "punctuation_copy_share" -> CaseCopies,
      "eval_share" -> EvalShare, "source_quota" -> Quota,
      "sources" -> Gen.Sources, "input_files" -> s.files)
    Gen.ensure(in, stamp(seed, props)) { dir =>
      Gen.corpus(spark, dir, seed, s.corpus, Verbatim, NearCopies, CaseCopies,
        EvalShare, s.files)
    }
    props
  }

  def job(spark: SparkSession, in: Path, out: Path, p: Probe): Unit = {
    val cfg = p("pipeline.parse")(ConfigJson.parse(config(in).get))
    p("pipeline.run")(Pipeline.run(spark, cfg, out.toString))
    ()
  }

  def check(spark: SparkSession, in: Path, out: Path): Seq[String] = {
    val res = spark.read.parquet(out.toString)
    val input = docs(spark, in)
    val n = res.count()
    val foreign = res.select("doc_id").join(input.select("doc_id"), Seq("doc_id"),
      "left_anti").count()
    val fps = res.select("doc_id").join(input.select("doc_id", "text"), "doc_id")
      .select(Workloads.normalizedFingerprint(col("text")).as("fp"))
      .distinct().count()
    val evalGrams = spark.read.parquet(evalDir(in).toString)
      .select(explode(Workloads.grams(col("text"), 8)).as("g")).distinct()
    val shared = res.select(explode(Workloads.grams(col("text"), 8)).as("g"))
      .join(evalGrams, "g").count()
    Seq(
      Option.when(n == 0)("the curated output is empty"),
      Option.when(foreign != 0)(s"$foreign output ids are not input ids"),
      Option.when(fps != n)(s"${n - fps} output rows repeat a normalized fingerprint"),
      Option.when(shared != 0)(s"$shared output 8-grams occur in the eval slice")
    ).flatten
  }

  /** Kernels the config runs per row, each forced alone over the text. */
  val kernels: Seq[(String, Column => Column)] = Seq(
    "functions.nfc_clean" -> (c => graft.functions.NormalizeFunctions.nfcClean(c)),
    "functions.lang_id" -> (c => TextAnalysis.langId(c)),
    "functions.quality_score" -> (c => TextAnalysis.qualityScore(c)),
    "functions.redact_pii" -> (c => TextAnalysis.redactPii(c)),
    "functions.fingerprint" -> (c => TextAnalysis.fingerprint(c)))

  def probes(spark: SparkSession, in: Path, t: Tracer): Unit = {
    scanProbes(spark, in, t)
    kernels.foreach { case (span, f) =>
      t(span)(noop(docs(spark, in).select(f(col("text")).as("v"))))
    }
    t("plans.topk") {
      val scored = docs(spark, in)
        .withColumn("_s", TextAnalysis.qualityScore(col("text")))
      noop(graft.plans.TopKPerKey.topK(scored, Seq("source"),
        Seq("_s" -> "desc", "doc_id" -> "asc"), Quota))
    }
    NearDupClusters.minhashProbe(docs(spark, in), t)
  }

  override def operatorProbe(spark: SparkSession, in: Path, p: Probe): Unit =
    NearDupClusters.cluster(docs(spark, in), p)(Workloads.noop)
}

/** Near-duplicate clustering: MinHash edges at Jaccard 0.5, then
  * `Dedup.clusters` forced onto its distributed min-label loop, written as
  * (id, root) parquet.
  */
object NearDupClusters extends Workload("near_dup_clusters",
  "many small iterative shuffle rounds with checkpoints and a dispatch probe; " +
    "operators and session carry the load while pipeline and sinks idle") {

  protected val table = "documents"
  val Family = 3
  val Verbatim = 0.20
  val Threshold = 0.5

  def prepare(spark: SparkSession, in: Path, seed: Long,
      s: Sizes): Map[String, Any] = {
    val props = Map("rows" -> s.families, "family_size" -> Family,
      "verbatim_share" -> Verbatim, "threshold" -> Threshold,
      "input_files" -> s.files)
    Gen.ensure(in, stamp(seed, props)) { dir =>
      Gen.families(spark, dir, seed, s.families, Family, Verbatim, s.files)
    }
    props
  }

  /** Edges of the last job and their count, the exact figure the traced
    * run reports; the check clusters the same edges on the driver path.
    */
  @volatile var lastEdges = 0L
  @volatile private var lastEdgeFrame: Option[DataFrame] = None

  /** MinHash edges of `docs`, materialized, then `Dedup.clusters` with a
    * driver limit below the edge count, which forces the distributed loop;
    * `sink` consumes the (id, root) frame inside the clusters span.
    */
  def cluster(docs: DataFrame, p: Probe)(sink: DataFrame => Unit): Unit = {
    val e = p("operators.minhash_edges") {
      val e = Dedup.minhashEdges(docs, col("doc_id"), col("text"), Threshold)
        .localCheckpoint()
      lastEdges = e.count()
      e
    }
    lastEdgeFrame = Some(e)
    p("operators.clusters") {
      sink(Dedup.clusters(docs.select(col("doc_id").as("id")), e,
        driverEdgeLimit = math.max(1L, lastEdges / 2)))
    }
  }

  def job(spark: SparkSession, in: Path, out: Path, p: Probe): Unit =
    cluster(docs(spark, in), p)(_.write.mode("overwrite").parquet(out.toString))

  /** The MinHash kernel alone over 3-word shingles, k = 64. */
  def minhashProbe(docs: DataFrame, t: Tracer): Unit =
    t("functions.minhash_slots") {
      Workloads.noop(docs.select(graft.functions.MinhashFunctions
        .minhashSlots(Dedup.shingles(col("text"), 3), 64).as("v")))
    }

  def check(spark: SparkSession, in: Path, out: Path): Seq[String] = {
    val ids = docs(spark, in).select(col("doc_id").as("id"))
    val want = Dedup.clusters(ids, lastEdgeFrame.get)
      .select(col("id"), col("root").as("want"))
    val got = spark.read.parquet(out.toString)
    val n = got.count()
    val r = got.join(want, Seq("id"), "full_outer")
      .agg(count(lit(1)), coalesce(sum(when(
        col("root").isNull || col("want").isNull || col("root") =!= col("want"),
        1L).otherwise(0L)), lit(0L))).head()
    val clusters = got.where(col("id") =!= col("root")).select("root")
      .distinct().count()
    Seq(
      Option.when(n != r.getLong(0))(s"$n output rows but ${r.getLong(0)} ids"),
      Option.when(r.getLong(1) != 0)(
        s"${r.getLong(1)} roots differ from the driver union-find path"),
      Option.when(clusters == 0)("no multi-member cluster was found")
    ).flatten
  }

  def probes(spark: SparkSession, in: Path, t: Tracer): Unit = {
    scanProbes(spark, in, t)
    minhashProbe(docs(spark, in), t)
  }
}
