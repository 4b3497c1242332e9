package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{ErrorPolicy, TimePartitioning}
import graft.sources.Sources

/** Config-driven ETL pipeline — the Spark re-expression of the reference's
  * executor contract: an Embulk run is `input → filters → (partitioning?) →
  * output` configured in YAML (`MapReduceExecutorTask.java:32-75` carries
  * the config; `MapReduceExecutor.java:87-137` picks map-only vs partitioned
  * job shape).
  *
  * Here the same decisions become *plan* decisions:
  *  - no partitioning ⇒ map-only: scan → narrow transforms → write, no
  *    shuffle (`EmbulkMapReduce.java:295` analogue);
  *  - partitioning ⇒ one `repartition(bucket)` shuffle then a partitioned
  *    write (`EmbulkPartitioningMapReduce.java:39` analogue), with the
  *    partitioner dispatched by config type name exactly like
  *    `Partitioning.java:16-30` ("timestamp" built in, "column_hash" the
  *    second type proving the dispatch is an extension point);
  *  - `reducers` ⇒ shuffle partition count (`MapReduceExecutorTask.java:44`);
  *  - `map_side_partition_split` ⇒ a hot bucket spreads over up to N
  *    reducer tasks in the partitioned write
  *    (`TimestampPartitioning.java:273-289`): without `reducers`, AQE
  *    rebalances on the bucket key and splits only the oversized buckets;
  *    with `reducers`, every bucket is salted N ways;
  *  - `stop_on_invalid_record` ⇒ cast-parse failures abort the run
  *    (`embulk_mapred_stop_on_invalid_record_config.yml` failfast);
  *  - `localModeMaxTasks` ⇒ coalesce tiny inputs, the analogue of
  *    `local_mode_input_tasks` (`MapReduceExecutorTask.java:56`);
  *  - `out` ⇒ sink format/options (the reference's output plugin stage).
  */
object Pipeline {

  /** Column-level transforms (the Embulk "filters" stage). */
  sealed trait Transform
  final case class Select(cols: Seq[String]) extends Transform
  final case class Rename(from: String, to: String) extends Transform
  final case class Cast(col: String, to: String) extends Transform
  final case class Where(predicate: String) extends Transform
  final case class Derive(name: String, expression: String) extends Transform
  /** Row-level exact dedup: keep the lowest-`idCol` row per distinct
    * (optionally normalized) `textCol` content — `Dedup.exact` as a
    * config step. Hash-agg + left-semi join on ids; the shuffle carries
    * 16-byte hashes and ids, never the rows themselves.
    */
  final case class DedupRows(idCol: String, textCol: String,
    normalized: Boolean = false) extends Transform
  /** Curation filters (the LLM-pipeline stages as config steps — all pure
    * narrow maps over `textCol`, zero shuffle): keep rows whose predicted
    * language is in `keep`; keep rows whose quality score clears
    * `minScore`; mask PII in place.
    */
  final case class LangFilter(textCol: String, keep: Seq[String])
    extends Transform
  final case class QualityFilter(textCol: String, minScore: Double)
    extends Transform
  final case class RedactPii(textCol: String) extends Transform
  /** NFC canonicalization as a config step (L25): compose decomposed
    * Unicode + collapse control whitespace in `textCol` — the pre-hash
    * cleanup stage, so fingerprint/dedup steps downstream see canonical
    * bytes. Pure narrow map (NfcClean codegen kernel).
    */
  final case class NfcCleanCol(textCol: String) extends Transform
  /** Key pseudonymization as a config step (E51): replace `keyCol` in
    * place with its salted one-way surrogate
    * ([[graft.operators.Privacy.pseudonym]]) — every table run with the
    * same salt stays joinable on the pseudonym. Pure narrow map.
    */
  final case class PseudonymizeCol(keyCol: String, salt: String,
    bits: Int = 64) extends Transform
  /** One declarative data-quality rule (the `dq_check` config step):
    * `not_null` / `unique` / `min` / `max` (with `value`) / `fk` (with
    * `refPath` + `refColumn`). Violations are COUNTED, not sampled.
    */
  final case class DqRule(rule: String, column: String,
    value: Option[String] = None, refPath: Option[String] = None,
    refColumn: Option[String] = None)
  /** Dataset-level quality gate as a config step — the E44 audit wired
    * into the R14 config pipeline, with the `stop_on_invalid_record`
    * failure discipline lifted from rows to RULES. Two modes:
    *  - `failOnViolation`: the rule set is evaluated eagerly when the plan
    *    is built (the gate is the point), one side job, and any violation
    *    aborts the run with the per-rule counts in a
    *    [[DqViolationException]]. Scalar rules share one aggregation
    *    pass; `unique` is n − distinct; `fk` is a key-projected anti-join
    *    count (the E44 shape).
    *  - otherwise: no job runs. Planning only checks that every rule's
    *    column resolves against the input schema, naming any that does
    *    not, and passes the frame through; an `fk` reference is not
    *    opened. The counts of a non-failing check come from
    *    [[dqRulesAudit]] (the registered `dq_rules` query), which a caller
    *    runs when it wants them.
    */
  final case class DqCheck(rules: Seq[DqRule],
    failOnViolation: Boolean = false) extends Transform

  final class DqViolationException(val counts: Seq[(DqRule, Long)])
    extends RuntimeException(DqViolationException.describe(counts))

  object DqViolationException {
    private[pipeline] def describe(counts: Seq[(DqRule, Long)]): String =
      "dq_check failed: " + counts.collect {
        case (r, n) if n > 0 => s"${r.rule}(${r.column})=$n"
      }.mkString(", ")
  }

  /** The audit frame behind [[DqCheck]]: one row per rule —
    * (rule, column, n_violations). Shared by the config step and the
    * registered `dq_rules` query so both gate the same logic.
    */
  def dqRulesAudit(spark: SparkSession, df: DataFrame,
      rules: Seq[DqRule]): DataFrame =
    dqRulesAuditIndexed(spark, df, rules)
      .select(col("rule"), col("col_name"), col("n_violations"))

  /** [[dqRulesAudit]] plus a positional `rule_idx` column, so callers can
    * attribute counts back to the EXACT rule instance even when two rules
    * share (rule, column) — e.g. two `min` thresholds on one column.
    */
  private[pipeline] def dqRulesAuditIndexed(spark: SparkSession,
      df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    def row(i: Int, r: DqRule, v: Column): Column =
      struct(lit(i).as("rule_idx"), lit(r.rule).as("rule"),
        lit(r.column).as("col_name"),
        coalesce(v.cast("long"), lit(0L)).as("n_violations"))
    def violations(r: DqRule): Column = r.rule match {
      case "not_null" => sum(when(col(r.column).isNull, 1L).otherwise(0L))
      case "unique" => count(col(r.column)) - count_distinct(col(r.column))
      case "min" =>
        sum(when(col(r.column) < lit(r.value.get.toDouble), 1L).otherwise(0L))
      case "max" =>
        sum(when(col(r.column) > lit(r.value.get.toDouble), 1L).otherwise(0L))
      case other =>
        throw new IllegalArgumentException(s"unknown dq rule: $other")
    }
    // every scalar rule in ONE aggregation pass, then one row per rule
    val scalar = rules.zipWithIndex.filter(_._1.rule != "fk")
    val scalarRows = Option.when(scalar.nonEmpty) {
      df.select(scalar.map { case (r, i) => violations(r).as(s"_v$i") }: _*)
        .select(inline(array(scalar.map { case (r, i) =>
          row(i, r, col(s"_v$i")) }: _*)))
    }
    val fkRows = rules.zipWithIndex.collect { case (r, i) if r.rule == "fk" =>
      val ref = Sources.parquet(spark, r.refPath.get)
        .select(col(r.refColumn.get).as("_ref")).distinct()
      df.select(col(r.column).as("_k")).where(col("_k").isNotNull)
        .join(ref, col("_k") === col("_ref"), "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(inline(array(row(i, r, col("v")))))
    }
    (scalarRows.toSeq ++ fkRows).reduce(_ unionByName _)
  }
  /** Per-source quota as a config step (the `source_quota` curation cut):
    * keep the top-`k` rows per `keyCol` by quality score over `textCol`
    * (ties by `idCol` ascending) — runs through the bounded-heap
    * TopKPerKey, so one hot domain never costs a corpus-sized sort.
    */
  final case class SourceQuota(keyCol: String, textCol: String,
    idCol: String, k: Int) extends Transform
  /** Quality-band cut as a config step (the `quality_bands` curation cut):
    * exact per-stratum ntile(`buckets`) over the quality score (ties by
    * `idCol`), keeping rows whose band is in `keepBands` — e.g.
    * buckets=4, keep=[4] is "top quartile per language". Runs through
    * `Banding.ntileByStratum` (two-level rank, no per-stratum single-task
    * sort; window fallback above its cardinality guard).
    */
  final case class QualityBandKeep(stratumCol: String, textCol: String,
    idCol: String, buckets: Int, keepBands: Seq[Int]) extends Transform
  /** Benchmark decontamination as a config step (the `decontaminate`
    * pass): drop rows sharing any `n`-gram ([[graft.operators.Dedup
    * .shingles]]) with the eval set read from `evalPath` (optionally
    * filtered by `evalWhere`). Row-level: each row is judged by its own
    * text alone, so a null text is kept and a null id does not matter.
    * Planning collects the eval slice's distinct grams EAGERLY (a side job
    * over the eval slice only; the set is small by the decontamination
    * premise) and ships them as one `Broadcast` set. The step is then one
    * narrow predicate on the corpus ([[graft.operators.Dedup
    * .sharesShingle]]), comparing gram strings exactly: no join, no
    * second pass over the upstream steps, no corpus shuffle.
    */
  final case class Decontaminate(textCol: String,
    evalPath: String, evalFormat: String = "parquet",
    evalWhere: Option[String] = None, n: Int = 8) extends Transform

  /** Partitioning config. `ptype` is the reference's type-name dispatch
    * (`Partitioning.java:16-30`): "timestamp" buckets a time column by
    * unit (the reference's only built-in), "column_hash" buckets any
    * column by `pmod(xxhash64(col), hashBuckets)`, and "composite" layers
    * `secondColumn` under the time bucket — the (day, source) compound
    * layout a curated corpus usually lands in, shuffled on the full
    * compound key so each leaf directory's rows co-locate. Unknown types
    * are rejected like `embulk_mapred_invalid_partitioning_config.yml`.
    */
  final case class Partitioning(column: String, unit: String = "hour",
    unixTimestampUnit: Option[String] = None, mapSidePartitionSplit: Int = 1,
    ptype: String = "timestamp", hashBuckets: Int = 32,
    secondColumn: Option[String] = None)

  /** Output stage (the reference config's `out:` section): sink format and
    * writer options; the target path comes from `run`'s argument.
    */
  final case class Out(format: String = "parquet",
    options: Map[String, String] = Map.empty)

  final case class Config(
    inputPath: String,
    format: String = "parquet",
    transforms: Seq[Transform] = Nil,
    partitioning: Option[Partitioning] = None,
    reducers: Option[Int] = None,
    localModeMaxTasks: Option[Int] = None,
    stopOnInvalidRecord: Boolean = false,
    out: Out = Out(),
    jobName: Option[String] = None,
    sparkConf: Map[String, String] = Map.empty)

  /** Build the logical plan for a config. With `stopOnInvalidRecord` set,
    * every Cast step gates eagerly: a row whose source value is non-null but
    * fails the cast is an invalid record and aborts the run
    * (`ErrorPolicy.Fail`, the reference's failfast) — so planning a
    * failfast config performs the validation action.
    */
  def plan(spark: SparkSession, config: Config): DataFrame = {
    // the reference rejects a non-positive reducer count whenever
    // partitioning is configured (MapReduceExecutor.java:98-100, exercised
    // by embulk_mapred_invalid_reducers_config.yml) — same hard error here,
    // same message, instead of a silent misconfiguration
    if (config.partitioning.isDefined && config.reducers.exists(_ <= 0))
      throw new IllegalArgumentException(
        "Reducers must be larger than 1 if partition: is set")
    // reference parity: `config` passthrough injects runtime conf before
    // the job plans (MapReduceExecutorTask.java:24-30 — arbitrary Hadoop
    // conf on the job); a static/unknown Spark conf fails loudly here,
    // which is the reference's ConfigException discipline. `job_name`
    // labels every job this pipeline triggers (ib:20-22 → job name).
    config.sparkConf.foreach { case (k, v) => spark.conf.set(k, v) }
    config.jobName.foreach(spark.sparkContext.setJobDescription)
    val in = Sources.load(spark, config.format, config.inputPath)
    val transformed = config.transforms.foldLeft(in) { (df, t) =>
      t match {
        case Select(cs)      => df.select(cs.map(col): _*)
        case Rename(f, to)   => df.withColumnRenamed(f, to)
        case Cast(c, to)     =>
          val casted = col(c).cast(to)
          // validity must be judged BEFORE the column is replaced: source
          // null stays valid (null in, null out), source non-null with a
          // null cast result is a parse failure
          val gated =
            if (config.stopOnInvalidRecord)
              ErrorPolicy(df, Nil,
                valid = col(c).isNull || casted.isNotNull, ErrorPolicy.Fail)
            else df
          gated.withColumn(c, casted)
        case Where(p)        => df.where(p)
        case Derive(n, e)    => df.withColumn(n, expr(e))
        case DedupRows(idCol, textCol, normalized) =>
          val fp =
            if (normalized) graft.operators.TextAnalysis.fingerprint(col(textCol))
            else md5(col(textCol))
          val keep = df.select(fp.as("_fp"), col(idCol).as("_id"))
            .groupBy(col("_fp")).agg(min(col("_id")).as("_keep"))
            .select(col("_keep"))
          df.join(keep, df(idCol) === keep("_keep"), "left_semi")
        case LangFilter(c, keep) =>
          df.where(graft.operators.TextAnalysis.langId(col(c))
            .isin(keep.map(lit(_)): _*))
        case QualityFilter(c, minScore) =>
          df.where(graft.operators.TextAnalysis.qualityScore(col(c)) >= minScore)
        case RedactPii(c) =>
          df.withColumn(c, graft.operators.TextAnalysis.redactPii(col(c)))
        case NfcCleanCol(c) =>
          df.withColumn(c, graft.functions.NormalizeFunctions.nfcClean(col(c)))
        case PseudonymizeCol(c, salt, bits) =>
          df.withColumn(c, graft.operators.Privacy.pseudonym(col(c), salt, bits))
        case DqCheck(rules, true) =>
          // the gate evaluates EAGERLY — the point is to stop a bad load;
          // counts join back to rules POSITIONALLY (rule_idx), so two
          // rules sharing (rule, column) each keep their own count
          val counts = dqRulesAuditIndexed(spark, df, rules).collect()
            .map(r => (rules(r.getInt(0)), r.getLong(3)))
          if (counts.exists(_._2 > 0))
            throw new DqViolationException(counts.toSeq)
          df
        case DqCheck(rules, false) =>
          // nothing would read the counts: resolve the columns, run no job
          val missing = rules.map(_.column).distinct
            .filter(c => scala.util.Try(df.select(col(c))).isFailure)
          if (missing.nonEmpty)
            throw new IllegalArgumentException(
              s"dq_check: no column ${missing.mkString(", ")} in the input " +
                s"(${df.columns.mkString(", ")})")
          df
        case SourceQuota(key, textCol, idCol, k) =>
          requireNoInternalCols(df, "source_quota")
          val scored = df.withColumn("_gq_score",
            graft.operators.TextAnalysis.qualityScore(col(textCol)))
          graft.plans.TopKPerKey.topK(scored, keys = Seq(key),
              order = Seq("_gq_score" -> "desc", idCol -> "asc"), k = k)
            .drop("_gq_score")
        case QualityBandKeep(stratum, textCol, idCol, buckets, keep) =>
          requireNoInternalCols(df, "quality_bands")
          val scored = df.withColumn("_gq_score",
            graft.operators.TextAnalysis.qualityScore(col(textCol)))
          graft.operators.Banding.ntileByStratum(scored, stratum,
              Seq("_gq_score", idCol), buckets, out = "_gq_band")
            .where(col("_gq_band").isin(keep.map(_.toLong): _*))
            .drop("_gq_score", "_gq_band")
        case Decontaminate(textCol, evalPath, fmt, evalWhere, n) =>
          val evalRaw = Sources.load(spark, fmt, evalPath)
          val evalSet = evalWhere.fold(evalRaw)(evalRaw.where)
          // the set dedups the grams: no shuffle for a `distinct`
          val grams = new java.util.HashSet[UTF8String]()
          evalSet.select(explode(graft.operators.Dedup.shingles(col(textCol), n)))
            .collect()
            .foreach(r => grams.add(UTF8String.fromString(r.getString(0))))
          val shipped = spark.sparkContext
            .broadcast[java.util.Set[UTF8String]](grams)
          df.where(!graft.operators.Dedup.sharesShingle(col(textCol), n, shipped))
      }
    }
    config.localModeMaxTasks match {
      // the reference's local-mode decision counts INPUT tasks
      // (`MapReduceExecutor.java:87`); the input file count is that
      // statistic without forcing physical planning of the whole query
      // (the r3 probe read `.rdd.getNumPartitions`, instantiating the
      // physical plan outside AQE just to read a number)
      case Some(n) if in.inputFiles.length > n => transformed.coalesce(n)
      case _ => transformed
    }
  }

  /** The scoring steps inject `_gq_score`/`_gq_band` working columns; an
    * input that already carries one would be silently overwritten and then
    * dropped — corrupting user data. Reject the collision up front (same
    * stance as `Banding.ntileByStratum` takes for its own internals).
    */
  private def requireNoInternalCols(df: DataFrame, step: String): Unit =
    Seq("_gq_score", "_gq_band").foreach { c =>
      require(!df.columns.contains(c),
        s"config: $step cannot run on an input that already has a '$c' column")
    }

  /** Bucket expression for a partitioning config — dispatched by type name
    * (`Partitioning.java:16-30`). "timestamp": timestamp column or long
    * column via unix_timestamp_unit, exactly the reference's two variants
    * (`TimestampPartitioning.java:163-185`); "column_hash": deterministic
    * hash bucket of any column.
    */
  def bucketExpr(df: DataFrame, p: Partitioning): Column = p.ptype match {
    case "timestamp" | "composite" =>
      val c = col(p.column)
      val unit = TimePartitioning.BucketUnit.of(p.unit)
      val isLong = df.schema(p.column).dataType ==
        org.apache.spark.sql.types.LongType
      if (isLong)
        TimePartitioning.bucketOfLong(c,
          TimePartitioning.UnixUnit.of(p.unixTimestampUnit.getOrElse("sec")), unit)
      else TimePartitioning.bucket(c, unit)
    case "column_hash" =>
      pmod(xxhash64(col(p.column)), lit(p.hashBuckets.toLong))
    case other => throw new IllegalArgumentException(
      s"Unknown partitioning type '$other'. Supported types are timestamp, " +
        "column_hash and composite")
  }

  /** All partition levels for a config — (name, expr) pairs, primary
    * first. "composite" layers the second column (by its own name) under
    * the time bucket; the other types have a single level.
    */
  def bucketCols(df: DataFrame, p: Partitioning): Seq[(String, Column)] =
    p.ptype match {
      case "composite" =>
        val sc = p.secondColumn.getOrElse(throw new IllegalArgumentException(
          "config: partitioning.second_column is required for type composite"))
        Seq("bucket" -> bucketExpr(df, p), sc -> col(sc))
      case _ => Seq("bucket" -> bucketExpr(df, p))
    }

  /** Execute: plan (incl. the failfast gate) → sink. Partitioned configs
    * write one directory per bucket through `Sinks.write`, with
    * `map_side_partition_split` = N letting a hot bucket spread over up to
    * N reducer tasks — by a rebalance that splits only the buckets above a
    * 1/N share of the write when `reducers` is unset, by an N-way salt on
    * every bucket when it is set; map-only configs write directly in the
    * configured output format. Returns the task report for the run (the reference's
    * job report surface), complete and detached from the session.
    */
  def run(spark: SparkSession, config: Config, outPath: String): TaskReport = {
    val report = TaskReport.attach(spark)
    try {
      val df = plan(spark, config)
      config.partitioning match {
        case Some(p) =>
          val buckets = bucketCols(df, p)
          graft.sources.Sinks.write(df, outPath, config.out.format,
            bucket = Some(buckets.head._2), reducers = config.reducers,
            options = config.out.options,
            splitHotBuckets = p.mapSidePartitionSplit,
            extraBuckets = buckets.tail)
        case None =>
          graft.sources.Sinks.write(df, outPath, config.out.format,
            options = config.out.options)
      }
    } finally report.detach(spark)
    report
  }
}
