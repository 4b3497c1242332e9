package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators._
import graft.pipeline.{ConfigJson, Pipeline, TaskReport}
import graft.sources.{Sinks, Sources}
import graft.multimodal.Multimodal
import graft.streaming.{StatefulSessionize, StreamingIngest}

/** Registered engine queries (SURVEY §2) + their DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY §6): money sums go through decimal(18,2)
  * (exact) and only the final value is cast to double; ratios are int/int
  * IEEE divisions; cosine is a left-fold in double mirrored by `list_reduce`
  * in the oracle; time buckets are integer `div`; every query ends with a
  * total ORDER BY (Spark default asc = NULLS FIRST, mirrored explicitly in
  * the SQL).
  *
  * A fragment that a second query needs becomes one private helper here:
  * engine fragments build DataFrames (`sessionMarked`, `clusterCensus`),
  * oracle fragments build SQL strings (`cosSql`, `reachSql`). An oracle
  * fragment is made of other SQL strings only, never of an engine
  * DataFrame, Column or helper, so each oracle stays an independent
  * replay of its query.
  */
object Queries {
  import Tables._

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private val one2: Column = lit(1).cast("decimal(3,2)")
  private def revenueTerm(price: Column, disc: Column): Column =
    dec2(price) * (one2 - dec2(disc))

  // SQL fragments mirroring the helpers above.
  private val sqlRev =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
  private def sqlDec2(c: String) = s"CAST($c AS DECIMAL(18,2))"

  // ------------------------------------------------------------- R1 ETL ----

  def etlMapOnly(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_quantity") >= 10 && col("l_quantity") <= 30
        && col("l_shipdate") >= to_timestamp(lit("1996-01-01")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        revenueTerm(col("l_extendedprice"), col("l_discount"))
          .cast("double").as("revenue"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val etlMapOnlySql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey,
       CAST($sqlRev AS DOUBLE) AS revenue, l_returnflag
       FROM lineitem
       WHERE l_quantity >= 10 AND l_quantity <= 30
         AND l_shipdate >= TIMESTAMP '1996-01-01'
       ORDER BY l_orderkey, l_linenumber"""

  def etlCastRename(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .where(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey").as("order_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        upper(col("o_orderstatus")).as("status"),
        dec2(col("o_totalprice")).cast("double").as("total"))
      .orderBy(col("order_id"))

  val etlCastRenameSql: String =
    s"""SELECT o_orderkey AS order_id,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       upper(o_orderstatus) AS status,
       CAST(${sqlDec2("o_totalprice")} AS DOUBLE) AS total
       FROM orders WHERE o_totalprice > 100000.0 ORDER BY order_id"""

  /** Temp working dir for the write-then-read-back query harnesses.
    *
    * Dirs live on tmpfs when one is writable (`SPARK_GRAFT_TMPDIR`
    * overrides; `/dev/shm` is the default) so harness landing/checkpoint
    * writes never contend on the data disk with neighbouring benched
    * queries — the r8 bench showed four pure queries regress 2.7–4.2×
    * with unchanged code purely from sharing a run with three new
    * write-heavy harnesses. Cleanup must be DEFERRED — the returned
    * DataFrame reads the dir lazily after the query fn returns — so dirs
    * are queued and removed either eagerly by Bench between timings
    * ([[purgeTempDirs]]) or by ONE JVM shutdown hook (a hook per dir, as
    * before r9, accumulated hundreds of hook threads across bench reps).
    */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** Delete every queued harness temp dir now. Callers must be past every
    * action that reads them — Bench calls this after each noop-forced
    * timing, when the timed DataFrame is dead.
    */
  def purgeTempDirs(): Unit = {
    var p = tempDirs.poll()
    while (p != null) { Sinks.rmTree(p.toFile); p = tempDirs.poll() }
  }

  /** `/dev/shm` when it is writable with at least `bytes` usable, else
    * None. Many containers mount it at the 64 MB default, and a tiny shm
    * holding warehouse, landing or spill trees fails mid-run with ENOSPC,
    * so each caller states the headroom its own use needs.
    */
  private[graft] def shmWithHeadroom(bytes: Long): Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val usable = try {
      if (java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.getFileStore(shm).getUsableSpace
      else 0L
    } catch { case _: java.io.IOException => 0L }
    if (usable >= bytes) Some(shm) else None
  }

  /** tmpfs-preferring base for harness dirs; also used by Bench for the
    * warehouse/local dirs so `join_bucketed`'s table writes stay off the
    * data disk. The 4 GiB floor ≈ the largest harness residue observed at
    * sf0.1 plus shuffle spill margin.
    */
  private[graft] lazy val tempBase: java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_TMPDIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(shmWithHeadroom(4L << 30))
      .getOrElse(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(base)
    base
  }

  private val purgeHookInstalled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def tempDir(prefix: String): String = {
    if (purgeHookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => purgeTempDirs()))
    val d = java.nio.file.Files.createTempDirectory(tempBase, prefix)
    tempDirs.add(d)
    d.toString
  }

  /** Bracket a streaming-drain query body with the input-conditional
    * state-store count for `dir` (per-batch store-commit overhead is
    * linear in the count and data-independent — see
    * `StreamingIngest.statePartitionsFor` for the measured rationale).
    */
  private def withSizedState[T](s: SparkSession, dir: String)(body: => T): T =
    StreamingIngest.withStatePartitions(s, StreamingIngest.statePartitionsFor(
      s.sparkContext.defaultParallelism, GraftSession.inputBytes(dir)))(body)

  // ------------------------------------------- R2/R3 timestamp buckets ----

  private def hourBucket(ts: Column) =
    TimePartitioning.bucket(ts, TimePartitioning.Hour)
  private def dayBucket(ts: Column) =
    TimePartitioning.bucket(ts, TimePartitioning.Day)

  def partitionHourTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(hourBucket(col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("bucket"))

  val partitionHourTsSql: String =
    """SELECT epoch_us(ts) // 3600000000 AS bucket,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1 ORDER BY 1"""

  def partitionDayTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(dayBucket(col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("bucket"))

  val partitionDayTsSql: String =
    """SELECT epoch_us(ts) // 86400000000 AS bucket,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1 ORDER BY 1"""

  def partitionDayOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(dayBucket(col("o_orderdate")).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
      .orderBy(col("bucket"))

  val partitionDayOrdersSql: String =
    """SELECT epoch_us(o_orderdate) // 86400000000 AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM orders GROUP BY 1 ORDER BY 1"""

  // --------------------------------------- R4 long-column unix buckets ----

  /** Long unix column in `unit`, derived losslessly from the micros value,
    * then bucketed through the reference's toSeconds division chain.
    */
  private def unixBucketQuery(s: SparkSession, dir: String,
      unixUnit: TimePartitioning.UnixUnit): DataFrame = {
    val perUs = unixUnit match {
      case TimePartitioning.Sec   => call_function("div", unix_micros(col("ts")), lit(1000000L))
      case TimePartitioning.Milli => call_function("div", unix_micros(col("ts")), lit(1000L))
      case TimePartitioning.Micro => unix_micros(col("ts"))
      case TimePartitioning.Nano  => unix_micros(col("ts")) * lit(1000L)
    }
    events(s, dir).select(perUs.as("t"), col("value"))
      .groupBy(TimePartitioning.bucketOfLong(col("t"), unixUnit,
        TimePartitioning.Hour).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("bucket"))
  }

  private def unixBucketSql(derive: String, perSecond: Long): String =
    s"""SELECT (($derive) // $perSecond) // 3600 AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1 ORDER BY 1"""

  def partitionUnixSec(s: SparkSession, d: String): DataFrame =
    unixBucketQuery(s, d, TimePartitioning.Sec)
  val partitionUnixSecSql: String = unixBucketSql("epoch_us(ts) // 1000000", 1L)

  def partitionUnixMilli(s: SparkSession, d: String): DataFrame =
    unixBucketQuery(s, d, TimePartitioning.Milli)
  val partitionUnixMilliSql: String = unixBucketSql("epoch_us(ts) // 1000", 1000L)

  def partitionUnixMicro(s: SparkSession, d: String): DataFrame =
    unixBucketQuery(s, d, TimePartitioning.Micro)
  val partitionUnixMicroSql: String = unixBucketSql("epoch_us(ts)", 1000000L)

  def partitionUnixNano(s: SparkSession, d: String): DataFrame =
    unixBucketQuery(s, d, TimePartitioning.Nano)
  val partitionUnixNanoSql: String = unixBucketSql("epoch_us(ts) * 1000", 1000000000L)

  // ----------------------------------------------- R5 skew-split salt ----

  def partitionSkewSplit(s: SparkSession, dir: String): DataFrame =
    TimePartitioning.aggregateByBucketSalted(
      events(s, dir), hourBucket(col("ts")), col("event_id"), split = 4,
      partial = Seq(count(lit(1)).as("pn"), sum(dec2(col("value"))).as("ps")),
      finalAggs = Seq(sum(col("pn")).as("n_events"),
        sum(col("ps")).cast("double").as("sum_value")))
      .orderBy(col("bucket"))

  val partitionSkewSplitSql: String =
    """SELECT epoch_us(ts) // 3600000000 AS bucket, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------- R11 invalid-record policy --

  /** `props.k` as a long: graft's `JsonField` kernel after the rewrite. */
  private def propsK: Column = get_json_object(col("props"), "$.k").cast("long")

  private def parsedEvents(s: SparkSession, dir: String,
      policy: ErrorPolicy.Policy): DataFrame =
    ErrorPolicy(events(s, dir), Seq("k" -> propsK), valid = propsK.isNotNull,
      policy = policy)

  def invalidRecordDrop(s: SparkSession, dir: String): DataFrame =
    parsedEvents(s, dir, ErrorPolicy.Drop)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  val invalidRecordDropSql: String =
    """SELECT event_type, COUNT(*) AS n,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
       FROM events
       WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
       GROUP BY event_type ORDER BY event_type"""

  def invalidRecordPermissive(s: SparkSession, dir: String): DataFrame =
    parsedEvents(s, dir, ErrorPolicy.Permissive)
      .agg(count(lit(1)).as("n_total"), count(col("k")).as("n_valid"),
        sum(when(col("_corrupt"), 1L).otherwise(0L)).as("n_corrupt"))

  val invalidRecordPermissiveSql: String =
    """SELECT COUNT(*) AS n_total,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_valid,
       CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
       FROM events"""

  // --------------------------------------------- R9 task report (rows) ----

  /** Per-run records-in/out report — the reference's attempt-state counter
    * surface (`AttemptState.java`, `MapReduceExecutor.java:139-190`) rebuilt
    * on `Dataset.observe` (CollectMetrics): the metrics are computed over
    * the rows that actually flowed through each point of the plan, so the
    * report is deterministic and the oracle can recompute it from the data.
    * The SparkListener wall-clock/bytes surface stays in
    * [[graft.pipeline.TaskReport]] (PipelineSpec) — those fields are
    * nondeterministic by nature and excluded here.
    */
  def taskReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val obsIn = Observation()
    val obsOut = Observation()
    val out = lineitem(s, dir)
      .observe(obsIn, count(lit(1)).as("n"))
      .where(col("l_quantity") > 25)
      .observe(obsOut, count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
    out.write.format("noop").mode("overwrite").save()
    import s.implicits._
    // sum over zero rows observes as null — keep it null (Option) so the
    // report matches the oracle's NULL instead of NPE-ing on unboxing
    Seq(
      ("records_in", Option(obsIn.get("n")).map(_.asInstanceOf[Long].toDouble)),
      ("records_out", Option(obsOut.get("n")).map(_.asInstanceOf[Long].toDouble)),
      ("sum_qty_out", Option(obsOut.get("sum_qty")).map(_.asInstanceOf[Double])))
      .toDF("metric", "value").orderBy(col("metric"))
  }

  val taskReportSql: String =
    """SELECT metric, value FROM (
         SELECT 'records_in' AS metric, CAST(COUNT(*) AS DOUBLE) AS value
         FROM lineitem
         UNION ALL
         SELECT 'records_out',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity > 25) AS DOUBLE)
         UNION ALL
         SELECT 'sum_qty_out',
           (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            FROM lineitem WHERE l_quantity > 25))
       ORDER BY metric"""

  /** Registered retry surface (R10): a deterministic attempt-keyed fault —
    * on attempt 0 the output column routes through `raise_error`, so the
    * first action always fails — exercised under `TaskReport.withRetry(2)`,
    * the Spark-native face of the reference's `retry_tasks`
    * (`MapReduceExecutorTask.java:48`). The retry re-plans with the
    * attempt number as a literal, so attempt 1's plan contains no fault
    * branch at all and succeeds. The report pins the retry counters and
    * the successful attempt's observed output (recomputable from the
    * data). Listener-side failed-task evidence is reported as a
    * saturating flag (≥ 1 failed task attempt recorded): the exact failed
    * count depends on how many concurrent tasks were in flight when the
    * stage aborted — scheduling, not semantics.
    */
  def taskReportRetry(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val report = graft.pipeline.TaskReport.attach(s)
    var obs: Observation = null
    val (_, attempts) = graft.pipeline.TaskReport.withRetry(2) { attempt =>
      obs = Observation()
      val qty = dec2(col("l_quantity")).cast("double")
      val out = lineitem(s, dir).where(col("l_quantity") > 45)
        .observe(obs, count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(col("l_orderkey"),
          (if (attempt == 0)
             raise_error(lit("graft: injected attempt-0 fault")).cast("double")
           else qty).as("qty"))
      out.write.format("noop").mode("overwrite").save()
    }
    // the aborted job's TaskEnd events were posted before its failure
    // returned; draining the bus delivers them, and detaching stops the
    // report recording every later task of the session
    report.detach(s)
    import s.implicits._
    Seq(
      ("attempts", attempts.toDouble),
      ("failed_attempts", (attempts - 1).toDouble),
      ("failed_task_attempts_recorded",
        math.min(report.failedTasks, 1).toDouble),
      ("records_out",
        Option(obs.get("n")).map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)),
      ("sum_qty_out",
        Option(obs.get("sum_qty")).map(_.asInstanceOf[Double]).getOrElse(0.0)))
      .toDF("metric", "value").orderBy(col("metric"))
  }

  val taskReportRetrySql: String =
    """SELECT metric, value FROM (
         SELECT 'attempts' AS metric, 2.0 AS value
         UNION ALL SELECT 'failed_attempts', 1.0
         UNION ALL SELECT 'failed_task_attempts_recorded', 1.0
         UNION ALL SELECT 'records_out',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity > 45) AS DOUBLE)
         UNION ALL SELECT 'sum_qty_out',
           (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            FROM lineitem WHERE l_quantity > 45))
       ORDER BY metric"""

  // --------------------------------------------- R14 config pipeline ----

  def pipelineConfigRun(s: SparkSession, dir: String): DataFrame = {
    val cfg = Pipeline.Config(
      inputPath = s"$dir/lineitem.parquet",
      transforms = Seq(
        Pipeline.Where("l_quantity > 45"),
        Pipeline.Derive("revenue",
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)"),
        Pipeline.Rename("l_returnflag", "flag"),
        Pipeline.Select(Seq("l_orderkey", "l_linenumber", "revenue", "flag"))))
    Pipeline.plan(s, cfg).orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val pipelineConfigRunSql: String =
    s"""SELECT l_orderkey, l_linenumber, CAST($sqlRev AS DOUBLE) AS revenue,
       l_returnflag AS flag
       FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber"""

  /** Config-driven run through the reference's full in → filters → OUT
    * shape (`MapReduceExecutorTask.java:32-75`): the JSON config carries
    * an `out` section (csv + header), `Pipeline.run` writes through
    * `Sinks.write`, and the query returns the sink read back — so the
    * oracle gates the whole pipeline INCLUDING the sink format round-trip
    * (long/string/double columns; Spark's double formatting round-trips
    * exactly, so the CSV re-parse is lossless).
    */
  def pipelineConfigOut(s: SparkSession, dir: String): DataFrame = {
    val outDir =
      tempDir("graft_cfg_out_")
    val json = s"""{
      "in": {"path": "$dir/orders.parquet"},
      "filters": [
        {"type": "where", "predicate": "o_totalprice > 100000.0"},
        {"type": "derive", "name": "order_date",
         "expression": "date_format(o_orderdate, 'yyyy-MM-dd')"},
        {"type": "derive", "name": "total",
         "expression": "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)"},
        {"type": "rename", "from": "o_orderkey", "to": "order_id"},
        {"type": "select",
         "cols": ["order_id", "order_date", "o_orderstatus", "total"]}
      ],
      "out": {"format": "csv", "options": {"header": "true"}}
    }"""
    Pipeline.run(s, ConfigJson.parse(json), outDir)
    s.read.option("header", "true")
      .schema("order_id LONG, order_date STRING, o_orderstatus STRING, total DOUBLE")
      .csv(outDir)
      .orderBy(col("order_id"))
  }

  val pipelineConfigOutSql: String =
    s"""SELECT o_orderkey AS order_id,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderstatus,
       CAST(${sqlDec2("o_totalprice")} AS DOUBLE) AS total
       FROM orders WHERE o_totalprice > 100000.0 ORDER BY order_id"""

  /** Composite (time, column) partitioned layout from JSON — the commonest
    * curation output layout (day + status/source directories). The config
    * declares `type: composite` with a `second_column`; `Pipeline.run`
    * shuffles ONCE on the full compound key and `partitionBy`s both
    * levels, so each leaf directory's rows co-locate in one reducer task.
    * The query reads the layout back and aggregates per leaf, so the
    * oracle gates the bucket arithmetic AND that every row landed in its
    * correct (bucket, status) directory. The config windows the input to
    * one quarter: leaf-directory COUNT (days × statuses) is what costs
    * locally — at target scale each leaf is gigabytes and the per-file
    * constant vanishes, but a registered query shouldn't spend its time
    * creating near-empty files (this was the full sweep's slowest fixture
    * at a year's 1095 leaves; 90 days × 3 statuses exercises the same
    * compound-key shuffle + two-level layout at a quarter the files —
    * r16 verdict task 6).
    */
  def pipelineConfigComposite(s: SparkSession, dir: String): DataFrame = {
    val outDir =
      tempDir("graft_cfg_comp_")
    val json = s"""{
      "in": {"path": "$dir/orders.parquet"},
      "filters": [
        {"type": "where", "predicate":
          "o_totalprice > 150000.0 AND o_orderdate >= timestamp'1997-01-01 00:00:00' AND o_orderdate < timestamp'1997-04-01 00:00:00'"}
      ],
      "partitioning": {"type": "composite", "column": "o_orderdate",
        "unit": "day", "second_column": "o_orderstatus"},
      "reducers": 8
    }"""
    Pipeline.run(s, ConfigJson.parse(json), outDir)
    Sources.parquet(s, outDir)
      .groupBy(col("bucket").cast("long").as("bucket"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
      .orderBy(col("bucket"), col("o_orderstatus"))
  }

  val pipelineConfigCompositeSql: String =
    """SELECT epoch_us(o_orderdate) // 86400000000 AS bucket, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM orders WHERE o_totalprice > 150000.0
         AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Cross-job partial-done recovery (R10 deepening — the reference's
    * `retry_tasks` resume, `AttemptState.java:1-170` +
    * `MapReduceExecutor.java:139-190`, which re-runs ONLY unfinished
    * tasks of a failed job): pass 1 writes the day-bucketed events layout
    * in 4 waves and CRASHES on a deterministic injected fault after 2
    * waves commit; pass 2 consults the wave manifest and writes ONLY the
    * missing waves. The query returns per-bucket aggregates of the layout
    * READ BACK FROM DISK joined to the manifest's writing pass, and the
    * oracle recomputes both from the raw table (pass = 1 iff
    * `bucket mod 4 < 2`, the deterministic wave arithmetic) — so a bucket
    * the resume skipped drops rows (hash fail) and a completed bucket the
    * resume needlessly rewrote flips its manifest pass to 2 (hash fail).
    * A third pass running 0 waves — the skip proof — is asserted in
    * ResumableWriteSpec.
    */
  def pipelineResumePartial(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.ResumableWrite
    val outDir = tempDir("graft_resume_")
    val data = events(s, dir).select(col("ts"), col("value"))
    val waves = 4
    try {
      ResumableWrite.run(s, data, dayBucket(col("ts")), outDir, waves,
        pass = 1, failAfterWaves = Some(2))
      ()
    } catch { case ResumableWrite.InjectedFault(_) => () }
    ResumableWrite.run(s, data, dayBucket(col("ts")), outDir, waves, pass = 2)
    val agg = ResumableWrite.readBack(s, outDir)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
    val passes = ResumableWrite.manifest(s, outDir)
      .select(col("bucket").cast("long").as("bucket"), col("pass"))
    agg.join(passes, Seq("bucket")).orderBy(col("bucket"))
  }

  val pipelineResumePartialSql: String =
    // pass replays the engine's pmod(bucket, 4) wave arithmetic; DuckDB %
    // follows the dividend's sign, so wrap to the pmod range [0,4) or a
    // pre-1970 bucket (-1 % 4 = -1 < 2) would flip pass 2 → 1
    """SELECT epoch_us(ts) // 86400000000 AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CASE WHEN (((epoch_us(ts) // 86400000000) % 4) + 4) % 4 < 2
            THEN 1 ELSE 2 END AS pass
       FROM events GROUP BY 1 ORDER BY 1"""

  /** A full training-data CURATION pipeline driven by one JSON config —
    * the reference's in → filters → out shape carrying the LLM-pipeline
    * stages as filter steps: exact dedup → language filter → quality
    * filter → PII redaction. The oracle replays every stage in DuckDB
    * (shared lang/quality SQL fragments, identical RE2 patterns), so the
    * gate covers the config front-end AND each curation operator's
    * composition.
    */
  def pipelineConfigCuration(s: SparkSession, dir: String): DataFrame = {
    val json = s"""{
      "in": {"path": "$dir/documents.parquet"},
      "filters": [
        {"type": "dedup", "id": "doc_id", "column": "text"},
        {"type": "lang_filter", "column": "text", "keep": ["en", "de"]},
        {"type": "quality_filter", "column": "text", "min_score": 0.8},
        {"type": "pii_redact", "column": "text"},
        {"type": "derive", "name": "text_md5", "expression": "md5(text)"},
        {"type": "select", "cols": ["doc_id", "text_md5"]}
      ]
    }"""
    Pipeline.plan(s, ConfigJson.parse(json)).orderBy(col("doc_id"))
  }

  // lazy: langExprSql / qualityScoreExprSql are declared later in this
  // object, and object vals initialize in declaration order
  lazy val pipelineConfigCurationSql: String = {
    val redacted = TextAnalysis.piiPatterns.foldLeft("text") {
      case (c, (tag, pat)) => s"regexp_replace($c, '$pat', '[$tag]', 'g')"
    }
    s"""WITH keepids AS (
         SELECT MIN(doc_id) AS k FROM documents GROUP BY md5(text)),
       base AS (
         SELECT doc_id, text FROM documents
         WHERE doc_id IN (SELECT k FROM keepids)),
       langkept AS (SELECT * FROM base WHERE ($langExprSql) IN ('en', 'de')),
       qkept AS (SELECT * FROM langkept WHERE ($qualityScoreExprSql) >= 0.8)
       SELECT doc_id, md5($redacted) AS text_md5
       FROM qkept ORDER BY doc_id"""
  }

  /** The two newest curation cuts driven from JSON — a domain quota then a
    * per-language quality-band keep, the config-first shape the reference's
    * whole model is built on (`MapReduceExecutorTask.java:32-38`): a user
    * expresses "cap any source at 20 docs, then keep the top half per
    * language" without writing Scala. The oracle replays both stages in
    * DuckDB (row_number quota cut, ntile band cut) over the same score
    * expression, so the gate covers the config front-end AND the operator
    * composition (TopKPerKey feeding Banding).
    */
  def pipelineConfigQuotaBands(s: SparkSession, dir: String): DataFrame = {
    val json = s"""{
      "in": {"path": "$dir/documents.parquet"},
      "filters": [
        {"type": "source_quota", "key": "source", "column": "text",
         "id": "doc_id", "k": 20},
        {"type": "quality_bands", "stratum": "lang", "column": "text",
         "id": "doc_id", "buckets": 4, "keep": [3, 4]},
        {"type": "select", "cols": ["doc_id", "source", "lang"]}
      ]
    }"""
    Pipeline.plan(s, ConfigJson.parse(json)).orderBy(col("doc_id"))
  }

  lazy val pipelineConfigQuotaBandsSql: String =
    s"""WITH scored AS (
         SELECT doc_id, source, lang, ($qualityScoreExprSql) AS score
         FROM documents),
       quota AS (
         SELECT doc_id, source, lang, score FROM (
           SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY score DESC, doc_id) AS rn
           FROM scored) WHERE rn <= 20),
       banded AS (
         SELECT doc_id, source, lang,
           ntile(4) OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC)
             AS band
         FROM quota)
       SELECT doc_id, source, lang FROM banded
       WHERE band IN (3, 4) ORDER BY doc_id"""

  /** Decontamination driven from JSON — completes the config-first
    * curation surface: a user expresses "drop training rows sharing any
    * 8-gram with the eval suite" without Scala. Train side = doc_id ≥ 50
    * via a `where` filter stage, eval side = the same table's doc_id < 50
    * slice named in the decontaminate step's `eval` block. The oracle
    * replays gram hashing, the overlap join, and the anti-join in DuckDB.
    */
  def pipelineConfigDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val json = s"""{
      "in": {"path": "$dir/documents.parquet"},
      "filters": [
        {"type": "where", "predicate": "doc_id >= 50"},
        {"type": "decontaminate", "column": "text", "id": "doc_id",
         "eval": {"path": "$dir/documents.parquet", "where": "doc_id < 50"}},
        {"type": "select", "cols": ["doc_id", "source", "lang"]}
      ]
    }"""
    Pipeline.plan(s, ConfigJson.parse(json)).orderBy(col("doc_id"))
  }

  lazy val pipelineConfigDecontaminateSql: String =
    s"""WITH g AS (
         SELECT doc_id, unnest($shingle8Sql) AS gram
         FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
               FROM documents)),
       bench AS (SELECT DISTINCT md5(gram) AS gh FROM g WHERE doc_id < 50),
       dirty AS (
         SELECT DISTINCT doc_id FROM g JOIN bench ON md5(g.gram) = bench.gh
         WHERE doc_id >= 50)
       SELECT doc_id, source, lang FROM documents
       WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM dirty)
       ORDER BY doc_id"""

  // --------------------------------------------------- E1/E2 core SQL ----

  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    // exact fixed-point sums (the q5 r16 lever, same overflow budgets
    // written out): every term is a fixed-scale decimal — qty and price
    // exactly ×1e2 integers, the revenue term exactly ×1e4 — so the
    // per-row decimal math and the DECIMAL(28,2)/(32,4) object-path
    // accumulators reduce to LONG adds in the codegen'd agg; one exact
    // decimal rescale per output reproduces the oracle's
    // decimal→double rounding. Budgets at the 300× decade (180M rows):
    // qty ≤ 5e3/row → ≤ 9e11; price ≤ 1.1e7 → ≤ 2e15; rev ≤ 1.1e9 →
    // ≤ 2e17 — all ≪ 2^63.
    val qtyE2 = (dec2(col("l_quantity")) * lit(100)).cast("long")
    val priceE2 = (dec2(col("l_extendedprice")) * lit(100)).cast("long")
    val revE4 = priceE2 *
      (lit(100L) - (dec2(col("l_discount")) * lit(100)).cast("long"))
    def rescale(c: Column, div: Int) =
      (c.cast("decimal(38,0)") / lit(div)).cast("double")
    lineitem(s, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        rescale(sum(qtyE2), 100).as("sum_qty"),
        rescale(sum(priceE2), 100).as("sum_base_price"),
        rescale(sum(revE4), 10000).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1PricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       CAST(SUM(${sqlDec2("l_quantity")}) AS DOUBLE) AS sum_qty,
       CAST(SUM(${sqlDec2("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
       CAST(SUM($sqlRev) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).where(col("c_mktsegment") === "BUILDING")
    val o = orders(s, dir).where(col("o_orderdate") < to_timestamp(lit("1997-06-01")))
    val l = lineitem(s, dir)
    // no broadcast hint: customer scales with the data — AQE picks
    // broadcast at small SF and shuffle at scale from runtime stats
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"))
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  }

  val q3TopOrdersSql: String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(SUM($sqlRev) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-06-01'
       GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
       ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  /** Eager-aggregation pushdown (the optimizer move DuckDB/Trino make on
    * this shape): revenue partial-sums by l_orderkey BEFORE the orders
    * join and by o_custkey before the customer join, so the fact-fact
    * SMJs sort |orders| and |customers| rows instead of the raw lineitem
    * stream — decimal sums and line counts are associative, so the
    * nation-level result is bit-identical to aggregating after the
    * joins. At the 300× probe (180M lineitem) this cuts the shuffled
    * volume ~4× (the un-pushed form's two full-fact SMJ sorts were the
    * surface's largest shuffle and its wall went memory-bound).
    */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    // exact integer 1e-4-unit aggregation (r16): 300× stage forensics
    // put ~60% of q5's wall in the 45M-group partial agg (307 s CPU,
    // zero spill) summing DECIMAL(28,2) through the non-long-backed
    // object path — not in the SMJs the earlier reading suspected. The
    // revenue term DECIMAL(18,2) × DECIMAL(3,2) is exactly a multiple
    // of 1e-4, so every aggregation level sums a LONG (≤ 1.1e9 per
    // line, ≤ ~2e17 total at the 300× decade — no overflow) and ONE
    // decimal rescale at the end (DECIMAL(38,0)/10000 → DECIMAL(38,6),
    // exact, then a single cast to double) reproduces the oracle's
    // decimal→double rounding bit-exactly.
    val revE4 = (dec2(col("l_extendedprice")) * lit(100)).cast("long") *
      (lit(100L) - (dec2(col("l_discount")) * lit(100)).cast("long"))
    lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(revE4).as("_rev"), count(lit(1)).as("_n"))
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("_rev")).as("_rev"), sum(col("_n")).as("_n"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg((sum(col("_rev")).cast("decimal(38,0)") / lit(10000))
        .cast("double").as("revenue"),
        sum(col("_n")).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q5RegionRevenueSql: String =
    s"""SELECT r_name, n_name, CAST(SUM($sqlRev) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** Dim join: `part` scales with the data, so the broadcast decision is
    * left to AQE's runtime statistics rather than a hard hint.
    */
  def joinBroadcastPart(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("p_brand"))

  val joinBroadcastPartSql: String =
    s"""SELECT p_brand, COUNT(*) AS n_items,
       CAST(SUM(${sqlDec2("l_quantity")}) AS DOUBLE) AS sum_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand ORDER BY p_brand"""

  // ------------------------------------------------- E3/E4/E5 windows ----

  def windowTopEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .orderBy(col("user_id"), col("rank"))
  }

  val windowTopEventsSql: String =
    """SELECT user_id, event_id, value, rank FROM (
         SELECT user_id, event_id, value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
             AS BIGINT) AS rank
         FROM events) WHERE rank <= 3 ORDER BY user_id, rank"""

  /** Same result as `window_top_events` computed by the custom
    * TopKPerKeyExec physical operator (budget-flushed bounded-heap prune
    * below the exchange, spill-safe sorted streaming take-k above — never
    * a full per-key sort of the corpus) — the window-formulation SQL is
    * its oracle.
    */
  def topkPerKey(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topK(
        events(s, dir).select(col("user_id"), col("event_id"), col("value")),
        keys = Seq("user_id"),
        order = Seq("value" -> "desc", "event_id" -> "asc"), k = 3)
      .orderBy(col("user_id"), col("value").desc, col("event_id"))

  val topkPerKeySql: String =
    """SELECT user_id, event_id, value FROM (
         SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
             AS rn
         FROM events) WHERE rn <= 3
       ORDER BY user_id, value DESC, event_id"""

  /** The E4 session build: events as (user_id, event_id, `extra`…, t_us)
    * with each user's running session index `session_idx`; a gap above
    * [[StatefulSessionize.GapUs]] opens a new session. One user shuffle.
    */
  private def sessionMarked(s: SparkSession, dir: String,
      extra: String*): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    events(s, dir)
      .select((Seq("user_id", "event_id") ++ extra).map(col) :+
        unix_micros(col("ts")).as("t_us"): _*)
      .withColumn("prev_us", lag(col("t_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("t_us") - col("prev_us") > StatefulSessionize.GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Each E4 session's first and last event time (`s_us`, `e_us`). */
  private def sessionSpans(s: SparkSession, dir: String): DataFrame =
    sessionMarked(s, dir)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("t_us")).as("s_us"), max(col("t_us")).as("e_us"))

  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionMarked(s, dir)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_idx"))

  /** `marked`: the E4 session build in SQL — `outer` over events (`inner`
    * plus t_us) with each user's running `session_idx`, a gap over 30
    * minutes opening a session; `tie` follows the event time in every
    * ORDER BY.
    */
  private def sessMarkedSql(outer: String = "user_id, t_us",
      inner: String = "user_id, event_id",
      tie: String = ", event_id"): String =
    s"""marked AS (
         SELECT $outer,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us$tie
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         FROM (
           SELECT $inner, epoch_us(ts) AS t_us,
             CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts)$tie) IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY
                 user_id ORDER BY epoch_us(ts)$tie) > 1800000000
             THEN 1 ELSE 0 END AS new_sess
           FROM events))"""

  val sessionizeSql: String =
    """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(t_us) AS start_us, MAX(t_us) AS end_us
       FROM (
         SELECT user_id, t_us,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         FROM (
           SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CASE WHEN lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM events))
       GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""

  def rollupOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))

  val rollupOrdersSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
       ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""

  def distinctUsersDaily(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(dayBucket(col("ts")).as("bucket"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("bucket"))

  val distinctUsersDailySql: String =
    """SELECT epoch_us(ts) // 86400000000 AS bucket,
       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Sketch-based distinct (HyperLogLog++ at rsd 0.02). The estimate itself
    * is not reproducible in another engine, so the oracle checks the
    * sketch's *error contract*: |approx − exact| ≤ 5% of exact (measured
    * max rel. error 1.4% across SFs — 3.5× headroom). One `distinct`
    * shuffle feeds both sides: HLL is multiset-insensitive, so running it
    * over the deduplicated (bucket, user) pairs gives the same estimate as
    * over the raw events while halving the aggregation work.
    */
  def approxDistinctUsers(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(dayBucket(col("ts")).as("bucket"), col("user_id"))
      .distinct()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .select(col("bucket"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double")
          <= lit(0.05) * col("exact_users").cast("double")).as("approx_ok"))
      .orderBy(col("bucket"))

  val approxDistinctUsersSql: String =
    """SELECT epoch_us(ts) // 86400000000 AS bucket,
       COUNT(DISTINCT user_id) AS exact_users, true AS approx_ok
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Sketch-based percentiles (Greenwald-Khanna via `percentile_approx`).
    * Like the HLL query, the sketch itself is engine-specific, so the
    * oracle checks the *rank-error contract*: the approximate p-quantile
    * must lie within the exact [p−ε, p+ε] quantile band (ε = 1/accuracy
    * ≪ the 0.05 band used here).
    */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    def exact(p: Double) = expr(s"percentile(value, $p)")
    def approxP(p: Double) = expr(s"percentile_approx(value, $p, 1000)")
    def okFlag(p: Double) =
      approxP(p) >= exact(p - 0.05) && approxP(p) <= exact(p + 0.05)
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), okFlag(0.5).as("p50_ok"),
        okFlag(0.9).as("p90_ok"))
      .orderBy(col("event_type"))
  }

  val approxPercentilesSql: String =
    """SELECT event_type, COUNT(*) AS n, true AS p50_ok, true AS p90_ok
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Exact interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the (p·(n−1)) linear-interpolation definition;
    * bit-equality verified by the oracle compare.
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val valuePercentilesSql: String =
    """SELECT event_type, quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90, COUNT(*) AS n
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Edit-distance near-dup pairs over the FULL corpus, lang-blocked —
    * `Dedup.levenshteinPairs`: length-banded candidates (structural recall:
    * dist ≤ d ⇒ |Δlen| ≤ d ⇒ same/adjacent band) verified by the native
    * banded-DP kernel. The distance is byte-level UTF-8 — exactly the
    * oracle engine's `levenshtein` semantics (measured there:
    * `levenshtein('a','ä') = 2`), identical to character distance on
    * ASCII; the oracle's all-pairs formulation carries the implied
    * |Δbytes| ≤ d prefilter so it stays tractable.
    */
  def dedupLevenshtein(s: SparkSession, dir: String): DataFrame =
    Dedup.levenshteinPairs(documents(s, dir), col("doc_id"), col("text"),
      block = col("lang"), maxDist = 60)
      .orderBy(col("id_a"), col("id_b"))

  val dedupLevenshteinSql: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
       FROM documents a JOIN documents b
         ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND abs(strlen(a.text) - strlen(b.text)) <= 60
       WHERE levenshtein(a.text, b.text) <= 60
       ORDER BY id_a, id_b"""

  /** Component assignment over the edit-distance near-dup graph — the
    * LINEAR consumer of the L4b family (the `dedup_clusters` move): the
    * pair-LIST contract of `dedup_levenshtein` is owed-quadratic in the
    * duplication factor, but cluster assignment needs CONNECTIVITY only,
    * so it consumes `Dedup.levenshteinEdges` (star edges per verbatim
    * group + one edge per rep pair — |edges| linear in corpus size) and
    * no cluster-level consumer ever has to eat the clique expansion.
    * Identical roots to clustering the full pair list (equivalence in
    * the Dedup scaladoc); oracle = recursive-CTE components over the
    * exact all-pairs edit-distance truth.
    */
  def dedupLevenshteinClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val edges = Dedup.levenshteinEdges(docs, col("doc_id"), col("text"),
      block = col("lang"), maxDist = 60)
    Dedup.clusters(docs.select(col("doc_id").as("id")), edges)
      .orderBy(col("id"))
  }

  /** Connected components in SQL over a `pairs(id_a, id_b)` CTE:
    * symmetric `edges`, then `reach(id, root)` from every `id` of `table`
    * along them. An id's component is its MIN(root).
    */
  private def reachSql(id: String, table: String): String =
    s"""edges AS (
         SELECT id_a AS src, id_b AS dst FROM pairs
         UNION ALL
         SELECT id_b AS src, id_a AS dst FROM pairs),
       reach(id, root) AS (
         SELECT $id, $id FROM $table
         UNION
         SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id)"""

  /** (id, root) per id of `table` over the `pairs` CTE that `ctes` ends
    * with.
    */
  private def componentsSql(ctes: String, id: String,
      table: String): String =
    s"""WITH RECURSIVE
       $ctes,
       ${reachSql(id, table)}
       SELECT id, MIN(root) AS root FROM reach GROUP BY id ORDER BY id"""

  val dedupLevenshteinClustersSql: String =
    componentsSql("""pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM documents a JOIN documents b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
           AND abs(strlen(a.text) - strlen(b.text)) <= 60
         WHERE levenshtein(a.text, b.text) <= 60)""", "doc_id", "documents")

  // --------------------------------------- pivot / cube / semi-anti ------

  /** Day × event_type pivot of decimal-exact value sums. */
  def pivotEventValues(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, dir)
      .groupBy(dayBucket(col("ts")).as("bucket"))
      .pivot("event_type", types)
      .agg(sum(dec2(col("value"))).cast("double"))
      .select(col("bucket") +: types.map(t => col(t).as(s"sum_$t")): _*)
      .orderBy(col("bucket"))
  }

  val pivotEventValuesSql: String = {
    val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
      s"""CAST(SUM(CASE WHEN event_type = '$t'
          THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_$t""")
      .mkString(",\n       ")
    s"""SELECT epoch_us(ts) // 86400000000 AS bucket,
       $cols
       FROM events GROUP BY 1 ORDER BY 1"""
  }

  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))

  val cubeOrdersSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
       ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""

  /** Semi/anti join surface: customers that do / don't have urgent orders. */
  def semiAntiCustomers(s: SparkSession, dir: String): DataFrame = {
    val urgent = orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val c = customer(s, dir)
    val semi = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_urgent").as("kind"))
    val anti = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_urgent").as("kind"))
    semi.unionByName(anti).orderBy(col("c_custkey"), col("kind"))
  }

  val semiAntiCustomersSql: String =
    """SELECT c_custkey, kind FROM (
         SELECT c_custkey, 'has_urgent' AS kind FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT c_custkey, 'no_urgent' AS kind FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
       ORDER BY c_custkey, kind"""

  // ------------------------------------------------------- as-of join ----

  /** Attribution-style as-of join: each error event picks up the latest
    * preceding click of the same user. Oracle: DuckDB's native ASOF LEFT
    * JOIN over the identically tie-reduced right side.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val l = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    val r = ev.where(col("event_type") === "click")
    AsOfJoin.asOf(l, col("user_id"), col("t_us"),
        r, col("user_id"), unix_micros(col("ts")),
        payload = Seq("click_event_id" -> col("event_id"),
          "click_value" -> col("value")))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """WITH r AS (
         SELECT user_id, epoch_us(ts) AS t,
                MAX(event_id) AS click_event_id,
                arg_max(value, event_id) AS click_value
         FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
              r.click_event_id AS right_click_event_id,
              r.click_value AS right_click_value
       FROM (SELECT * FROM events WHERE event_type = 'error') l
       ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) >= r.t
       ORDER BY l.event_id"""

  /** E13's build-once/probe-many form, REGISTERED (E13c): the click
    * dimension packs to one time-sorted version array per user
    * ([[AsOfJoin.packDim]]) written bucketed+sorted on the key — the E16
    * layout the E36b streaming enrichment probes every microbatch — and
    * the error events probe it via [[AsOfJoin.asOfPacked]] with ZERO
    * dim-side exchange or sort (BucketingSpec asserts the plan shape).
    * Must hash-match the asof_join oracle exactly; executed inside the
    * pinned-conf window so the restore can't re-plan it.
    */
  def asofPackedQ(s: SparkSession, dir: String): DataFrame = {
    Sinks.dropManagedTable(s, "graft_asof_packed_q")
    val ev = events(s, dir)
    // bucket count scales with input (GraftSession.bucketsFor): the
    // bucketed layout is the probe's parallelism ceiling, and the fixed
    // 8 this used to hardcode read 5.3x per 3.33x data at the 1000x
    // decade — the dim write AND the zero-exchange probe both ran
    // 8-way on a 32-core box
    val buckets = GraftSession.bucketsFor(
      s.sparkContext.defaultParallelism, GraftSession.inputBytes(dir))
    AsOfJoin.packDim(ev.where(col("event_type") === "click"),
        col("user_id"), unix_micros(col("ts")),
        Seq("click_event_id" -> col("event_id"),
          "click_value" -> col("value")))
      .repartition(buckets, col("_k"))
      .write.bucketBy(buckets, "_k").sortBy("_k")
      .mode("overwrite").saveAsTable("graft_asof_packed_q")
    val l = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"))
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prevOrd = s.conf.get(ordKey)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(ordKey, "true")
    try AsOfJoin.asOfPacked(l, col("user_id"), col("t_us"),
        s.table("graft_asof_packed_q"))
      .orderBy(col("event_id"))
      .localCheckpoint(true)
    finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      s.conf.set(ordKey, prevOrd)
    }
  }

  val asofPackedSql: String = asofJoinSql

  // ----------------------------------------------------- L1 exact dedup --

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("fp"))

  val dedupExactSql: String =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
       FROM documents GROUP BY 1 ORDER BY fp"""

  def dedupExactNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.exactNormalized(documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("fp"))

  /** The oracle's normalize must mirror TextAnalysis.normalize exactly
    * (DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all).
    */
  val normalizeSql: String =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g'))"""

  val dedupExactNormalizedSql: String =
    s"""SELECT md5($normalizeSql) AS fp, MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_count
       FROM documents GROUP BY 1 ORDER BY fp"""

  // ------------------------------------------------- L2/L4 shingle dedup --

  /** DuckDB shingle construction mirroring Dedup.shingles(n=3). */
  private val shingleSql: String =
    s"""list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
              for i in range(1, len(w) - 1)] END)"""

  private val shingleSrcSql: String =
    s"SELECT doc_id, lang, string_split($normalizeSql, ' ') AS w FROM documents"

  private val jaccardSql: String =
    """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)"""

  def dedupJaccardExact(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(documents(s, dir), col("doc_id"), col("text"),
      block = col("lang"), threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val dedupJaccardExactSql: String =
    s"""WITH s AS (SELECT doc_id, lang, $shingleSql AS sh
         FROM ($shingleSrcSql))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jac
       FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
       WHERE $jaccardSql >= 0.5
       ORDER BY id_a, id_b"""

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(documents(s, dir), col("doc_id"), col("text"),
      threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** LSH recall at J≥0.5 with 16 bands × 4 rows is ~1 on the bimodal test
    * corpus (all true pairs are J≥0.9; miss prob < 1e-7 per pair) — so the
    * exact-Jaccard truth is the oracle (SURVEY §6).
    */
  val dedupMinhashSql: String =
    s"""WITH s AS (SELECT doc_id, lang, $shingleSql AS sh
         FROM ($shingleSrcSql))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jac
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE $jaccardSql >= 0.5
       ORDER BY id_a, id_b"""

  /** `s`, each doc's shingle set, and `pairs` of docs with `a.doc_id <
    * b.doc_id` whose Jaccard is at least 0.5; `block` prefixes the join.
    */
  private def shinglePairsSql(block: String,
      where: String = s"$jaccardSql >= 0.5"): String =
    s"""s AS (SELECT doc_id, lang, $shingleSql AS sh FROM ($shingleSrcSql)),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM s a JOIN s b ON ${block}a.doc_id < b.doc_id
         WHERE $where)"""

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // minhashEdges, not minhashPairs: components need CONNECTIVITY, not
    // the full pair list — star edges keep the edge set linear in corpus
    // size on duplicate-heavy data (identical roots, see Dedup scaladoc)
    val edges = Dedup.minhashEdges(docs, col("doc_id"), col("text"),
      threshold = 0.5)
    Dedup.clusters(docs.select(col("doc_id").as("id")), edges)
      .orderBy(col("id"))
  }

  /** Oracle: connected components of the exact-Jaccard ≥ θ pair graph via a
    * recursive CTE (min reachable id per doc).
    */
  val dedupClustersSql: String =
    componentsSql(shinglePairsSql(""), "doc_id", "documents")

  /** SimHash-LSH near-dup dedup, exact-verified. The banded + 1-bit
    * multiprobe candidate generation guarantees recall for hamming ≤ 15
    * (pigeonhole), and every true J≥0.5 pair in the corpus sits well inside
    * that budget (measured max: 5 at sf0.01) — so the exact-Jaccard truth
    * is the oracle, exactly as for `dedup_minhash`. That equivalence is
    * DATA-dependent (the hamming budget is measured, not structural, for
    * true pairs): DedupSpec's "simhash recall budget" test asserts the
    * measured bound per corpus, so an oracle mismatch on future data
    * diagnoses as a recall-budget breach rather than a query bug.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(documents(s, dir), col("doc_id"), col("text"),
      threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val dedupSimhashSql: String = dedupMinhashSql

  // -------------------------------------------- L5/L6 embedding dedup/ANN --

  /** DuckDB cosine mirroring Similarity.cosine: widen to double, left-fold. */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(list_reduce(list_transform(range(1, len($a) + 1),
             i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(range(1, len($b) + 1),
             i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y))))"""

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(embeddings(s, dir), col("vec_id"), col("embedding"),
      threshold = 0.46)
      .orderBy(col("id_a"), col("id_b"))

  val dedupEmbeddingSql: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ${cosSql("a.embedding", "b.embedding")} AS cos
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.46
       ORDER BY id_a, id_b"""

  /** The 100 TB embedding-dedup path: hyperplane sign-LSH candidate
    * generation + exact cosine verification (`Similarity.lshCosinePairs`).
    * Oracle = the exact all-pairs truth, valid because the plane/table
    * parameters give total measured recall on this corpus with a 3.5e-5
    * per-pair miss bound at the worst true pair — the same
    * data-dependent-recall contract as `dedup_simhash` (an oracle
    * mismatch on different data diagnoses as a recall-budget breach, not
    * a scoring bug; false positives are impossible past the verify).
    */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshCosinePairs(embeddings(s, dir), col("vec_id"),
      col("embedding"), threshold = 0.46)
      .orderBy(col("id_a"), col("id_b"))

  val dedupEmbeddingLshSql: String = dedupEmbeddingSql

  /** Cluster assignment over the EMBEDDING near-dup graph — the LSH scale
    * path's pairs fed through the same min-label-propagation components as
    * the text `dedup_clusters`, proving the two scale paths compose
    * ("keep one per semantic cluster" = `where id = root`). Oracle =
    * recursive-CTE components over the exact-cosine pair truth.
    */
  def dedupEmbeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    // lshCosineEdges, not lshCosinePairs: components need CONNECTIVITY
    // only — star edges keep the edge set linear on duplicate-heavy
    // corpora (identical roots; see Similarity scaladoc)
    val edges = Similarity.lshCosineEdges(e, col("vec_id"),
      col("embedding"), threshold = 0.46)
    Dedup.clusters(e.select(col("vec_id").as("id")), edges)
      .orderBy(col("id"))
  }

  val dedupEmbeddingClustersSql: String =
    componentsSql(s"""pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.46)""",
      "vec_id", "embeddings")

  /** IVF-cell ANN. Centroid seeding is deterministic (the 16 lowest-id
    * vectors), so the entire index build — cell assignment, probe choice,
    * in-cell search — replays in the oracle as SQL over the same cosine
    * expression; ties broken by cell/neighbor id in both engines.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    IvfIndex.annTopK(e.where(col("id") < 10), e, k = 5, nCells = 16, nprobe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Each query's 5 best (query_id, neighbor_id, cos) rows of `from`,
    * ranked by cosine, ties to the lower neighbor id.
    */
  private def top5Sql(from: String): String =
    s"""SELECT query_id, neighbor_id, cos, rank FROM (
         SELECT query_id, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         FROM $from)
       WHERE rank <= 5 ORDER BY query_id, rank"""

  /** `name`: every embedding's argmax-cosine cell under the centroids
    * `cent(cell, c_vec)`, ties to the lower cell.
    */
  private def ivfAssignSql(name: String, cent: String): String =
    s"""$name AS (
         SELECT vec_id, embedding, cell FROM (
           SELECT e.vec_id, e.embedding, c.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.cell)
               AS rn
           FROM embeddings e CROSS JOIN $cent c)
         WHERE rn = 1)"""

  /** `probes`: the 4 best cells under `cent` of each query vector (the
    * embeddings with vec_id below `nQuery`).
    */
  private def ivfProbesSql(cent: String, nQuery: Int): String =
    s"""probes AS (
         SELECT query_id, q_vec, cell FROM (
           SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cell,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.embedding", "c.c_vec")} DESC, c.cell)
               AS rn
           FROM embeddings q CROSS JOIN $cent c WHERE q.vec_id < $nQuery)
         WHERE rn <= 4)"""

  /** IVF top-5 search of the first 10 vectors under `cent`: assignment,
    * probes, in-cell cosine and the ranked neighbors.
    */
  private def annIvfSearchSql(cent: String): String =
    s"""${ivfAssignSql("assign", cent)},
       ${ivfProbesSql(cent, 10)},
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id,
           ${cosSql("p.q_vec", "a.embedding")} AS cos
         FROM probes p JOIN assign a
           ON p.cell = a.cell AND a.vec_id != p.query_id)
       ${top5Sql("cand")}"""

  val annIvfSql: String =
    s"""WITH cent AS (
         SELECT vec_id AS cell, embedding AS c_vec FROM embeddings
         WHERE vec_id < 16),
       ${annIvfSearchSql("cent")}"""

  /** IVF-cell ANN over a Lloyd-REFINED index (`IvfIndex.refine`: 2
    * deterministic k-means rounds over the seeded centroids, cells keep
    * their seed ids, an emptied cell keeps its previous centroid).
    * Refinement only moves cell BOUNDARIES — in-cell search stays exact —
    * so the oracle replays the whole algorithm: the two rounds unroll as
    * CTE pairs (argmax assignment → per-dimension means), then probe
    * + search against the final centroids with the same left-fold cosine.
    * Double summation is non-associative, so "both engines average the
    * same member set" is NOT enough for bit-equality — both sides
    * therefore compute each (cell, dim) mean as a sequential left fold
    * over the members in id order (`orderedMeans = true` on the Spark
    * side, `list(… ORDER BY vec_id)` + `list_reduce` in the oracle),
    * making every centroid — and every discrete cell/probe decision
    * downstream of an argmax over them — deterministic and
    * engine-independent. Production refinement keeps the O(1)-state
    * `avg()` path; see [[graft.operators.IvfIndex.refine]].
    */
  def annIvfRefined(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cent = IvfIndex.refine(e, nCells = 16, rounds = 2,
      orderedMeans = true)
    IvfIndex.annTopKWith(e.where(col("id") < 10), e, k = 5, nprobe = 4, cent)
      .orderBy(col("query_id"), col("rank"))
  }

  val annIvfRefinedSql: String = {
    val dims = 64
    // one Lloyd round: argmax assignment under the previous centroids,
    // then per-(cell, dim) member means folded back into a list (cells
    // with no members keep the previous centroid via the left join)
    def round(prev: String, a: String, m: String, next: String): String =
      s"""${ivfAssignSql(a, prev)},
       $m AS (
         SELECT a.cell, d.d AS dim,
           list_reduce(
             [0.0] || list(CAST(a.embedding[d.d] AS DOUBLE)
               ORDER BY a.vec_id),
             (x, y) -> x + y) / COUNT(*) AS m
         FROM $a a CROSS JOIN range(1, ${dims + 1}) d(d)
         GROUP BY a.cell, d.d),
       $next AS (
         SELECT c.cell, COALESCE(l.mv, c.c_vec) AS c_vec
         FROM $prev c LEFT JOIN (
           SELECT cell, list(m ORDER BY dim) AS mv FROM $m GROUP BY cell
         ) l USING (cell))"""
    s"""WITH cent0 AS (
         SELECT vec_id AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_vec
         FROM embeddings WHERE vec_id < 16),
       ${round("cent0", "a0", "m0", "cent1")},
       ${round("cent1", "a1", "m1", "cent2")},
       ${annIvfSearchSql("cent2")}"""
  }

  /** The L6 ANN scale path, oracle-gated: `Similarity.annTopKLsh` bucket
    * candidates + exact re-rank. Like `ann_ivf`, the deterministic index
    * (splitmix64 Rademacher planes) makes the WHOLE algorithm replayable
    * as SQL — the oracle embeds the 60 plane weight vectors as literals,
    * recomputes every table's sign-bucket per vector, joins on any-table
    * bucket equality, and re-ranks with the identical left-fold cosine.
    * So the compare gates the candidate structure exactly, independent of
    * recall (both engines see the same candidate set by construction).
    */
  def annTopkLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.annTopKLsh(e.where(col("id") < 10), e, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val annTopkLshSql: String = {
    val nPlanes = 10; val tables = 6; val dims = 64
    val w = graft.functions.LshPlanes.weights(nPlanes * tables, dims)
    def proj(vec: String, p: Int): String = {
      val lits = (0 until dims)
        .map(d => if (w(p * dims + d) > 0) "1.0" else "-1.0").mkString(",")
      s"""list_reduce(list_transform(range(1, ${dims + 1}),
          i -> CAST($vec[i] AS DOUBLE) * ([$lits])[i]), (x, y) -> x + y)"""
    }
    def bucket(vec: String, t: Int): String =
      (0 until nPlanes).map(p =>
        s"(CASE WHEN ${proj(vec, t * nPlanes + p)} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
    val bCols = (0 until tables)
      .map(t => s"(${bucket("embedding", t)}) AS bk$t").mkString(",\n         ")
    val orCond = (0 until tables).map(t => s"q.bk$t = c.bk$t").mkString(" OR ")
    s"""WITH b AS (
         SELECT vec_id, embedding,
         $bCols
         FROM embeddings),
       cand AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ${cosSql("q.embedding", "c.embedding")} AS cos
         FROM b q JOIN b c ON c.vec_id != q.vec_id AND ($orCond)
         WHERE q.vec_id < 10)
       ${top5Sql("cand")}"""
  }

  def annTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bruteForceTopK(e.where(col("id") < 10), e, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val annTopkSql: String =
    top5Sql(s"""(
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${cosSql("q.embedding", "c.embedding")} AS cos
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 10)""")

  /** ANN over int8-QUANTIZED embeddings (operators/Quantize.scala): the
    * retrieval-scale memory move — 4× smaller vectors, integer dot
    * products — run as the same broadcast-queries + TopKPerKey shape as
    * `ann_topk`. Quantized scores are integer-exact until one final
    * double division, so the oracle replays them bit-identically; the
    * rank-5 lists land within one code of the full-precision lists on
    * this corpus (the quantization-error contract SimilaritySpec pins).
    */
  def annTopkQ8(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val q8 = embeddings(s, dir)
      .select(col("vec_id"), Quantize.int8Codes(col("embedding")).as("q"))
    val q = q8.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    val c = q8.select(col("vec_id").as("neighbor_id"), col("q").as("qb"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Quantize.qcos(col("qa"), col("qb")).as("qcos"))
    val top = graft.plans.TopKPerKey.topK(scored, keys = Seq("query_id"),
      order = Seq("qcos" -> "desc", "neighbor_id" -> "asc"), k = 5)
    // rank over the ≤ 5 surviving rows per query (bounded window)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("qcos").desc, col("neighbor_id").asc)).cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def qdotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
        i -> $a[i] * $b[i]), (x, y) -> x + y)"""

  val annTopkQ8Sql: String = {
    val qcos = s"""CAST(${qdotSql("a.q", "b.q")} AS DOUBLE)
        / (sqrt(CAST(${qdotSql("a.q", "a.q")} AS DOUBLE))
         * sqrt(CAST(${qdotSql("b.q", "b.q")} AS DOUBLE)))"""
    s"""WITH qz AS (
         SELECT vec_id,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
             / 127.0 AS scale,
           embedding
         FROM embeddings),
       qv AS (
         SELECT vec_id, list_transform(embedding, x -> CASE WHEN scale = 0
             THEN CAST(0 AS BIGINT)
             ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT) END) AS q
         FROM qz)
       SELECT query_id, neighbor_id, qcos, rank FROM (
         SELECT query_id, neighbor_id, qcos,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rank
         FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             $qcos AS qcos
           FROM qv a JOIN qv b ON b.vec_id != a.vec_id
           WHERE a.vec_id < 10))
       WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** kNN label propagation — assign each unlabeled vector the label of its
    * nearest labeled neighbor, the retrieval-based labeling/curation pass
    * (domain tagging, weak supervision) every embedding-equipped pipeline
    * runs. Here: vec_id < 50 take their top-1 cosine neighbor's label from
    * the labeled remainder. Scale shape: the SMALL side (the 50 unlabeled
    * queries) broadcasts against the streaming labeled-corpus scan —
    * the corpus never shuffles — and the per-query argmax runs through
    * the bounded-heap TopKPerKey, so each map partition ships one row per
    * query, not corpus×query scores. At query-set scale the candidate
    * generation swaps to the IVF/LSH paths exactly as
    * `ann_ivf`/`ann_topk_lsh` do — same contract, same oracle shape.
    */
  def knnLabel(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") < 50)
      .select(col("vec_id").as("vec_id_q"), col("embedding").as("q_vec"))
    val c = e.where(col("vec_id") >= 50)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"),
        col("label").cast("long").as("pred_label"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("vec_id_q").as("vec_id"), col("neighbor_id"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("cos"),
        col("pred_label"))
    graft.plans.TopKPerKey.topK(scored, keys = Seq("vec_id"),
        order = Seq("cos" -> "desc", "neighbor_id" -> "asc"), k = 1)
      .orderBy(col("vec_id"))
  }

  val knnLabelSql: String =
    s"""SELECT vec_id, neighbor_id, cos, pred_label FROM (
         SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
           ${cosSql("q.embedding", "c.embedding")} AS cos,
           CAST(c.label AS BIGINT) AS pred_label,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id)
             AS rn
         FROM embeddings q JOIN embeddings c ON c.vec_id >= 50
         WHERE q.vec_id < 50)
       WHERE rn = 1 ORDER BY vec_id"""

  /** kNN label propagation through the IVF candidate path — the
    * large-unlabeled-set regime `knn_label` (the brute baseline above)
    * doesn't demonstrate: candidates come from the `cell` equi-join, not
    * a corpus×query crossJoin, so the query side may be corpus-sized. The
    * deterministic index build (16 lowest-id labeled vectors as seeds)
    * makes the whole algorithm — assignment argmax, probe choice, in-cell
    * argmax — replayable as SQL, like `ann_ivf`. Same output contract as
    * `knn_label`; rows where every probed cell is empty drop, which is
    * the IVF recall contract and replays identically in the oracle.
    */
  def knnLabelIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") < 50)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val c = e.where(col("vec_id") >= 50)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").cast("long").as("label"))
    IvfIndex.knnLabel(q, c, "label", nCells = 16, nprobe = 4)
      .withColumnRenamed("query_id", "vec_id")
      .orderBy(col("vec_id"))
  }

  val knnLabelIvfSql: String =
    s"""WITH cent AS (
         SELECT vec_id AS cell, embedding AS c_vec FROM embeddings
         WHERE vec_id >= 50 ORDER BY vec_id LIMIT 16),
       assign AS (
         SELECT vec_id, embedding, label, cell FROM (
           SELECT e.vec_id, e.embedding, e.label, c.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.cell)
               AS rn
           FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 50)
         WHERE rn = 1),
       ${ivfProbesSql("cent", 50)},
       cand AS (
         SELECT p.query_id AS vec_id, a.vec_id AS neighbor_id,
           ${cosSql("p.q_vec", "a.embedding")} AS cos,
           CAST(a.label AS BIGINT) AS pred_label
         FROM probes p JOIN assign a ON p.cell = a.cell)
       SELECT vec_id, neighbor_id, cos, pred_label FROM (
         SELECT vec_id, neighbor_id, cos, pred_label,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, neighbor_id) AS rn
         FROM cand)
       WHERE rn = 1 ORDER BY vec_id"""

  /** Semi-structured JSON column handling: schema'd `from_json` extraction
    * of the events `props` payload inside the aggregation pipeline — the
    * "logs carry a JSON blob" shape. The parse is a narrow map fused into
    * the scan stage; only the extracted integer survives to the shuffle,
    * so the JSON text never moves through an exchange.
    */
  def jsonExtractAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_count"),
        max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  val jsonExtractAggSql: String =
    """SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(CAST(props->>'$.k' AS BIGINT)) AS k_count,
       CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max
       FROM events GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------ L8-L11 text analysis --

  def textStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextAnalysis.wordCount(col("text")).cast("long")).as("sum_words"),
        sum(TextAnalysis.bpeTokenCount(col("text")).cast("long")).as("sum_bpe"))
      .orderBy(col("lang"), col("source"))

  val textStatsSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_words,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
         AS BIGINT) AS sum_bpe
       FROM documents GROUP BY lang, source ORDER BY lang, source"""

  /** Source-mixture reweighting at temperature α = 1/2 — the standard
    * training-mix curation step (smooth the source distribution toward
    * uniform: `w_d ∝ p_d^α` downweights dominant sources, upweights the
    * tail; the Pile/LLaMA-style mix table). α is FIXED at 1/2 because
    * IEEE 754 requires sqrt to be correctly rounded (pow is not — libm
    * implementations differ in the last ulp), and the cross-source
    * normalizing sum rides the E63 integer-quantization discipline —
    * q_d = ⌊2²⁰·√p_d⌋ per source, Σq exact BIGINT in both engines — so
    * every emitted double is a single fixed-shape division over
    * identical integers, never a float accumulation. Output per source:
    * doc/token counts, token share p_d, smoothed normalized weight w_d,
    * and the sampling multiplier w_d/p_d (> 1 ⇒ oversample this source
    * when drawing the training mix).
    *
    * Scale shape: one map-side-combining aggregate to |sources| rows;
    * the normalizing total is a broadcast one-row cross join. Nothing
    * else shuffles — linear at any corpus size.
    */
  def domainMixture(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint pins the |sources|-row aggregate so the THREE
    // downstream consumers (tot, qtot, the final select) read the tiny
    // materialized result instead of re-deriving it — without it, column
    // pruning narrows tot's copy of the aggregate (sum-only vs
    // count+sum), the subtrees stop canonicalizing equal, stage reuse
    // misses, and the corpus gets scanned + tokenized TWICE (read off
    // the r18 plan dump — the span-family reuse lesson in miniature)
    val per = documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.wordCount(col("text")).cast("long")).as("n_tokens"))
      .localCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("tot")).select(col("tot"))
    val q = floor(lit(1048576.0) *
      sqrt(col("n_tokens").cast("double") / col("tot").cast("double")))
      .cast("long")
    val withQ = per.crossJoin(broadcast(tot)).withColumn("q", q)
    val qtot = withQ.agg(sum(col("q")).as("qtot")).select(col("qtot"))
    withQ.crossJoin(broadcast(qtot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot").cast("double"))
          .as("tok_share"),
        (col("q").cast("double") / col("qtot").cast("double")).as("weight"),
        ((col("q").cast("double") / col("qtot").cast("double")) /
          (col("n_tokens").cast("double") / col("tot").cast("double")))
          .as("multiplier"))
      // nulls-last matches DuckDB's ASC default; Spark's nulls-first
      // would flip the row order of a NULL source group
      .orderBy(col("source").asc_nulls_last)
  }

  val domainMixtureSql: String =
    """WITH per AS (
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
             AS n_tokens
         FROM documents GROUP BY source),
       tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per),
       wq AS (
         SELECT per.*, tot.tot,
           CAST(FLOOR(1048576.0 *
             sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)))
             AS BIGINT) AS q
         FROM per, tot),
       qt AS (SELECT CAST(SUM(q) AS BIGINT) AS qtot FROM wq)
       SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS tok_share,
         CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE) AS weight,
         (CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE)) /
           (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS multiplier
       FROM wq, qt ORDER BY source"""

  def textTokens(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 50)
      .select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).cast("long").as("words"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("chars"))
      .orderBy(col("doc_id"))

  val textTokensSql: String =
    """SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS words,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
         AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS chars
       FROM documents WHERE doc_id < 50 ORDER BY doc_id"""

  /** L10 token budgeting under the REAL merges table (`graft/bpe_merges
    * .txt`, trained deterministically by `graft.BpeTrain`, GPT-2
    * merges.txt format): per-doc pre-token and true-BPE token counts.
    * The oracle replays the entire tokenizer in DuckDB — the merges embed
    * as a VALUES table and a recursive CTE applies them in rank order to
    * every distinct word (see [[bpeReplaySql]] for the symbol-aligned
    * encoding and its soundness argument).
    */
  def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        graft.functions.QualityFunctions.bpeCount(col("text"))
          .as("n_pretokens"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text"))
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Shared DuckDB tokenizer-replay CTEs (`merges`, `steps`, `enc`) over a
    * preceding `words(w)` CTE of distinct multi-char alphanumeric
    * pre-tokens.
    *
    * Symbol-aligned encoding: every symbol is delimited on BOTH sides
    * with chr(31), so k symbols render as `•s1••s2•…•sk•` (one separator
    * at each end, two between adjacent symbols). A merge (l,r) replaces
    * the pattern `•l••r•` with `•lr•`, which preserves that invariant and
    * can ONLY match whole symbols: l and r contain no separator, a
    * separator occurs immediately before a character only at a symbol
    * start, and the pattern's middle `••` occurs only between adjacent
    * symbols — so a mid-symbol fragment (e.g. the 'in' inside 'join')
    * never matches. Adjacent occurrences never overlap (each consumes one
    * separator of the interior pair), so one left-to-right `replace()`
    * per rank merges exactly the occurrences the kernel's merge round
    * does, and rank-sequential application equals the encoder's min-rank
    * loop because a trained merge's two sides always form at strictly
    * lower ranks. (The previous single-separator encoding `s1•s2` was
    * unsound: `replace(s, l||•||r, …)` matched across symbol boundaries
    * whenever a symbol ended with l or the next began with r.)
    */
  private lazy val bpeReplaySql: String = {
    val merges = graft.functions.BpeVocab.resourceMerges
    val values = merges.zipWithIndex
      .map { case ((l, r), i) => s"($i,'$l','$r')" }.mkString(",")
    val m = merges.length
    s"""merges(rnk, l, r) AS (VALUES $values),
       steps(w, s, rnk) AS (
         SELECT w, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31),
           'g'), 0
         FROM words
         UNION ALL
         SELECT st.w,
           replace(st.s,
             chr(31) || m.l || chr(31) || chr(31) || m.r || chr(31),
             chr(31) || m.l || m.r || chr(31)),
           st.rnk + 1
         FROM steps st JOIN merges m ON m.rnk = st.rnk),
       wsyms AS (
         SELECT w, list_filter(string_split(s, chr(31)),
           x -> x <> '') AS syms
         FROM steps WHERE rnk = $m),
       enc AS (SELECT w, len(syms) AS ntok FROM wsyms)"""
  }

  /** `toks(key…, w)`: the pre-tokens of `text` per row of `from`; then
    * `words`, their distinct multi-char alphanumeric ones, and the
    * [[bpeReplaySql]] CTEs over those.
    */
  private def bpeWordsSql(key: String, text: String, from: String,
      toks: String = "toks"): String =
    s"""$toks AS (
         SELECT $key, unnest(regexp_extract_all($text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
         FROM $from),
       words AS (
         SELECT DISTINCT w FROM $toks
         WHERE length(w) > 1 AND w SIMILAR TO '[A-Za-z0-9]+'),
       $bpeReplaySql"""

  val textBpeTokensSql: String =
    s"""WITH RECURSIVE
       ${bpeWordsSql("doc_id", "text", "documents")},
       perdoc AS (
         SELECT t.doc_id, COUNT(*) AS n_pre,
           SUM(COALESCE(e.ntok, 1)) AS n_bpe
         FROM toks t LEFT JOIN enc e ON t.w = e.w
         GROUP BY 1)
       SELECT d.doc_id,
         CAST(COALESCE(p.n_pre, 0) AS BIGINT) AS n_pretokens,
         CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
       FROM documents d LEFT JOIN perdoc p USING (doc_id)
       ORDER BY d.doc_id"""

  /** BPE token counts over ID-heavy text (customer names: a word plus a
    * 9-digit zero-padded run) — the surface that actually exercises the
    * vocabulary's DEEP digit-pair merge tree, which `text_bpe_tokens`'
    * 31-word document corpus never touches. Real training corpora are
    * full of identifiers and numbers; how hard the vocabulary compresses
    * them decides the token bill. The oracle replays the full tokenizer
    * over every distinct name with the same symbol-aligned CTE.
    */
  def textBpeNames(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.functions.QualityFunctions.bpeCount(col("c_name"))
          .as("n_pretokens"),
        graft.functions.BpeFunctions.bpeTokenCount(col("c_name"))
          .as("n_bpe_tokens"))
      .orderBy(col("c_custkey"))

  val textBpeNamesSql: String =
    s"""WITH RECURSIVE
       ${bpeWordsSql("c_custkey", "c_name", "customer")},
       percust AS (
         SELECT t.c_custkey, COUNT(*) AS n_pre,
           SUM(COALESCE(e.ntok, 1)) AS n_bpe
         FROM toks t LEFT JOIN enc e ON t.w = e.w
         GROUP BY 1)
       SELECT c.c_custkey,
         CAST(COALESCE(p.n_pre, 0) AS BIGINT) AS n_pretokens,
         CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
       FROM customer c LEFT JOIN percust p USING (c_custkey)
       ORDER BY c.c_custkey"""

  /** L10 tokenizer OUTPUT — the per-doc token-id sequence a training
    * pipeline actually materializes (counts budget it; this writes it).
    * The registered query posexplodes the id array so the oracle compares
    * scalar rows, but the production shape is the array column itself —
    * one narrow codegen map ([[graft.functions.BpeEncode]]), zero
    * shuffles, at any corpus size. Id scheme: single-codepoint symbol →
    * its codepoint; merged symbol → 0x110000 + min(rank) (disjoint
    * ranges — 0x110000 is one past the last Unicode codepoint). The
    * oracle replays the tokenizer with the shared symbol-aligned CTE,
    * expands each word's final symbol LIST with ordinality, and maps
    * symbols to ids with the same min-rank vocab rule.
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 100)
      .select(col("doc_id"),
        posexplode(graft.functions.BpeFunctions.bpeEncode(col("text"))))
      .toDF("doc_id", "pos", "token_id")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id").cast("long").as("token_id"))
      .orderBy(col("doc_id"), col("pos"))

  val textBpeEncodeSql: String =
    s"""WITH RECURSIVE
       docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
       pret AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS arr FROM docs),
       toks AS (
         SELECT doc_id, i AS wpos, arr[i + 1] AS w
         FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM pret)),
       words AS (
         SELECT DISTINCT w FROM toks
         WHERE length(w) > 1 AND w SIMILAR TO '[A-Za-z0-9]+'),
       $bpeReplaySql,
       vocab AS (
         SELECT l || r AS sym, 1114112 + MIN(rnk) AS id
         FROM merges GROUP BY 1),
       persym AS (
         SELECT t.doc_id, t.wpos, COALESCE(ws.syms, [t.w]) AS syms
         FROM toks t LEFT JOIN wsyms ws ON t.w = ws.w),
       flat AS (
         SELECT doc_id, wpos, j AS spos, syms[j + 1] AS sym
         FROM (SELECT doc_id, wpos, syms, unnest(range(len(syms))) AS j
               FROM persym)),
       ids AS (
         SELECT f.doc_id, f.wpos, f.spos,
           CASE WHEN length(f.sym) = 1 THEN unicode(f.sym) ELSE v.id END
             AS tid
         FROM flat f LEFT JOIN vocab v ON f.sym = v.sym)
       SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
           ORDER BY wpos, spos) - 1 AS BIGINT) AS pos,
         CAST(tid AS BIGINT) AS token_id
       FROM ids
       ORDER BY doc_id, pos"""

  def langId(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  /** DuckDB twin of TextAnalysis.langId over a `text` column. */
  private val langExprSql: String = {
    def score(markers: Seq[String]) =
      raw"""len(list_filter(string_split_regex(text, '\s+'),
          x -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], x)))"""
    val sEn = score(Seq("the", "of", "and", "is"))
    val sDe = score(Seq("der", "und", "die", "ist"))
    val sFr = score(Seq("le", "et", "les", "est"))
    val sEs = score(Seq("el", "y", "los", "es"))
    s"""CASE
         WHEN $sEn = greatest($sEn, $sDe, $sFr, $sEs)
           AND greatest($sEn, $sDe, $sFr, $sEs) > 0 THEN 'en'
         WHEN $sDe = greatest($sEn, $sDe, $sFr, $sEs)
           AND greatest($sEn, $sDe, $sFr, $sEs) > 0 THEN 'de'
         WHEN $sFr = greatest($sEn, $sDe, $sFr, $sEs)
           AND greatest($sEn, $sDe, $sFr, $sEs) > 0 THEN 'fr'
         WHEN $sEs = greatest($sEn, $sDe, $sFr, $sEs)
           AND greatest($sEn, $sDe, $sFr, $sEs) > 0 THEN 'es'
         ELSE 'und' END"""
  }

  val langIdSql: String =
    s"""SELECT lang, predicted, COUNT(*) AS n FROM (
         SELECT lang, $langExprSql AS predicted
         FROM documents)
       GROUP BY lang, predicted ORDER BY lang, predicted"""

  def qualityScore(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 100)
      .select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).cast("long").as("words"),
        TextAnalysis.qualityScore(col("text")).as("score"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of TextAnalysis.qualityScore over a `text` column. */
  private val qualityScoreExprSql: String = {
    val words = """len(string_split_regex(text, '\s+'))"""
    val wordsD = s"CAST($words AS DOUBLE)"
    val lengthTerm =
      s"""CASE WHEN $wordsD >= 20 AND $wordsD <= 1000 THEN 1.0
          WHEN $wordsD < 20 THEN $wordsD / 20.0
          ELSE 1000.0 / $wordsD END"""
    val punctRatio =
      raw"""CASE WHEN length(text) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) END"""
    val stopRatio =
      raw"""CASE WHEN $words = 0 THEN 0.0
          ELSE CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> list_contains(['the','a','of','and','to','in','is'], x)))
               AS DOUBLE) / $wordsD END"""
    s"""($lengthTerm) * (1.0 - ($punctRatio))
         * (CASE WHEN ($stopRatio) > 0.01 THEN 1.0 ELSE 0.5 END)"""
  }

  val qualityScoreSql: String =
    s"""SELECT doc_id,
       CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS words,
       $qualityScoreExprSql AS score
       FROM documents WHERE doc_id < 100 ORDER BY doc_id"""

  /** Gopher-style repetition signal: fraction of duplicated word 3-grams
    * (1 − distinct/total). High values flag boilerplate/spam for LLM
    * training-data filtering. int/int doubles throughout.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val words = TextAnalysis.wordCount(TextAnalysis.normalize(col("text")))
    val total = when(words >= 3, words - 2).otherwise(lit(1)).cast("long")
    val distinctSh = size(Dedup.shingles(col("text"), 3)).cast("long")
    documents(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id"), total.as("total_3g"), distinctSh.as("distinct_3g"),
        (lit(1.0) - distinctSh.cast("double") / total.cast("double"))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    s"""SELECT doc_id,
       CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 1 END AS BIGINT)
         AS total_3g,
       CAST(len($shingleSql) AS BIGINT) AS distinct_3g,
       1.0 - CAST(len($shingleSql) AS DOUBLE)
           / CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 1 END AS DOUBLE)
         AS dup_frac
       FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
             FROM documents WHERE doc_id < 200)
       ORDER BY doc_id"""

  /** Cross-doc duplicated-span fractions (operators/SpanDedup.scala):
    * rolling 8-word windows at every offset, shared-by-≥2-docs windows
    * counted per doc — the ExactSubstr-style signal L22's aligned lines
    * quantize away. int/int dup_frac, total ORDER BY.
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanDedup.spanStats(
      documents(s, dir), col("doc_id"), col("text"), n = 8)
      .orderBy(col("doc_id"))

  val spanDedupSql: String =
    s"""WITH base AS (
         SELECT doc_id, string_split($normalizeSql, ' ') AS w
         FROM documents),
       b2 AS (SELECT doc_id, w, len(w) AS nw FROM base),
       wins AS (
         SELECT doc_id, i, md5(array_to_string(w[i+1:i+8], ' ')) AS h
         FROM (SELECT doc_id, w, nw, unnest(range(nw - 7)) AS i
               FROM b2 WHERE nw >= 8)),
       shared AS (
         SELECT h FROM (
           SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
         WHERE nd >= 2),
       dup AS (
         SELECT doc_id, COUNT(*) AS n_dup
         FROM wins JOIN shared USING (h) GROUP BY 1)
       SELECT b2.doc_id,
         CAST(GREATEST(nw - 7, 0) AS BIGINT) AS n_windows,
         CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
         CASE WHEN nw >= 8
           THEN CAST(COALESCE(n_dup, 0) AS DOUBLE) / CAST(nw - 7 AS DOUBLE)
           ELSE 0.0 END AS dup_frac
       FROM b2 LEFT JOIN dup USING (doc_id)
       ORDER BY doc_id"""

  /** Corpus duplicated-span census (operators/SpanDedup.scala): the top
    * shared 8-word spans (≥ 3 distinct docs) with doc/instance counts,
    * heaviest first — the strip-list consumer of the span family (WHICH
    * boilerplate to remove, where `span_dedup` scores how much each doc
    * carries). Total order (span is the group key), deterministic cut.
    */
  def spanCensusQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanDedup.spanCensus(
      documents(s, dir), col("doc_id"), col("text"), n = 8,
      minDocs = 3, k = 100)

  val spanCensusSql: String =
    s"""WITH base AS (
         SELECT doc_id, string_split($normalizeSql, ' ') AS w
         FROM documents),
       b2 AS (SELECT doc_id, w, len(w) AS nw FROM base),
       wins AS (
         SELECT doc_id, array_to_string(w[i+1:i+8], ' ') AS span
         FROM (SELECT doc_id, w, nw, unnest(range(nw - 7)) AS i
               FROM b2 WHERE nw >= 8)),
       agg AS (
         SELECT span, COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_instances
         FROM wins GROUP BY 1)
       SELECT span, CAST(n_docs AS BIGINT) AS n_docs,
         CAST(n_instances AS BIGINT) AS n_instances
       FROM agg WHERE n_docs >= 3
       ORDER BY n_docs DESC, n_instances DESC, span
       LIMIT 100"""

  /** Cross-source span-overlap matrix (operators/SpanDedup.scala): for
    * every source pair, distinct shared 8-word spans, per-source span
    * totals, and the overlap coefficient — the provenance report run
    * before mixing subcorpora (how much of a source's text is ALREADY
    * in another). Dimension-sized output, total ORDER BY.
    */
  def sourceOverlapQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanDedup.sourceOverlap(
      documents(s, dir), col("source"), col("text"), n = 8)

  val sourceOverlapSql: String =
    s"""WITH base AS (
         SELECT source, string_split($normalizeSql, ' ') AS w
         FROM documents),
       b2 AS (SELECT source, w, len(w) AS nw FROM base WHERE len(w) >= 8),
       wins AS (
         SELECT DISTINCT source, array_to_string(w[i+1:i+8], ' ') AS span
         FROM (SELECT source, w, nw, unnest(range(nw - 7)) AS i FROM b2)),
       tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_spans
               FROM wins GROUP BY 1),
       shared AS (
         SELECT w1.source AS src_a, w2.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_spans
         FROM wins w1 JOIN wins w2
           ON w1.span = w2.span AND w1.source < w2.source
         GROUP BY 1, 2)
       SELECT src_a, src_b, ta.n_spans AS spans_a, tb.n_spans AS spans_b,
         shared_spans,
         CAST(shared_spans AS DOUBLE) /
           CAST(LEAST(ta.n_spans, tb.n_spans) AS DOUBLE) AS overlap
       FROM shared
       JOIN tot ta ON ta.source = shared.src_a
       JOIN tot tb ON tb.source = shared.src_b
       ORDER BY src_a, src_b"""

  def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 50)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""SELECT doc_id, md5($normalizeSql) AS fp
       FROM documents WHERE doc_id < 50 ORDER BY doc_id"""

  /** 7-day moving average of daily order revenue. The ROWS-frame spec —
    * avg over the 6 preceding + current rows of the day-ordered daily
    * series — is computed WITHOUT a single-partition global window:
    * moving_sum(i) = P(i) − P(i−7) over inclusive prefix sums P, taken
    * with the row number from the one-group [[Ranks.runningByRange]]
    * scan, and the rn−7 self-join reproduces the frame without any
    * global sort. Sums run in integer cents (the daily decimal total is
    * exact at scale 2), so the only double ops are the final divisions.
    */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(dayBucket(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("total_dec"))
      .withColumn("cents", (col("total_dec") * lit(100)).cast("long"))
    val g = Ranks.running(daily, Nil, Seq("day"),
      Seq("rn" -> lit(1L), "p" -> col("cents")))
    val prev = g.select((col("rn") + lit(7L)).as("rn"), col("p").as("p_prev"))
    g.join(prev, Seq("rn"), "left")
      .select(col("day"), col("total_dec").cast("double").as("total"),
        ((col("p") - coalesce(col("p_prev"), lit(0L))).cast("double")
          / lit(100.0)
          / least(col("rn"), lit(7L)).cast("double")).as("avg7"))
      .orderBy(col("day"))
  }

  val movingAvgSql: String =
    """SELECT day, CAST(total_dec AS DOUBLE) AS total,
       CAST(SUM(total_dec) OVER w AS DOUBLE)
         / CAST(COUNT(*) OVER w AS DOUBLE) AS avg7
       FROM (
         SELECT epoch_us(o_orderdate) // 86400000000 AS day,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec
         FROM orders GROUP BY 1)
       WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       ORDER BY day"""

  /** Sliding event-time windows (1 h window, 30 min slide) in batch —
    * Spark's `window()` assigns each event to duration/slide = 2 windows;
    * the oracle replays the same assignment as an explicit 2-start
    * explode. The streaming twin is `StreamingIngest.hourlyCounts`'s
    * shape with a slide.
    */
  def slidingHourCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start_us"), col("event_type"))

  val slidingHourCountsSql: String =
    """SELECT w_start_us, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM (
         SELECT (epoch_us(ts) // 1800000000 - k) * 1800000000 AS w_start_us,
           event_type, value
         FROM events, UNNEST(range(0, 2)) AS u(k))
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Batch-replayable correctness surface for the STREAMING hourly ingest
    * (E7, `StreamingIngest.hourlyCounts`): an availableNow file-stream
    * drains the static events table through the watermarked windowed agg
    * into a complete-mode memory sink; the final table must equal the
    * batch truth the oracle computes (window start = hour-aligned epoch).
    * Decimal partial sums keep the result independent of microbatch and
    * partition merge order.
    */
  def streamingHourlyCounts(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    import org.apache.spark.sql.types.LongType
    // file-stream sources need a directory: stage the table into a temp
    // landing dir (the continuous-ingest layout this operator serves)
    val raw = Sources.parquet(s, s"$dir/events.parquet")
    val landing =
      tempDir("graft_hourly_land_")
    raw.write.mode("overwrite").parquet(landing)
    val staged = Sources.parquet(s, landing)
    val stream0 = s.readStream.schema(staged.schema).parquet(landing)
    val stream =
      if (staged.schema("ts").dataType == LongType)
        stream0.withColumn("ts",
          timestamp_micros(call_function("div", col("ts"), lit(1000L))))
      else stream0
    val name = s"graft_stream_hourly_${System.nanoTime()}"
    StreamingIngest.runAvailableNow(StreamingIngest.hourlyCounts(stream), name)
      .awaitTermination()
    s.table(name)
      .select(unix_micros(col("hour_start")).as("h_us"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("h_us"), col("event_type"))
  }

  val streamingHourlyCountsSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h_us, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Stream-stream funnel join (streaming/StreamJoin.scala): view →
    * purchase within 6 hours per user, run as a real watermarked
    * stream-stream inner join over an availableNow drain of the staged
    * events — the batch join IS the oracle, so the streaming join's
    * row-level emission is gated exactly. Append-mode FILE sink (each
    * matched pair is finalized once): the matched-pair set grows
    * linearly with the corpus, so it drains executor-parallel to
    * parquet rather than through a driver memory sink (the E8b lesson).
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    import org.apache.spark.sql.types.LongType
    val raw = Sources.parquet(s, s"$dir/events.parquet")
    val tmp = tempDir("graft_ssj_land_")
    val landing = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    val outDir = s"$tmp/out"
    raw.write.mode("overwrite").parquet(landing)
    val staged = Sources.parquet(s, landing)
    StreamingIngest.drainAppendToDir(s, landing,
      staged.schema, { stream0 =>
        val stream =
          if (staged.schema("ts").dataType == LongType)
            stream0.withColumn("ts",
              timestamp_micros(call_function("div", col("ts"), lit(1000L))))
          else stream0
        graft.streaming.StreamJoin
          .funnel(stream, "view", "purchase", "6 hours")
          .select(col("a_id").as("view_id"), col("b_id").as("purchase_id"),
            col("a_user").as("user_id"),
            (unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
              .as("delay_us"))
      }, ckpt, outDir)
    Sources.parquet(s, outDir).select(col("view_id"), col("purchase_id"),
        col("user_id"), col("delay_us"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  val streamStreamJoinSql: String =
    """SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS delay_us
       FROM events a JOIN events b
         ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
       ORDER BY view_id, purchase_id"""

  /** Full-outer join: every customer and every order bucket survives,
    * unmatched sides null-filled — the remaining join-type surface after
    * inner/left/semi/anti/asof/range.
    */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val perCust = orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
    customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("sum_total"))
      .orderBy(col("custkey"))
  }

  val joinFullOuterSql: String =
    """SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_mktsegment,
       COALESCE(n_orders, 0) AS n_orders, sum_total
       FROM customer
       FULL OUTER JOIN (
         SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
         FROM orders GROUP BY 1) o
       ON c_custkey = o_custkey
       ORDER BY custkey"""

  /** Bucketed co-located fact-fact join, oracle-gated (E16): both fact
    * projections are written `bucketBy(8)` on the join key (sorted within
    * buckets), so the JOIN plans with no exchange on either side — at
    * 100 TB bucketed storage turns every recurring join on the bucket key
    * from a full shuffle into a local merge. (The `l_returnflag`
    * aggregation above the join keys on a DIFFERENT column and pays its
    * own tiny post-join exchange, as it would on any storage;
    * BucketingSpec asserts the zero-exchange plan for the agg-on-bucket-
    * key shape. This query gates the RESULT against the same join over
    * the raw parquet.) Broadcast is disabled while the join executes —
    * at real scale neither fact side broadcasts — and the result is
    * materialized inside that window so the restore can't re-plan it.
    */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    Seq("graft_li_b", "graft_ord_b")
      .foreach(Sinks.dropManagedTable(s, _))
    lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_li_b")
    orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_ord_b")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      s.table("graft_li_b")
        .join(s.table("graft_ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("o_totalprice"))).cast("double").as("sum_total"))
        .orderBy(col("l_returnflag"))
        .localCheckpoint(true) // execute within the no-broadcast window
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  val joinBucketedSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1 ORDER BY 1"""

  /** Time-series gap filling: materialize every day between the corpus min
    * and max and zero-fill days with no events. The day spine is a
    * `sequence` explode off a single min/max agg row — no driver-side
    * enumeration of keys, so the spine scales to any range on any
    * executor.
    */
  def gapfillDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(dayBucket(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("day"))
  }

  val gapfillDailySql: String =
    """WITH daily AS (
         SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1),
       spine AS (
         SELECT UNNEST(range((SELECT MIN(day) FROM daily),
                             (SELECT MAX(day) FROM daily) + 1)) AS day)
       SELECT spine.day, COALESCE(n_events, 0) AS n_events,
         COALESCE(sum_value, 0.0) AS sum_value
       FROM spine LEFT JOIN daily ON spine.day = daily.day
       ORDER BY spine.day"""

  /** ANSI set operations (EXCEPT / INTERSECT, both set-distinct). */
  def exceptIntersect(s: SparkSession, dir: String): DataFrame = {
    val urgent = orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val finished = orders(s, dir).where(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    urgent.except(finished).select(col("o_custkey"), lit("only_urgent").as("kind"))
      .unionByName(urgent.intersect(finished)
        .select(col("o_custkey"), lit("both").as("kind")))
      .orderBy(col("o_custkey"), col("kind"))
  }

  val exceptIntersectSql: String =
    """SELECT o_custkey, kind FROM (
         SELECT o_custkey, 'only_urgent' AS kind FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         UNION ALL
         SELECT o_custkey, 'both' AS kind FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
       ORDER BY o_custkey, kind"""

  // ------------------------------------------- corpus curation operators --

  /** Incremental ingest dedup: the odd-id half of `documents` arrives as a
    * new batch and is deduplicated against the even-id corpus by content
    * hash (anti-join on 16-byte fingerprints — see Dedup.incremental for
    * the 100 TB shape).
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    Dedup.incremental(
      incoming = d.where(pmod(col("doc_id"), lit(2)) === 1),
      corpus = d.where(pmod(col("doc_id"), lit(2)) === 0),
      col("doc_id"), col("text"))
      .orderBy(col("fp"))
  }

  val dedupIncrementalSql: String =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
       FROM documents
       WHERE doc_id % 2 = 1
         AND md5(text) NOT IN (
           SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 2 = 0)
       GROUP BY 1 ORDER BY fp"""

  /** The two-drain landing harness: land `first`, drain the landing dir
    * through the checkpointed AvailableNow query `sink` starts, then land
    * `second` beside it and drain again — the second run, resuming the
    * checkpoint, reads only the new drop.
    */
  private def drainTwice(landing: String, first: DataFrame,
      second: DataFrame)(sink: DataFrame => StreamingQuery): Unit = {
    first.write.mode("overwrite").parquet(landing)
    def drain(): Unit = sink(first.sparkSession.readStream
      .schema(first.schema).parquet(landing)).awaitTermination()
    drain()
    second.write.mode("append").parquet(landing)
    drain()
  }

  /** Batch-replayable correctness surface for the STREAMING incremental
    * corpus dedup (E8c, `StreamingIngest.incrementalDedupSink`): the
    * documents table is split into two parquet drops (even ids, then odd
    * ids) in a temp landing dir; an availableNow file-stream run drains
    * drop 1 (building the fingerprint corpus), a second run on the same
    * checkpoint processes only drop 2 against that corpus. The union of
    * the batch outputs must equal "exact-dedup of the evens" ∪ "odd
    * contents never seen in the evens" — the truth the oracle computes —
    * which puts the streaming twin under the same hash gate as the batch
    * operators instead of test-only coverage.
    */
  def dedupIncrementalStream(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_stream_")
    evenOddDedup(s, dir, tmp) { (docs, outDir, ckpt) =>
      StreamingIngest.incrementalDedupSink(docs, "doc_id", "text",
        s"$tmp/fps", outDir, checkpointDir = Some(ckpt), availableNow = true)
    }
  }

  /** The E8c replay: the documents land as even ids, then odd ids, each
    * drop drained by `sink(stream, outDir, ckpt)`; returns the (fp,
    * keep_id) rows the drains emitted.
    */
  private def evenOddDedup(s: SparkSession, dir: String, tmp: String)(
      sink: (DataFrame, String, String) => StreamingQuery): DataFrame = {
    val outDir = s"$tmp/out"
    val d = documents(s, dir).select(col("doc_id"), col("text"))
    drainTwice(s"$tmp/landing", d.where(pmod(col("doc_id"), lit(2)) === 0),
      d.where(pmod(col("doc_id"), lit(2)) === 1))(sink(_, outDir, s"$tmp/ckpt"))
    Sources.parquet(s, outDir).select(col("fp"), col("keep_id"))
      .orderBy(col("fp"))
  }

  val dedupIncrementalStreamSql: String =
    """SELECT fp, keep_id FROM (
         SELECT md5(text) AS fp, MIN(doc_id) AS keep_id
         FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
         UNION ALL
         SELECT md5(text) AS fp, MIN(doc_id) AS keep_id
         FROM documents
         WHERE doc_id % 2 = 1
           AND md5(text) NOT IN (
             SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 2 = 0)
         GROUP BY 1)
       ORDER BY fp"""

  /** L12's store-side scale form, REGISTERED (the E16 layout applied to
    * the fingerprint corpus): same two-drain replay as
    * `dedup_incremental_stream`, but through
    * [[graft.streaming.StreamingIngest.incrementalDedupSinkBucketed]] —
    * the corpus anti-joins each batch with ZERO store-side exchange
    * (bucketed on fp), so only the microbatch moves as the corpus grows.
    * Same oracle gates both forms.
    */
  def dedupIncrementalBucketed(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val fpTable = "graft_fp_store_q"
    Sinks.dropManagedTable(s, fpTable)
    evenOddDedup(s, dir, tempDir("graft_bstream_")) { (docs, outDir, ckpt) =>
      StreamingIngest.incrementalDedupSinkBucketed(docs, "doc_id", "text",
        fpTable, outDir, checkpointDir = Some(ckpt), availableNow = true)
    }
  }

  val dedupIncrementalBucketedSql: String = dedupIncrementalStreamSql

  /** Bloom-pruned incremental dedup — the registered scale path for L12
    * (`BloomPrune.incrementalPruned`): rows whose content hash definitely
    * isn't in the corpus sketch skip the anti-join shuffle entirely; the
    * result is contractually identical to `Dedup.incremental`, so the
    * same oracle gates both.
    */
  def dedupIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    // sketch sized from the UNFILTERED table count — a metadata-only
    // parquet probe. The corpus argument below is filtered, and counting
    // a filtered frame is a real scan; sizing only needs an upper bound
    // on distinct fingerprints, and the whole table is exactly that.
    BloomPrune.incrementalPruned(
      incoming = d.where(pmod(col("doc_id"), lit(2)) === 1),
      corpus = d.where(pmod(col("doc_id"), lit(2)) === 0),
      col("doc_id"), col("text"), expectedCorpus = Some(d.count()))
      .orderBy(col("fp"))
  }

  val dedupIncrementalBloomSql: String = dedupIncrementalSql

  /** Changelog compaction: latest event per user via max_by hash-agg (no
    * per-key sort — the oracle's window formulation is the semantic spec,
    * not the plan).
    */
  def latestByKey(s: SparkSession, dir: String): DataFrame = {
    // (t_us, event_id) packed into one decimal: keeps the max_by buffer
    // hash-aggregable (a struct ordering would demote to SortAggregate)
    val ord = Compaction.packedOrd(unix_micros(col("ts")), col("event_id"),
      minorDigits = 12)
    Compaction.latestByKey(events(s, dir), col("user_id"), ord, Seq(
        "last_t_us" -> unix_micros(col("ts")),
        "last_event_id" -> col("event_id"),
        "last_value" -> col("value")))
      .withColumnRenamed("key", "user_id")
      .orderBy(col("user_id"))
  }

  val latestByKeySql: String =
    """SELECT user_id, t_us AS last_t_us, event_id AS last_event_id,
       value AS last_value
       FROM (
         SELECT user_id, epoch_us(ts) AS t_us, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         FROM events)
       WHERE rn = 1 ORDER BY user_id"""

  /** SCD type-2 history (operators/Scd2.scala): the events changelog
    * reduced to per-user `event_type` VERSION intervals — change points
    * found by `lag`, `[valid_from, valid_to)` bounds by `lead` over the
    * survivors. One shuffle on user_id serves both windows (the narrow
    * change filter preserves partitioning and order — PlanSpec asserts
    * one Exchange, one Sort). The latest_by_key compaction is this
    * history's open interval.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    operators.Scd2.history(
      events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"), col("event_id")),
      key = "user_id", ord = Seq("t_us", "event_id"),
      attr = "event_type", from = "t_us")
      .orderBy(col("user_id"), col("version"))

  val scd2HistorySql: String =
    """WITH c AS (
         SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev
         FROM events),
       ch AS (
         SELECT user_id, t_us, event_id, event_type FROM c
         WHERE prev IS NULL OR prev <> event_type)
       SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS version,
         event_type,
         t_us AS valid_from,
         lead(t_us) OVER w AS valid_to
       FROM ch
       WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
       ORDER BY user_id, version"""

  /** Training-export shuffle + shard (operators/TrainExport.scala): the
    * corpus in seeded pseudo-random order with exactly-balanced
    * round-robin shards — global rank via [[Ranks.runningByRange]],
    * never a global sort. The oracle IS the single-window spec the
    * two-level computation provably equals.
    */
  def shuffleShard(s: SparkSession, dir: String): DataFrame =
    operators.TrainExport.shuffleShard(
      documents(s, dir).select(col("doc_id")), "doc_id",
      seed = 23L, nShards = 16)
      .select(col("doc_id"), col("shuffle_pos"), col("shard"))
      .orderBy(col("doc_id"))

  val shuffleShardSql: String =
    """WITH r AS (
         SELECT doc_id, md5('23:' || CAST(doc_id AS VARCHAR)) AS k
         FROM documents),
       p AS (
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT)
             AS shuffle_pos
         FROM r)
       SELECT doc_id, shuffle_pos, shuffle_pos % 16 AS shard
       FROM p ORDER BY doc_id"""

  /** Deterministic stratified sampling: keep 8/16 of English docs and 4/16
    * of the rest, decided by the first md5 nibble of the content — same
    * rows kept on every engine and every rerun (Sampling.scala).
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedHashSample(documents(s, dir), col("text"),
      col("lang"), cutoffs = Seq("en" -> 8), default = 4)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang FROM documents
       WHERE strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1
         < CASE WHEN lang = 'en' THEN 8 ELSE 4 END
       ORDER BY doc_id"""

  /** Token-window chunking: 50-word training windows per document
    * (Chunking.scala — narrow explode, no shuffle). Chunk text is output
    * as md5 to keep the compare payload small.
    */
  def docChunking(s: SparkSession, dir: String): DataFrame =
    Chunking.byWords(documents(s, dir).where(col("doc_id") < 200),
      col("doc_id"), col("text"), chunkWords = 50)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("n_words"),
        md5(col("chunk_text")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val docChunkingSql: String =
    s"""SELECT doc_id, ci AS chunk_idx,
       CAST(len(list_slice(w, ci * 50 + 1, ci * 50 + 50)) AS BIGINT)
         AS n_words,
       md5(array_to_string(list_slice(w, ci * 50 + 1, ci * 50 + 50), ' '))
         AS chunk_fp
       FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
             FROM documents WHERE doc_id < 200),
         UNNEST(range(0, greatest(1, CAST(ceil(len(w) / 50.0) AS BIGINT))))
           AS u(ci)
       ORDER BY doc_id, chunk_idx"""

  /** Sequence packing: chunks → fixed 512-word training sequences by
    * contiguous fill. graft computes the global prefix sum with
    * [[Ranks.runningByRange]]; the oracle IS the single global window
    * the two-level form provably equals.
    */
  def docPacking(s: SparkSession, dir: String): DataFrame = {
    val chunks = Chunking.byWords(documents(s, dir).where(col("doc_id") < 200),
      col("doc_id"), col("text"), chunkWords = 50)
    Chunking.packByBudget(chunks, Seq("id", "chunk_idx"),
        col("n_words"), budgetWords = 512L)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("n_words"),
        col("pack_id"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val docPackingSql: String =
    s"""SELECT doc_id, chunk_idx, n_words,
       CAST(COALESCE(SUM(n_words) OVER (ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
         AS BIGINT) AS pack_id
       FROM (
         SELECT doc_id, ci AS chunk_idx,
           CAST(len(list_slice(w, ci * 50 + 1, ci * 50 + 50)) AS BIGINT)
             AS n_words
         FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
               FROM documents WHERE doc_id < 200),
           UNNEST(range(0, greatest(1, CAST(ceil(len(w) / 50.0) AS BIGINT))))
             AS u(ci))
       ORDER BY doc_id, chunk_idx"""

  /** L19 sequence packing with the budget in REAL BPE tokens (the
    * merges-table count of each chunk's text, [[graft.functions
    * .BpeFunctions.bpeTokenCount]]) instead of the whitespace-word proxy —
    * the accounting a training pipeline actually bills against. Same
    * two-level prefix-sum pack assignment as `doc_packing`; the oracle
    * recomputes every chunk's token count with the recursive-CTE
    * tokenizer replay and packs with the global window.
    */
  def docPackingBpe(s: SparkSession, dir: String): DataFrame = {
    val chunks = Chunking.byWords(documents(s, dir).where(col("doc_id") < 200),
      col("doc_id"), col("text"), chunkWords = 50)
      .withColumn("n_bpe",
        graft.functions.BpeFunctions.bpeTokenCount(col("chunk_text")))
    Chunking.packByBudget(chunks, Seq("id", "chunk_idx"),
        col("n_bpe"), budgetWords = 256L)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("n_bpe"),
        col("pack_id"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val docPackingBpeSql: String =
    s"""WITH RECURSIVE
       chunks AS (
         SELECT doc_id, ci AS chunk_idx,
           array_to_string(list_slice(w, ci * 50 + 1, ci * 50 + 50), ' ')
             AS ctext
         FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
               FROM documents WHERE doc_id < 200),
           UNNEST(range(0, greatest(1, CAST(ceil(len(w) / 50.0) AS BIGINT))))
             AS u(ci)),
       ${bpeWordsSql("doc_id, chunk_idx", "ctext", "chunks", "ctoks")},
       cbpe AS (
         SELECT t.doc_id, t.chunk_idx, SUM(COALESCE(e.ntok, 1)) AS n_bpe
         FROM ctoks t LEFT JOIN enc e ON t.w = e.w
         GROUP BY 1, 2),
       allc AS (
         SELECT c.doc_id, c.chunk_idx,
           CAST(COALESCE(b.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM chunks c LEFT JOIN cbpe b USING (doc_id, chunk_idx))
       SELECT doc_id, chunk_idx, n_bpe,
         CAST(COALESCE(SUM(n_bpe) OVER (ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256
           AS BIGINT) AS pack_id
       FROM allc ORDER BY doc_id, chunk_idx"""

  /** GPT-style pretraining block packing (L19 twin of `doc_packing`): the
    * corpus BPE-token stream concatenated in doc order and cut into fixed
    * 512-token blocks, documents SPLIT across boundaries — one row per
    * (block, doc) overlap with the in-doc token slice each block reads.
    * Token counts are the real merges-table BPE; the prefix sum is the
    * same two-level machinery as `doc_packing` (no global sort, no
    * global window).
    */
  def docBlocks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.blockSlice(
      documents(s, dir),
      "doc_id",
      graft.functions.BpeFunctions.bpeTokenCount(col("text")),
      blockTokens = 512L)
      .orderBy(col("block_id"), col("doc_id"))

  val docBlocksSql: String =
    s"""WITH RECURSIVE
       ${bpeWordsSql("doc_id", "text", "documents")},
       perdoc AS (
         SELECT t.doc_id, SUM(COALESCE(e.ntok, 1)) AS n_bpe
         FROM toks t LEFT JOIN enc e ON t.w = e.w GROUP BY 1),
       po AS (
         SELECT doc_id, CAST(n_bpe AS BIGINT) AS n_bpe,
           CAST(COALESCE(SUM(n_bpe) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS prior
         FROM perdoc WHERE n_bpe > 0),
       blk AS (
         SELECT doc_id, n_bpe, prior,
           unnest(range(prior // 512, (prior + n_bpe - 1) // 512 + 1))
             AS block_id
         FROM po)
       SELECT CAST(block_id AS BIGINT) AS block_id, doc_id,
         CAST(GREATEST(prior, block_id * 512) - prior AS BIGINT)
           AS tok_start,
         CAST(LEAST(prior + n_bpe, (block_id + 1) * 512)
           - GREATEST(prior, block_id * 512) AS BIGINT) AS tok_len
       FROM blk ORDER BY block_id, doc_id"""

  /** Corpus-frequency fluency score — the engine-native stand-in for a
    * CCNet-style LM quality filter: a document whose distinct word bigrams
    * are common across the corpus reads like the corpus; one whose bigrams
    * are rare is boilerplate, markup, or noise. score = mean document
    * frequency of the doc's distinct bigrams. All-integer until one final
    * double division, so the DuckDB replay is bit-identical (no `ln` —
    * libm-dependent, SURVEY §6). Scale shape: narrow bigram explode →
    * one groupBy(bigram) "training" pass → co-partitioned join back on
    * the bigram key → one groupBy(doc) — every stage linear, no driver
    * state, the count table stays distributed.
    */
  def corpusFreqScore(s: SparkSession, dir: String): DataFrame = {
    // ONE tokenize+shingle pass (the oov_rate / vocab_growth checkpoint
    // discipline): the (doc, bg) frame is materialized once and BOTH
    // consumers — the df counts and the mass join — read it. The former
    // count-then-join shape re-ran the normalize+shingle explode per
    // consumer (two full corpus passes of the dominant regex kernel;
    // plans/r18/corpus_freq_score_before.txt), and at sf0.001 sizes the
    // planner even broadcast the INSTANCE side of the join — an estimate
    // artifact this shape removes. Single-node assumption (ADVICE r18,
    // the quality_bands caveat): localCheckpoint truncates lineage, so
    // on a multi-executor cluster an executor loss fails the query
    // instead of recomputing — swap for cache()/reliable checkpoint in
    // a clustered deployment. Same caveat for every eager
    // localCheckpoint intermediate in this family (lm_score's dxy/c2,
    // line_dedup's line frame).
    val bi = documents(s, dir).select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 2)).as("bg"))
      .localCheckpoint(true)
    val counts = bi.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    bi.join(counts, "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("df")).as("mass"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"),
        (col("mass").cast("double") / col("n_grams").cast("double"))
          .as("freq_score"))
      .orderBy(col("doc_id"))
  }

  /** lm_score's collapse margin: duplication factor ≥ 2 (see lmScore),
    * ~50σ above the probe's estimator noise.
    */
  private[graft] val lmScoreMargin = 2.0

  /** Bigram-LM fluency score — the CCNet/KenLM-class quality filter:
    * score each document by the average corpus-conditional probability
    * of its word bigrams, P(y|x) = c(xy)/c(x·) with c(x·) = occurrences
    * of x in non-final position (so Σ_y P(y|x) = 1 exactly). Low scores
    * flag disfluent/noisy text, high scores boilerplate — the
    * model-based axis the heuristic `quality_score` and the
    * document-frequency `corpus_freq_score` don't measure (df mass
    * scores TOKEN POPULARITY; this scores TRANSITION predictability).
    *
    * Cross-engine exactness: each bigram TYPE's probability is
    * quantized once — q = ⌊2²⁰·c₂/c₁⌋, an integer both engines floor
    * from identical int/int division — and the per-doc score is the
    * BIGINT sum of instance q's over the instance count (one fixed-shape
    * division; no float accumulation — the E63 discipline).
    *
    * Scale shape: narrow ordered-bigram explode; pair counts and
    * first-position counts are aggregates of the COUNT table
    * (vocabulary-sized, stays distributed); one co-partitioned join
    * back on the bigram key; one doc groupBy. All linear, the
    * corpus_freq_score plan family.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // adaptive verbatim-dup dispatch (the span-family discipline;
    // raw-text probe — no normalize pass — conservative as in
    // source_overlap): a replicated corpus would otherwise pay the
    // bigram explode and the instance-count shuffle once per copy for
    // counts that gsize-weighting recovers exactly. Every member of a
    // content group has the identical bigram multiset, so c2(x, y) =
    // Σ_g gsize(g)·cnt_g(x, y), c1 = Σ_y c2, and each member's
    // (n_bigrams, sum_q) IS its representative's — the members join
    // replicates exact values. Unlike the span family — whose raw path
    // explodes stride-1 windows, heavy enough that collapse pays at ANY
    // duplication — lm_score's raw path is one cheap pass, and the
    // collapse overhead (a second normalize, the distinct-text shuffle,
    // the members join) measured ~60% of it, so the dispatch fires only
    // at duplication factor ≥ 2, where the skipped (1 − d/n) ≥ 1/2 of
    // the explode+count work clears the overhead and grows with g
    // (g = 300 measured 30.0 → 6.4 s steady at the 300× dir). Both
    // branches are exact; the threshold picks performance only.
    val collapse = operators.Dispatch.collapse("lm_score", docs,
      Seq(col("text")), lmScoreMargin)
    // gk is the span family's 128-bit content-key contract (ADVICE r18:
    // stated here explicitly, not just by inheritance): two
    // constant-first-seeded xxhash64 halves behave as independent 64-bit
    // hashes, so two distinct texts merging is P ≈ n²/2¹²⁹ — ~5e-27 at a
    // billion distinct texts — the same collision budget the md5-keyed
    // oracle replay accepts. A merge would score both docs from one
    // text; the probability is the contract.
    val keyed =
      if (collapse)
        docs.select(col("doc_id"),
            TextAnalysis.normalize(col("text")).as("nt"))
          .select(col("doc_id"), col("nt"),
            struct(xxhash64(col("nt")).as("g1"),
              xxhash64(lit(2L), col("nt")).as("g2")).as("gk"))
      else null
    // (id, gsize, w): one row per doc (raw; weight 1) or per distinct
    // normalized text (collapsed; weight = group size, text rides one
    // min-combined shuffle — the repGroups discipline)
    val frame =
      if (collapse)
        keyed.groupBy(col("gk"))
          .agg(count(lit(1)).as("gsize"), min(col("nt")).as("nt"))
          .select(col("gk").as("id"), col("gsize"),
            split(col("nt"), " ").as("w"))
      else
        docs.select(col("doc_id").as("id"), lit(1L).as("gsize"),
          split(TextAnalysis.normalize(col("text")), " ").as("w"))
    val inst = frame
      .where(size(col("w")) >= 2)
      .select(col("id"), col("gsize"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("x"),
            element_at(col("w"), i + 1).as("y")))).as("bg"))
      .select(col("id"), col("gsize"), col("bg.x").as("x"), col("bg.y").as("y"))
    // ONE tokenize+explode pass (the oov_rate checkpoint discipline): the
    // per-(x, y, id) instance-count table is the Zipf-compact
    // intermediate — the count chains AND the score join read it. The
    // count-then-join shape re-ran the corpus normalize+explode per
    // consumer (THREE full passes: the instance side, the c2 chain, and
    // the c1 chain rebuilding c2 from scratch as twin hashpartitioning
    // (x, y) exchanges — plans/r18/lm_score_before.txt). c2 is
    // vocabulary-sized and feeds two consumers (c1 and probs), so it
    // checkpoints too — at corpus scale that saves a second aggregate
    // pass over dxy. Per-doc sums ride the counts: sum(q·cnt) ≡ the
    // former per-instance sum(q), sum(cnt) ≡ count(1) over instances.
    val dxy = inst.groupBy(col("x"), col("y"), col("id"), col("gsize"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val c2 = dxy.groupBy(col("x"), col("y"))
      .agg(sum(col("gsize") * col("cnt")).as("c2"))
      .localCheckpoint(true)
    val c1 = c2.groupBy(col("x")).agg(sum(col("c2")).as("c1"))
    val probs = c2.join(c1, "x")
      .select(col("x"), col("y"),
        floor(lit(1048576.0) *
          (col("c2").cast("double") / col("c1").cast("double")))
          .cast("long").as("q"))
    val perId = dxy.join(probs, Seq("x", "y"))
      .groupBy(col("id"))
      .agg(sum(col("q") * col("cnt")).as("sum_q"),
        sum(col("cnt")).as("n_bigrams"))
    val perDoc =
      if (collapse)
        // inner join: groups under 2 words have no perId row, and their
        // members must be absent from the output (raw-path contract)
        keyed.select(col("doc_id"), col("gk").as("id"))
          .join(perId, "id").drop("id")
      else perId.withColumnRenamed("id", "doc_id")
    perDoc
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_q").cast("double") / col("n_bigrams").cast("double") /
          lit(1048576.0)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val lmScoreSql: String =
    s"""WITH base AS (
         SELECT doc_id, string_split($normalizeSql, ' ') AS w
         FROM documents),
       inst AS (
         SELECT doc_id, w[i] AS x, w[i+1] AS y
         FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
               FROM base WHERE len(w) >= 2)),
       c2 AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c2
              FROM inst GROUP BY 1, 2),
       c1 AS (SELECT x, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       probs AS (
         SELECT x, y,
           CAST(FLOOR(1048576.0 *
             (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))) AS BIGINT) AS q
         FROM c2 JOIN c1 USING (x))
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1048576.0
           AS lm_score
       FROM inst JOIN probs USING (x, y)
       GROUP BY 1 ORDER BY 1"""

  /** DuckDB word bigrams mirroring Dedup.shingles(n=2). */
  private val bigramSql: String =
    """list_distinct(CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
        ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END)"""

  lazy val corpusFreqScoreSql: String =
    s"""WITH b AS (
         SELECT doc_id, unnest($bigramSql) AS bg
         FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
               FROM documents)),
       counts AS (SELECT bg, COUNT(*) AS df FROM b GROUP BY 1)
       SELECT doc_id, CAST(SUM(df) AS DOUBLE) / COUNT(*) AS freq_score
       FROM b JOIN counts USING (bg) GROUP BY 1 ORDER BY 1"""

  /** Exact-N deterministic sample per stratum — the "give me exactly 25
    * docs per language, reproducibly" ask that rate-based sampling
    * (`sample_stratified`) cannot answer. The "random" order is the
    * content hash (seeded, engine-independent), and the exact-N cut is
    * the bounded-heap TopKPerKey — k rows per stratum survive the map
    * partitions, never a per-stratum sort of the corpus.
    */
  def sampleExactN(s: SparkSession, dir: String): DataFrame = {
    val keyed = documents(s, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    graft.plans.TopKPerKey.topK(keyed, keys = Seq("lang"),
        order = Seq("h" -> "asc", "doc_id" -> "asc"), k = 25)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val sampleExactNSql: String =
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           ORDER BY md5(text), doc_id) AS rn
         FROM documents) WHERE rn <= 25 ORDER BY doc_id"""

  /** Temperature-flattened source mixture (α = 0.5): 300 docs drawn with
    * per-source quotas ∝ isqrt(count) by integer largest-remainder
    * apportionment — no floating-point weights anywhere, so the split
    * replays bit-exact in the oracle. The corpus cut heap-prunes through
    * TopKPerKey at the max quota; only dimension-sized frames see
    * windows (operators/Sampling.scala `temperatureMixture`).
    */
  def mixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMixture(
      documents(s, dir), "source", "doc_id", md5(col("text")),
      totalN = 300L)
      .orderBy(col("doc_id"))

  val mixtureSampleSql: String =
    """WITH n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
       w AS (SELECT source, CAST(floor(sqrt(cnt)) AS BIGINT) AS wt FROM n),
       tot AS (SELECT SUM(wt) AS W FROM w),
       app AS (
         SELECT source, wt, (300 * wt) // W AS base, (300 * wt) % W AS rem
         FROM w, tot),
       fin AS (
         SELECT source, base + CASE WHEN
             row_number() OVER (ORDER BY rem DESC, source ASC)
               <= 300 - (SELECT SUM(base) FROM app)
             THEN 1 ELSE 0 END AS quota
         FROM app),
       r AS (
         SELECT doc_id, source, row_number() OVER (PARTITION BY source
           ORDER BY md5(text) ASC, doc_id ASC) AS rn
         FROM documents)
       SELECT r.doc_id, r.source FROM r JOIN fin USING (source)
       WHERE rn <= quota ORDER BY doc_id"""

  /** Z-order layout key (operators/ZOrder.scala): Morton interleave of
    * (order day, customer) — the 2-D clustering key an `optimize zorder`
    * write sorts by so parquet footer stats prune BOTH dimensions. Pure
    * integer bit arithmetic, bit-identical in the oracle. The write-side
    * use is `repartitionByRange(zval).sortWithinPartitions(zval)`; the
    * registered query gates the key computation + total order.
    */
  def zorderKey(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).select(col("o_orderkey"),
      graft.operators.ZOrder.zValue(
        dayBucket(col("o_orderdate")), col("o_custkey"), bits = 16)
        .as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))

  val zorderKeySql: String = {
    val mask = (1L << 16) - 1
    val am = s"((epoch_us(o_orderdate) // 86400000000) & $mask)"
    val bm = s"(o_custkey & $mask)"
    val terms = (0 until 16).map { i =>
      s"((($am >> $i) & 1) * ${1L << (2 * i)}) | " +
        s"((($bm >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString("(", " | ", ")")
    s"""SELECT o_orderkey, $terms AS zval
       FROM orders ORDER BY zval, o_orderkey"""
  }

  /** One-pass numeric table profile (operators/Profile.scala): per-column
    * rows/nulls/exact-distincts/range over the lineitem measures — one
    * aggregation job (multi-distinct via a single Expand), unpivoted
    * with `stack`, no second scan.
    */
  def profileTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.numeric(lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy(col("col_name"))

  val profileTableSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
         CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v
         FROM lineitem"""
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(one).mkString("SELECT * FROM (", " UNION ALL ",
        ") ORDER BY col_name")
  }

  /** Quality banding: per-language ntile(4) over the quality score — the
    * "keep the top quartile" curation cut, with a deterministic total
    * order (score, doc_id). Computed by `Banding.ntileByStratum` (two-level
    * rank, no per-language single-task sort — the r5 verdict's one
    * stalled-stage shape); the oracle stays the single ntile window the
    * two-level form provably equals.
    */
  def qualityBands(s: SparkSession, dir: String): DataFrame = {
    val scored = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("score"))
    graft.operators.Banding.ntileByStratum(scored, "lang",
        Seq("score", "doc_id"), buckets = 4)
      .select(col("doc_id"), col("lang"), col("band"))
      .orderBy(col("doc_id"))
  }

  val qualityBandsSql: String =
    s"""SELECT doc_id, lang,
       CAST(ntile(4) OVER (PARTITION BY lang
         ORDER BY $qualityScoreExprSql ASC, doc_id ASC) AS BIGINT) AS band
       FROM documents ORDER BY doc_id"""

  /** TF-IDF-style top terms per language. The idf stays a log-free
    * `n_docs / df` ratio so every score is an IEEE-exact int/int double —
    * `ln` is libm-dependent and would break cross-engine bit equality
    * (SURVEY §6). The corpus size joins in as a broadcast single-row agg,
    * not a driver-side collect.
    */
  def tfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("lang"), col("doc_id"),
        explode(TextAnalysis.tokens(TextAnalysis.normalize(col("text"))))
          .as("term"))
    // ONE aggregation pass over the exploded tokens computes tf and the
    // per-(lang,term) distinct-doc count together; since every doc has
    // exactly one lang, the per-term document frequency is the sum of the
    // per-lang distinct counts — derived from the tiny lang×term frame,
    // never a second pass over the corpus. The corpus-sized exploded
    // token table is never cached (round-3 version pinned it in storage
    // memory for the rest of the session); only the lang×term aggregate
    // (KBs) is materialized, so the df agg doesn't re-run the explode.
    val lt = toks.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("dcount"))
      .localCheckpoint(true)
    val dfreq = lt.groupBy(col("term")).agg(sum(col("dcount")).as("df"))
    val total = documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") *
      (col("n_docs").cast("double") / col("df").cast("double"))
    val scored = lt.select(col("lang"), col("term"), col("tf"))
      .join(dfreq, "term").crossJoin(broadcast(total))
      .withColumn("score", score)
      .select(col("lang"), col("term"), col("tf"), col("df"), col("score"))
    // top-5 per language via the bounded-heap TopKPerKeyExec — the window
    // formulation sorts the whole per-lang vocabulary in one task; the
    // heap keeps 5 rows per key. The row_number AFTER topK only orders the
    // ≤ 5 survivors per lang, so its window partition is k-bounded.
    val top = graft.plans.TopKPerKey.topK(scored, keys = Seq("lang"),
      order = Seq("score" -> "desc", "term" -> "asc"), k = 5)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("term").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .orderBy(col("lang"), col("rank"))
  }

  val tfidfToptermsSql: String =
    s"""WITH toks AS (
         SELECT lang, doc_id,
           unnest(string_split($normalizeSql, ' ')) AS term
         FROM documents),
       tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
         FROM toks GROUP BY 1),
       n AS (SELECT COUNT(*) AS n_docs FROM documents)
       SELECT lang, term, tf, df, score, rank FROM (
         SELECT lang, term, tf, df,
           CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
             AS score,
           CAST(row_number() OVER (PARTITION BY lang
             ORDER BY CAST(tf AS DOUBLE)
               * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC, term)
             AS BIGINT) AS rank
         FROM tf JOIN dfreq USING (term) CROSS JOIN n)
       WHERE rank <= 5 ORDER BY lang, rank"""

  /** Bounded range join: clicks within ±5 min of each error event, same
    * user. See RangeJoin.scala for why the bin-and-probe shape beats the
    * naive |Δt| ≤ W join at scale; the oracle IS that naive join.
    */
  def rangeJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    RangeJoin.countWithin(
        left = ev.where(col("event_type") === "error"),
        lKey = col("user_id"), lTime = unix_micros(col("ts")),
        lId = col("event_id"),
        right = ev.where(col("event_type") === "click"),
        rKey = col("user_id"), rTime = unix_micros(col("ts")),
        windowUs = 300L * 1000000L)
      .withColumnRenamed("id", "event_id")
      .withColumnRenamed("n_matches", "n_clicks")
      .orderBy(col("event_id"))
  }

  val rangeJoinCountsSql: String =
    """SELECT e.event_id, CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks
       FROM (SELECT event_id, user_id, epoch_us(ts) AS te FROM events
             WHERE event_type = 'error') e
       LEFT JOIN (SELECT user_id, event_id, epoch_us(ts) AS tc FROM events
             WHERE event_type = 'click') c
         ON e.user_id = c.user_id AND abs(e.te - c.tc) <= 300000000
       GROUP BY 1 ORDER BY e.event_id"""

  /** Benchmark decontamination: flag training docs sharing any 8-gram with
    * the benchmark set (here: the 50 lowest-id docs stand in for an eval
    * suite). Both sides reduce to 16-byte gram hashes before the join, so
    * the shuffle is gram-hash-bucket-local and ~50 B/row — the standard
    * n-gram-overlap decontamination pass of an LLM training pipeline.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val benchGrams = grams(docs.where(col("doc_id") < 50))
      .select(col("gh")).distinct()
    // explicit broadcast: the eval gram set is tiny by premise, but its
    // subtree (scan→explode→distinct) has no usable size estimate at plan
    // time — without the hint a conservative estimate would sort-merge and
    // shuffle the full train gram table
    grams(docs.where(col("doc_id") >= 50))
      .join(broadcast(benchGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB 8-gram shingles mirroring Dedup.shingles(n=8). */
  private val shingle8Sql: String =
    """list_distinct(CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
        ELSE [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]
        END)"""

  val decontaminateSql: String =
    s"""WITH g AS (
         SELECT doc_id, unnest($shingle8Sql) AS gram
         FROM (SELECT doc_id, string_split($normalizeSql, ' ') AS w
               FROM documents)),
       bench AS (SELECT DISTINCT md5(gram) AS gh FROM g WHERE doc_id < 50),
       corp AS (SELECT doc_id, md5(gram) AS gh FROM g WHERE doc_id >= 50)
       SELECT doc_id, COUNT(DISTINCT gh) AS n_hits
       FROM corp JOIN bench USING (gh)
       GROUP BY 1 ORDER BY 1"""

  /** Fuzzy decontamination — the near-dup sibling of the exact 8-gram
    * pass: a train document whose shingle Jaccard with ANY eval document
    * clears the threshold is contaminated even when no 8-gram matches
    * verbatim (paraphrases, whitespace/punct drift). Runs through
    * `Dedup.minhashCrossPairs`: the tiny eval side's band table
    * broadcasts, the corpus never self-joins and never shuffles — an
    * eval-scale question pays eval-scale cost, not the full train×train
    * dedup bill (the r6 shape this replaces). The (32 bands × 2 rows)
    * banding holds miss probability ≤ 1e-4 at the 0.5 threshold (see the
    * kernel's recall contract); the exact-Jaccard cross join is the
    * oracle.
    */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    Dedup.minhashCrossPairs(
        corpus = docs.where(col("doc_id") >= 50),
        evalSet = docs.where(col("doc_id") < 50),
        id = col("doc_id"), text = col("text"), threshold = 0.5)
      .groupBy(col("id_b"))
      .agg(count(lit(1)).as("n_matches"), max(col("jac")).as("max_jac"))
      .select(col("id_b").as("doc_id"), col("n_matches"), col("max_jac"))
      .orderBy(col("doc_id"))
  }

  val decontaminateFuzzySql: String =
    s"""WITH s AS (SELECT doc_id, lang, $shingleSql AS sh
         FROM ($shingleSrcSql))
       SELECT b.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
         MAX($jaccardSql) AS max_jac
       FROM s a JOIN s b ON a.doc_id < 50 AND b.doc_id >= 50
       WHERE $jaccardSql >= 0.5
       GROUP BY 1 ORDER BY doc_id"""

  // -------------------------------------------------- L7 multimodal meta --

  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.withPayload(documents(s, dir).where(col("doc_id") < 50),
      col("text"), "text")
      .select(col("doc_id"),
        col("meta.modality").as("modality"),
        col("meta.num_bytes").cast("long").as("num_bytes"),
        col("meta.content_md5").as("content_md5"))
      .orderBy(col("doc_id"))

  val multimodalMetaSql: String =
    """SELECT doc_id, 'text' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS num_bytes, md5(text) AS content_md5
       FROM documents WHERE doc_id < 50 ORDER BY doc_id"""

  /** Frame `f` of doc `id`'s deterministic w×h RGB fixture, as PNG bytes.
    * Callers turn ImageIO's disk cache off once per partition.
    */
  private def fixturePng(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((id + f + x) % 251).toInt << 16) |
          (((id + y) % 241).toInt << 8) | ((f + x * y) % 239))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode, oracle-gated end-to-end: each row encodes an actual
    * PNG whose dimensions derive from its doc_id, and
    * `Multimodal.decodeImageBatch` (the JDK `javax.imageio` reader, not a
    * stub) decodes it back — so the DuckDB oracle checks decode∘encode =
    * identity on the dimension arithmetic. Both encode and decode run in
    * the `mapPartitions` batch shape a codec farm uses at 100 TB: bytes
    * never leave the executor, per-partition init is amortized, and the
    * output is a narrow typed frame.
    */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = documents(s, dir).where(col("doc_id") < 100)
      .select(col("doc_id")).as[Long]
    val withPng = ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(id => (id, fixturePng(id, 0, (id % 13 + 1).toInt,
        (id % 7 + 1).toInt)))
    }.toDF("doc_id", "payload")
    Multimodal.decodeImageBatch(withPng)
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("channels"))
      .orderBy(col("doc_id"))
  }

  val multimodalDecodeSql: String =
    """SELECT doc_id, CAST(doc_id % 13 + 1 AS BIGINT) AS width,
       CAST(doc_id % 7 + 1 AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels
       FROM documents WHERE doc_id < 100 ORDER BY doc_id"""

  /** REAL audio decode, oracle-gated end-to-end — the audio sibling of
    * `multimodal_decode`: each row encodes an actual 16-bit PCM mono WAV
    * whose sample rate and frame count derive from its doc_id, and
    * `Multimodal.decodeAudioBatch` (the JDK `javax.sound.sampled` reader,
    * not a stub) decodes it back — the DuckDB oracle checks decode∘encode
    * = identity on the rate/frame arithmetic. Same codec-farm
    * `mapPartitions` shape: bytes never leave the executor.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = documents(s, dir).where(col("doc_id") < 100)
      .select(col("doc_id")).as[Long]
    val withWav = ids.mapPartitions { it =>
      it.map { id =>
        val rate = (8000 + (id % 3) * 4000).toFloat
        val frames = (id % 50 + 1).toInt
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
        val pcm = new Array[Byte](frames * 2)
        var f = 0
        while (f < frames) {
          val sample = (((id * 31 + f * 17) % 65536) - 32768).toShort
          pcm(2 * f) = (sample & 0xff).toByte
          pcm(2 * f + 1) = ((sample >> 8) & 0xff).toByte
          f += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
    Multimodal.decodeAudioBatch(withWav)
      .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
        col("frames"))
      .orderBy(col("doc_id"))
  }

  val multimodalAudioSql: String =
    """SELECT doc_id, CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels, CAST(doc_id % 50 + 1 AS BIGINT) AS frames
       FROM documents WHERE doc_id < 100 ORDER BY doc_id"""

  /** REAL frame-sampled video decode, oracle-gated end-to-end — the video
    * sibling of `multimodal_decode`: each row encodes an actual MJPEG-style
    * container (length-prefixed PNG frames, `Multimodal.encodeVideo`) whose
    * frame count and dimensions derive from its doc_id, and
    * `Multimodal.decodeVideoBatch` walks the frame index (skipped frames
    * are seeks, not decodes) and `javax.imageio`-decodes every 2nd frame —
    * so the DuckDB oracle checks decode∘encode = identity on the
    * frame-count/sampling/dimension arithmetic. Same codec-farm
    * `mapPartitions` shape: bytes never leave the executor.
    */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = documents(s, dir).where(col("doc_id") < 60)
      .select(col("doc_id")).as[Long]
    val withVid = ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val nFrames = (id % 9 + 2).toInt
        val w = (id % 11 + 1).toInt
        val h = (id % 5 + 1).toInt
        val frames = (0 until nFrames).map(fixturePng(id, _, w, h))
        (id, Multimodal.encodeVideo(frames))
      }
    }.toDF("doc_id", "payload")
    Multimodal.decodeVideoBatch(withVid, stride = 2)
      .select(col("id").as("doc_id"), col("n_frames"), col("sampled"),
        col("width"), col("height"))
      .orderBy(col("doc_id"))
  }

  val multimodalVideoSql: String =
    """SELECT doc_id, CAST(doc_id % 9 + 2 AS BIGINT) AS n_frames,
       CAST(((doc_id % 9 + 2) + 1) // 2 AS BIGINT) AS sampled,
       CAST(doc_id % 11 + 1 AS BIGINT) AS width,
       CAST(doc_id % 5 + 1 AS BIGINT) AS height
       FROM documents WHERE doc_id < 60 ORDER BY doc_id"""

  /** Per-source quota curation: keep the top-50 documents per source by
    * quality score — the "cap any one domain's contribution" cut every
    * web-corpus pipeline applies. Runs through the bounded-heap
    * TopKPerKey (partial prune per map partition → exchange of ≤ k rows
    * per source per task → final), so a source with a billion documents
    * costs k × partitions shuffle rows, not a corpus-sized sort; the
    * window row_number formulation is its oracle.
    */
  def sourceQuota(s: SparkSession, dir: String): DataFrame = {
    val scored = documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("score"))
    graft.plans.TopKPerKey.topK(scored, keys = Seq("source"),
        order = Seq("score" -> "desc", "doc_id" -> "asc"), k = 50)
      .orderBy(col("source"), col("score").desc, col("doc_id"))
  }

  val sourceQuotaSql: String =
    s"""SELECT doc_id, source, score FROM (
         SELECT doc_id, source, $qualityScoreExprSql AS score,
           row_number() OVER (PARTITION BY source
             ORDER BY $qualityScoreExprSql DESC, doc_id) AS rn
         FROM documents) WHERE rn <= 50
       ORDER BY source, score DESC, doc_id"""

  // ------------------------------------------- E8/E8b streaming gates ----

  /** Batch-replayable correctness surface for the STREAMING stateful
    * sessionizer (E8, `StatefulSessionize`): drain 1 processes the full
    * event history (emitting every gap-closed session), then a sentinel
    * event per user — beyond any real timestamp plus the gap — lands and
    * drain 2 resumes the same checkpoint, closing and emitting every
    * still-open session. The sentinel's own session stays open and is
    * never emitted, so the union of batch outputs is exactly the batch
    * `sessionize` truth — same oracle SQL gates both.
    */
  def streamingSessionize(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_sess_stream_")
    val landing = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    val outDir = s"$tmp/out"
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
    // one file per drop → one deterministic microbatch per drain (the state
    // fn orders within a batch; cross-batch order is the landing order)
    ev.coalesce(1).write.mode("overwrite").parquet(landing)
    StatefulSessionize.drainToDir(s, landing, ev.schema, ckpt, outDir)
    ev.groupBy(col("user_id"))
      .agg((max(col("t_us")) + lit(2L * StatefulSessionize.GapUs)).as("t_us"))
      .select(col("user_id"), lit(-1L).as("event_id"), col("t_us"))
      .coalesce(1).write.mode("append").parquet(landing)
    StatefulSessionize.drainToDir(s, landing, ev.schema, ckpt, outDir)
    Sources.parquet(s, outDir)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val streamingSessionizeSql: String = sessionizeSql

  /** Streaming exact dedup (E8b, `StreamingIngest.dedupStream`): the same
    * event drop lands twice; the watermarked `dropDuplicates` stream must
    * emit each distinct (user_id, event_type, ts) exactly once — the
    * DISTINCT truth the oracle computes. (Whether the second drop dies by
    * dedup state or by the watermark's late filter, the contract is the
    * same distinct set.)
    *
    * The drain lands in a parquet DIRECTORY (`drainAppendToDir`, the E12
    * machinery), not a memory sink: the emitted set here is ~every
    * distinct event, and a memory sink funnels all of it onto the driver
    * heap — measured 23 → 106 s across the 30×→100× decade (4.6× for
    * 3.33× data, pure driver GC) vs the executor-parallel file sink.
    * The one-file-per-drop landing stays: one deterministic microbatch
    * per drop is what makes the watermark replay batch-comparable.
    */
  def dedupStreamExact(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_dstream_")
    val landing = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    val outDir = s"$tmp/out"
    val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    ev.coalesce(1).write.mode("overwrite").parquet(landing)
    ev.coalesce(1).write.mode("append").parquet(landing)
    StreamingIngest.drainAppendToDir(s, landing, ev.schema,
      st => StreamingIngest.dedupStream(
        st, Seq("user_id", "event_type")),
      ckpt, outDir)
    Sources.parquet(s, outDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
      .orderBy(col("user_id"), col("event_type"), col("t_us"))
  }

  val dedupStreamExactSql: String =
    """SELECT DISTINCT user_id, event_type, epoch_us(ts) AS t_us
       FROM events ORDER BY user_id, event_type, t_us"""

  /** The E12 two-drain lateness replay under `tmp`: drain 1 lands `ev`
    * (events from `mnUs` to `mxUs`) plus an `advancer` row 3 h past its
    * end; drain 2 lands a replay of its first hour, behind the watermark
    * by then, plus an advancer 6 h past. Each drain runs `transform` in
    * append mode on one checkpoint; returns the batches' output dir.
    */
  private def lateReplay(tmp: String, ev: DataFrame, mnUs: Long, mxUs: Long,
      advancer: Long => DataFrame)(transform: DataFrame => DataFrame): String = {
    val landing = s"$tmp/landing"; val outDir = s"$tmp/out"
    val hourUs = 3600L * 1000 * 1000
    def drain(): Unit = StreamingIngest.drainAppendToDir(ev.sparkSession,
      landing, ev.schema, transform, s"$tmp/ckpt", outDir)
    ev.coalesce(1).write.mode("overwrite").parquet(landing)
    advancer(mxUs + 3 * hourUs).coalesce(1).write.mode("append").parquet(landing)
    drain()
    ev.where(unix_micros(col("ts")) < mnUs + hourUs)
      .coalesce(1).write.mode("append").parquet(landing)
    advancer(mxUs + 6 * hourUs).coalesce(1).write.mode("append").parquet(landing)
    drain()
    outDir
  }

  /** Watermark lateness, oracle-gated (E12): two file-landing drains over
    * the watermarked hourly aggregation. Drain 1 processes the full event
    * history plus one far-future advancer row, pushing the watermark past
    * every real window. Drain 2 lands a verbatim LATE REPLAY of the
    * earliest hour's events (now entirely behind the watermark — Spark
    * must drop them before the aggregation) plus a second advancer, and
    * append mode emits every real window exactly once with its FINAL
    * count. If late rows were not dropped, the replayed hour's counts
    * would double and the hash compare fails — so the oracle (plain
    * per-hour counts over the original events) gates the lateness
    * semantics end-to-end. Advancer rows carry a sentinel event_type and
    * are filtered on readback; their own windows never close.
    */
  def streamingLateDrop(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    // fixture windowed to the first 3 days (oracle filters identically):
    // the lateness GATE needs only (a) a full drain advancing the
    // watermark past every window and (b) a replay of the earliest hour
    // behind it — both are span-independent, and drain volume was the
    // cost (r16 task 6 cut 30 → 10 days; r17 task 7 cuts to 3 — still
    // ~72 real windows between the replayed hour and the watermark)
    val hourUs = 3600L * 1000 * 1000
    val all = events(s, dir).select(col("ts"), col("event_type"), col("value"))
    val mnUs = all.agg(min(unix_micros(col("ts")))).head().getLong(0)
    val cutUs = mnUs + 3L * 24 * hourUs
    val ev = all.where(unix_micros(col("ts")) < cutUs)
    val mxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    def advancer(tUs: Long) = s.range(1).select(
      timestamp_micros(lit(tUs)).as("ts"),
      lit("zz_advance").as("event_type"), lit(0.0).as("value"))
    // drain 1's watermark ends past every window; in drain 2 the real
    // windows emit and the late rows die
    Sources.parquet(s, lateReplay(tempDir("graft_late_"), ev, mnUs, mxUs,
        advancer)(StreamingIngest.hourlyCounts(_)))
      .where(col("event_type") =!= "zz_advance")
      .select(hourBucket(col("hour_start")).as("bucket"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  val streamingLateDropSql: String =
    """SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events
       WHERE epoch_us(ts) <
         (SELECT MIN(epoch_us(ts)) FROM events) + 259200000000
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // -------------------------------------------- L22 line-level dedup ----

  /** Line-level dedup (the C4/RefinedWeb boilerplate-removal stage):
    * segment each document into aligned 10-word lines, drop every line
    * that appears in ≥ 3 distinct documents (shared boilerplate), and
    * reassemble the survivors in order. Scale shape: the segmentation is
    * a narrow explode; the document-frequency pass is one map-side-
    * combining hash agg on 16-byte line hashes; the common-line set is
    * tiny by construction (only lines crossing the df threshold), so the
    * anti-join broadcasts under AQE; reassembly is one shuffle on doc_id
    * with per-doc-bounded state. Nothing is corpus-quadratic.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nLines = ceil(size(words) / lit(10.0)).cast("int")
    val lines = documents(s, dir)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nLines - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
        .as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"), md5(col("line")).as("lh"))
      // ONE segment explode + md5 pass (the oov_rate checkpoint
      // discipline): the common-line census and the anti-join both read
      // the materialized line frame — the former shape re-ran the
      // corpus-wide explode + per-line md5 for each consumer.
      .localCheckpoint(true)
    val common = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= 3).select(col("lh"))
    lines.join(common, Seq("lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val lineDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       l AS (SELECT doc_id, i AS pos,
               array_to_string(ws[(i-1)*10+1:i*10], ' ') AS line
             FROM w, unnest(range(1,
               CAST(ceil(len(ws)/10.0) AS BIGINT) + 1)) AS t(i)),
       common AS (SELECT md5(line) AS lh FROM l
                  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3)
       SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(line, ' ' ORDER BY pos)) AS clean_md5
       FROM l WHERE md5(line) NOT IN (SELECT lh FROM common)
       GROUP BY doc_id ORDER BY doc_id"""

  // ----------------------------------------------- L21 PII redaction ----

  /** PII redaction (L21): deterministic PII is spliced into each document
    * (the synthetic corpus carries none), then masked by the shared
    * RE2-compatible patterns; the oracle replays the identical splice +
    * patterns in DuckDB. Output is (count, md5-of-redacted-text) so the
    * gate checks exact textual equality without shipping the corpus.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val salted = documents(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 call +1 555-012-3456.")
        ).as("text"))
    salted.select(col("doc_id"),
      TextAnalysis.piiCount(col("text")).cast("long").as("n_pii"),
      md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String = {
    val Seq(email, ipv4, phone) = TextAnalysis.piiPatterns.map(_._2)
    def count(p: String) = s"len(regexp_extract_all(text, '$p'))"
    s"""SELECT doc_id,
         CAST(${count(email)} + ${count(ipv4)} + ${count(phone)} AS BIGINT)
           AS n_pii,
         md5(regexp_replace(regexp_replace(regexp_replace(text,
           '$email', '[EMAIL]', 'g'),
           '$ipv4', '[IPV4]', 'g'),
           '$phone', '[PHONE]', 'g')) AS redacted_md5
       FROM (SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com from 10.0.'
                 || (doc_id % 256) || '.7 call +1 555-012-3456.' AS text
             FROM documents WHERE doc_id < 200)
       ORDER BY doc_id"""
  }

  // ------------------------------------------- L25 NFC text canonicalize --

  /** NFC canonicalization (functions/NormalizeExpressions.scala): the
    * synthetic corpus is pure ASCII (NFC-invariant), so — like pii_redact —
    * each document is salted in-query with DECOMPOSED sequences (e + U+0301
    * combining acute, u + U+0308 diaeresis) plus control-char whitespace;
    * the kernel must compose them to single codepoints and collapse the
    * controls. The oracle replays the identical splice with `chr()` and
    * gates via `nfc_normalize` + the contract regex. Output carries both
    * the cleaned length and the md5 (exact bytes) plus a readable head.
    */
  def textNfcClean(s: SparkSession, dir: String): DataFrame = {
    val salted = documents(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"),
        concat(col("text"), lit(" ne\u0301e fiance\u0301"),
          lit("\tZu\u0308rich"), lit("\u000B\u000B x \u001F.")).as("t"))
    salted.select(col("doc_id"),
      length(graft.functions.NormalizeFunctions.nfcClean(col("t")))
        .cast("long").as("n_clean"),
      md5(graft.functions.NormalizeFunctions.nfcClean(col("t")))
        .as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val textNfcCleanSql: String =
    """SELECT doc_id,
       CAST(length(c) AS BIGINT) AS n_clean, md5(c) AS clean_md5
       FROM (SELECT doc_id,
               trim(regexp_replace(nfc_normalize(
                 text || ' ne' || chr(769) || 'e fiance' || chr(769)
                      || chr(9) || 'Zu' || chr(776) || 'rich'
                      || chr(11) || chr(11) || ' x ' || chr(31) || '.'),
                 '[\x00-\x20\x7F]+', ' ', 'g')) AS c
             FROM documents WHERE doc_id < 300)
       ORDER BY doc_id"""

  // --------------------------------------------------- E23 CDC merge ------

  /** CDC MERGE (operators/Compaction.scala mergeChangelog): a derived
    * changelog upserts every 5th order (status 'M', price doubled — exact
    * decimal) and then deletes every 10th; the merged snapshot must show
    * doubled-not-deleted keys mutated, %10 keys gone, the rest untouched.
    * One union + max_by hash agg — the oracle runs the textbook window
    * formulation the operator exists to avoid.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame =
    Compaction.mergeChangelog(orderRows(s, dir), orderChanges(s, dir),
        "o_orderkey", "seq", "op", Seq("o_custkey", "status", "total"))
      .orderBy(col("o_orderkey"))

  /** Orders as the E23 merge's rows: (o_orderkey, o_custkey, status,
    * total), the total exact to the cent.
    */
  private def orderRows(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus").as("status"),
      dec2(col("o_totalprice")).cast("double").as("total"))

  /** The E23 changelog: seq 1 upserts every 5th order (status 'M', price
    * doubled), seq 2 deletes every 10th; columns (o_orderkey, seq, op,
    * o_custkey, status, total).
    */
  private def orderChanges(s: SparkSession, dir: String): DataFrame = {
    val ups = orders(s, dir).where(pmod(col("o_orderkey"), lit(5)) === 0)
      .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
        col("o_custkey"), lit("M").as("status"),
        (dec2(col("o_totalprice")) * lit(2).cast("decimal(2,0)"))
          .cast("double").as("total"))
    val dels = orders(s, dir).where(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
        col("o_custkey"), lit(null).cast("string").as("status"),
        lit(null).cast("double").as("total"))
    ups.unionByName(dels)
  }

  val mergeUpsertSql: String =
    s"""WITH changes AS (
         SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey,
                'M' AS status,
                CAST(${sqlDec2("o_totalprice")} * 2 AS DOUBLE) AS total
         FROM orders WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, 2, 'D', o_custkey, NULL, NULL
         FROM orders WHERE o_orderkey % 10 = 0),
       unioned AS (
         SELECT o_orderkey, -1 AS seq, 'U' AS op, o_custkey,
                o_orderstatus AS status,
                CAST(${sqlDec2("o_totalprice")} AS DOUBLE) AS total
         FROM orders
         UNION ALL SELECT * FROM changes),
       latest AS (
         SELECT * FROM unioned
         QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                    ORDER BY seq DESC) = 1)
       SELECT o_orderkey, o_custkey, status, total FROM latest
       WHERE op <> 'D' ORDER BY o_orderkey"""

  // ---------------------------------------------- E24 inverted index ------

  /** Inverted index (operators/Indexing.scala): term → df + sorted
    * comma-joined postings over the normalized corpus, hapaxes pruned at
    * df ≥ 3, hot heads capped at 1000 ids (the synthetic corpus never hits
    * the cap, so the oracle's uncapped list agg replays exactly; the cap
    * is exercised in ExtrasSpec).
    */
  def invertedIndexQ(s: SparkSession, dir: String): DataFrame =
    Indexing.invertedIndex(documents(s, dir), col("doc_id"), col("text"),
        minDf = 3L, maxPostings = 1000)
      .orderBy(col("term"))

  val invertedIndexSql: String =
    s"""SELECT term, df, postings FROM (
         SELECT term, COUNT(*) AS df,
                array_to_string(list_transform(
                  list(doc_id ORDER BY doc_id)[1:1000],
                  x -> CAST(x AS VARCHAR)), ',') AS postings
         FROM (SELECT doc_id,
                 unnest(list_distinct(string_split($normalizeSql, ' ')))
                   AS term
               FROM documents)
         WHERE length(term) >= 2 GROUP BY term)
       WHERE df >= 3 ORDER BY term"""

  // ------------------------------------------- E25 histogram profiling ----

  /** Per-type equi-width histogram (operators/Profile.scala histogram):
    * 16 bins spanning each type's [min, max]. Bin index and left edge are
    * single-row double arithmetic replayed operation-for-operation in the
    * oracle (no accumulation ⇒ IEEE-identical at any parallelism).
    */
  def histogramValues(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(events(s, dir), col("event_type"), col("value"), 16)
      .orderBy(col("g"), col("bin"))

  val histogramValuesSql: String =
    """WITH ext AS (
         SELECT event_type AS g, CAST(MIN(value) AS DOUBLE) AS lo,
                CAST(MAX(value) AS DOUBLE) AS hi
         FROM events GROUP BY 1),
       binned AS (
         SELECT e.event_type AS g,
                CASE WHEN hi = lo THEN 0
                     ELSE LEAST(CAST(FLOOR((value - lo) * 16 / (hi - lo))
                                AS BIGINT), 15) END AS bin,
                lo, hi
         FROM events e JOIN ext ON e.event_type = ext.g)
       SELECT g, bin, COUNT(*) AS n, lo + bin * (hi - lo) / 16 AS bin_lo
       FROM binned GROUP BY g, bin, lo, hi ORDER BY g, bin"""

  // ------------------------------------------- E26 winsorize census -------

  /** Winsorization census (operators/Profile.scala winsorize): exact
    * interpolated p05/p95 per event type, clip counts each side, clipped
    * mass summed in decimal (order-independent). Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition
    * (already gated by value_percentiles).
    */
  def winsorizeClip(s: SparkSession, dir: String): DataFrame =
    Profile.winsorize(events(s, dir), col("event_type"), col("value"),
        0.05, 0.95)
      .orderBy(col("g"))

  val winsorizeClipSql: String =
    """WITH cuts AS (
         SELECT event_type AS g, quantile_cont(value, 0.05) AS lo,
                quantile_cont(value, 0.95) AS hi
         FROM events GROUP BY 1)
       SELECT e.event_type AS g, COUNT(*) AS n,
              CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_lo,
              CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_hi,
              lo AS p_lo, hi AS p_hi,
              CAST(SUM(CAST(GREATEST(LEAST(value, hi), lo)
                AS DECIMAL(18,2))) AS DOUBLE) AS clipped_sum
       FROM events e JOIN cuts ON e.event_type = cuts.g
       GROUP BY 1, lo, hi ORDER BY 1"""

  // ------------------------------------------- E27 cohort retention -------

  /** Cohort retention (operators/Cohort.scala): users bucketed by
    * first-activity day, distinct-active counted per (cohort, day offset).
    * Day buckets via the same integer `div` / `//` pair every partition
    * query uses.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame =
    Cohort.retention(events(s, dir), col("user_id"), col("ts"),
        86400000000L)
      .orderBy(col("cohort_p"), col("offset_p"))

  val cohortRetentionSql: String =
    """WITH ev AS (
         SELECT user_id AS u, epoch_us(ts) // 86400000000 AS p FROM events),
       coh AS (SELECT u, MIN(p) AS cohort_p FROM ev GROUP BY u),
       act AS (SELECT DISTINCT u, p FROM ev)
       SELECT cohort_p, p - cohort_p AS offset_p, COUNT(*) AS n_users
       FROM act JOIN coh USING (u)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------ E28 unpivot / melt ----

  /** Unpivot (melt): the wide per-day × event-type frame from the pivot
    * operator folded back to long form with `Dataset.unpivot` — the other
    * half of the reshape surface (E15 covers pivot). Unpivot is a narrow
    * Expand (each wide row emits one output row per value column, no
    * shuffle beyond the pivot's own agg); null cells (day × type never
    * seen) drop, so the round trip equals the direct long-form
    * aggregation, which is exactly what the oracle runs.
    */
  def unpivotValues(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = events(s, dir)
      .groupBy(dayBucket(col("ts")).as("bucket"))
      .pivot("event_type", types)
      .agg(sum(dec2(col("value"))).cast("double"))
    wide.unpivot(Array(col("bucket")), types.map(col).toArray,
        "event_type", "sum_value")
      .where(col("sum_value").isNotNull)
      .orderBy(col("bucket"), col("event_type"))
  }

  val unpivotValuesSql: String =
    """SELECT epoch_us(ts) // 86400000000 AS bucket, event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------- E29 exact-decimal correlation --

  /** Exact-decimal correlation (operators/Stats.scala): value vs
    * hour-of-day per event type. Built-in `corr` merges double moments in
    * partition order (ulp-unstable across partitionings); this sums the
    * five sufficient statistics in decimal and computes the one
    * closed-form expression in double — replayed token-for-token by the
    * oracle.
    */
  def corrExactQ(s: SparkSession, dir: String): DataFrame =
    Stats.corrExact(events(s, dir), col("event_type"), col("value"),
        hour(col("ts")))
      .orderBy(col("g"))

  val corrExactSql: String =
    """WITH s AS (
         SELECT event_type AS g, COUNT(*) AS n,
                SUM(CAST(value AS DECIMAL(18,2))) AS sx,
                SUM(CAST(hour(ts) AS DECIMAL(18,0))) AS sy,
                SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(hour(ts) AS DECIMAL(18,0))) AS sxy,
                SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS sxx,
                SUM(CAST(hour(ts) AS DECIMAL(18,0))
                    * CAST(hour(ts) AS DECIMAL(18,0))) AS syy
         FROM events GROUP BY 1)
       SELECT g, CAST(n AS BIGINT) AS n,
              CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                   * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
                AS corr,
              CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / CAST(n * (n - 1) AS DOUBLE) AS covar_samp
       FROM s ORDER BY g"""

  // ------------------------------------------------ E30 funnel steps ------

  /** Multi-step funnel (operators/Funnel.scala): view → click → purchase
    * in strict temporal order per user, one fact shuffle reused across
    * every stage. The oracle chains the per-step min-after-previous CTEs.
    */
  def funnelSteps(s: SparkSession, dir: String): DataFrame =
    Funnel.steps(events(s, dir), col("user_id"), col("event_type"),
        col("ts"), Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  val funnelStepsSql: String =
    """WITH s1 AS (
         SELECT user_id AS u, MIN(epoch_us(ts)) AS t FROM events
         WHERE event_type = 'view' GROUP BY 1),
       s2 AS (
         SELECT e.user_id AS u, MIN(epoch_us(e.ts)) AS t FROM events e
         JOIN s1 ON e.user_id = s1.u
         WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t GROUP BY 1),
       s3 AS (
         SELECT e.user_id AS u, MIN(epoch_us(e.ts)) AS t FROM events e
         JOIN s2 ON e.user_id = s2.u
         WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
         GROUP BY 1)
       SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
              CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
       UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
       UNION ALL SELECT 3, 'purchase',
                 CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
       ORDER BY step"""

  // ------------------------------------------- E31 integer PageRank -------

  /** Fixed-point PageRank (operators/PageRank.scala) on the bipartite
    * supplier⇄customer trade graph (both directions, disjoint id spaces
    * via a 1e7 supplier offset), 3 iterations. All-integer arithmetic,
    * so the oracle unrolls the identical three rounds with `//` and
    * matches byte-for-byte.
    */
  def pagerankIter(s: SparkSession, dir: String): DataFrame = {
    val pairs = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + lit(10000000L)).as("supp"),
        col("o_custkey").as("cust"))
      .distinct()
    val edges = pairs.select(col("supp").as("src"), col("cust").as("dst"))
      .unionByName(pairs.select(col("cust").as("src"), col("supp").as("dst")))
    PageRank.iterate(edges, k = 3).orderBy(col("v"))
  }

  val pagerankIterSql: String = {
    def round(prev: String, out: String) =
      s"""$out AS (
         SELECT v, CAST(150000 + (85 * COALESCE(m, 0)) // 100 AS BIGINT)
                  AS rank_micro
         FROM vertices LEFT JOIN (
           SELECT dst, CAST(SUM(rank_micro // outdeg) AS BIGINT) AS m
           FROM edges
           JOIN $prev ON $prev.v = edges.src
           JOIN outdeg ON outdeg.src = edges.src
           GROUP BY dst) c ON c.dst = vertices.v)"""
    s"""WITH pairs AS (
         SELECT DISTINCT l_suppkey + 10000000 AS supp, o_custkey AS cust
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (
         SELECT supp AS src, cust AS dst FROM pairs
         UNION ALL SELECT cust, supp FROM pairs),
       vertices AS (
         SELECT DISTINCT src AS v FROM edges
         UNION SELECT DISTINCT dst FROM edges),
       outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS rank_micro
              FROM vertices),
       ${round("r0", "r1")},
       ${round("r1", "r2")},
       ${round("r2", "r3")}
       SELECT v, rank_micro FROM r3 ORDER BY v"""
  }

  // --------------------------------------- E32 rolling distinct users -----

  /** 7-day trailing distinct users per day (operators/TimeSeries.scala
    * rollingDistinct): the fact collapses to distinct (user, day) BEFORE
    * the ×7 window explode — the explode multiplies the small frame, not
    * the event stream.
    */
  def rollingDistinctUsers(s: SparkSession, dir: String): DataFrame =
    TimeSeries.rollingDistinct(events(s, dir), col("user_id"), col("ts"),
        86400000000L, windowDays = 7)
      .orderBy(col("day_bucket"))

  /** Distinct users per trailing 7-day window, per day up to the last
    * event day, then the `extra` columns.
    */
  private def users7dSql(extra: String): String =
    s"""WITH ud AS (
         SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
         FROM events),
       tg AS (
         SELECT DISTINCT u, d + o AS td
         FROM ud, generate_series(0, 6) AS t(o))
       SELECT td AS day_bucket, COUNT(*) AS n_users_7d$extra
       FROM tg WHERE td <= (SELECT MAX(d) FROM ud)
       GROUP BY 1 ORDER BY 1"""

  val rollingDistinctUsersSql: String = users7dSql("")

  // ------------------------------------------- E33 time-weighted avg ------

  /** Per-user TWAP of value (operators/TimeSeries.scala twap): each
    * observation weighted by its µs holding time; decimal-exact weighted
    * sums, one user_id shuffle shared by the lead window and the agg.
    */
  def twapValue(s: SparkSession, dir: String): DataFrame =
    TimeSeries.twap(events(s, dir), col("user_id"), col("ts"), col("value"))
      .orderBy(col("u"))

  val twapValueSql: String =
    """WITH g AS (
         SELECT user_id AS u, CAST(value AS DECIMAL(18,2)) AS v,
                (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts) - epoch_us(ts))
                  // 1000000 AS gap
         FROM events)
       SELECT u, COUNT(*) AS n_obs,
              CAST(SUM(v * gap) AS DOUBLE) / CAST(SUM(gap) AS DOUBLE)
                AS twap
       FROM g WHERE gap IS NOT NULL GROUP BY u
       HAVING SUM(gap) > 0 ORDER BY u"""

  // ------------------------------------------- E34 snapshot diff ----------

  /** Snapshot reconciliation (operators/Reconcile.scala): orders vs a
    * deterministically mutated rebuild — %7 keys reprice (+1, exact
    * decimal), %13 keys dropped, a disjoint +30M key block inserted —
    * classified in one full-outer join + one agg. The oracle replays the
    * same mutation and the same counters.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (base, rebuilt) = snapshotVersions(s, dir)
    Reconcile.snapshotDiff(base, rebuilt, "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "total"))
  }

  /** The E34 snapshot pair: orders as (key, custkey, status, exact total)
    * and its rebuild with %7 keys repriced +1, %13 keys dropped and the
    * %11 keys copied 30M higher.
    */
  private def snapshotVersions(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val base = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), dec2(col("o_totalprice")).as("total"))
    val rebuilt = base
      .where(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(7)) === 0,
          col("total") + lit(1).cast("decimal(3,0)"))
          .otherwise(col("total")).as("total"))
      .unionByName(base.where(pmod(col("o_orderkey"), lit(11)) === 0)
        .select((col("o_orderkey") + lit(30000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("total")))
    (base, rebuilt)
  }

  val snapshotDiffSql: String =
    s"""WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                ${sqlDec2("o_totalprice")} AS total
         FROM orders),
       rebuilt AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 7 = 0 THEN total + 1
                     ELSE total END AS total
         FROM base WHERE o_orderkey % 13 <> 0
         UNION ALL
         SELECT o_orderkey + 30000000, o_custkey, o_orderstatus, total
         FROM base WHERE o_orderkey % 11 = 0),
       j AS (
         SELECT b.o_orderkey AS bk, r.o_orderkey AS rk,
                b.o_custkey AS bc, r.o_custkey AS rc,
                b.o_orderstatus AS bs, r.o_orderstatus AS rs,
                b.total AS bt, r.total AS rt
         FROM base b FULL OUTER JOIN rebuilt r
           ON b.o_orderkey = r.o_orderkey)
       SELECT
         CAST(SUM(CASE WHEN bk IS NOT NULL AND rk IS NOT NULL
           AND bc IS NOT DISTINCT FROM rc AND bs IS NOT DISTINCT FROM rs
           AND bt IS NOT DISTINCT FROM rt THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unchanged,
         CAST(SUM(CASE WHEN bk IS NOT NULL AND rk IS NOT NULL
           AND (bc IS DISTINCT FROM rc OR bs IS DISTINCT FROM rs
                OR bt IS DISTINCT FROM rt) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_modified,
         CAST(SUM(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted,
         CAST(SUM(CASE WHEN bk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inserted,
         CAST(SUM(CASE WHEN bk IS NOT NULL AND rk IS NOT NULL
           AND bc IS DISTINCT FROM rc THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_o_custkey,
         CAST(SUM(CASE WHEN bk IS NOT NULL AND rk IS NOT NULL
           AND bs IS DISTINCT FROM rs THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_o_orderstatus,
         CAST(SUM(CASE WHEN bk IS NOT NULL AND rk IS NOT NULL
           AND bt IS DISTINCT FROM rt THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_total
       FROM j"""

  // --------------------------------- E34b bucketed snapshot diff ----------

  /** The bucketed variant of snapshot_diff — the 100 TB mitigation the
    * decade row documents (the ad-hoc full-outer SMJ re-sorts both
    * sides per run; 4.4–5.4× wall across the 30×→100× decade): land
    * BOTH table versions bucketed+sorted by the key, and the diff's
    * full-outer join plans with ZERO exchanges — the sort amortized
    * into the layout, each run pays only the scan. Same classification,
    * same oracle as snapshot_diff.
    */
  def snapshotDiffBucketed(s: SparkSession, dir: String): DataFrame = {
    Seq("graft_snap_old", "graft_snap_new")
      .foreach(Sinks.dropManagedTable(s, _))
    val (base, rebuilt) = snapshotVersions(s, dir)
    base.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_snap_old")
    rebuilt.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_snap_new")
    Reconcile.snapshotDiff(s.table("graft_snap_old"),
      s.table("graft_snap_new"), "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "total"))
  }

  // identical classification — the layout, not the answer, changes
  val snapshotDiffBucketedSql: String = snapshotDiffSql

  // ------------------------------------- E35 streaming CDC merge ----------

  /** Streaming CDC apply (StreamingIngest.cdcMergeSink): the
    * merge_upsert changelog split into two drains over one checkpoint —
    * batch 0 carries the base as inserts, batch 1 the upserts+deletes;
    * each batch commits a full snapshot version (COW discipline,
    * replay-idempotent). The final version must equal the BATCH
    * merge_upsert truth, so that query's oracle gates this one verbatim.
    */
  def mergeUpsertStream(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_cdc_")
    val landing = s"$tmp/landing"; val snapDir = s"$tmp/snap"
    val ckpt = s"$tmp/ckpt"
    val payload = Seq("o_custkey", "status", "total")
    val base = orderRows(s, dir).select(col("o_orderkey"),
      lit(0L).as("seq"), lit("U").as("op"), col("o_custkey"), col("status"),
      col("total"))
    drainTwice(landing, base, orderChanges(s, dir)) {
      StreamingIngest.cdcMergeSink(_, "o_orderkey", "seq", "op", payload,
        snapDir, checkpointDir = Some(ckpt), availableNow = true)
    }
    val snaps = Sources.parquet(s, snapDir)
    val vmax = snaps.agg(max(col("version"))).collect()(0)
      .get(0).asInstanceOf[Number].longValue
    snaps.where(col("version") === vmax)
      .select(col("o_orderkey"), col("o_custkey"), col("status"),
        col("total"))
      .orderBy(col("o_orderkey"))
  }

  // the streaming CDC result must equal the batch MERGE truth
  val mergeUpsertStreamSql: String = mergeUpsertSql

  // ------------------------------------------ E36 stream-static join ------

  /** Stream-static join — the remaining Structured Streaming join
    * surface (E7 aggregates a stream, E20 joins two streams; this joins
    * a stream against a STATIC dimension): the event stream enriched
    * with each user's customer nation (user_id pmod-mapped onto the
    * customer table), counted per nation. The static side re-plans per
    * microbatch and broadcasts (it's dimension-sized); no watermark is
    * needed — static rows never expire. Oracle = the batch join truth.
    */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val landing = tempDir("graft_ssj2_")
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"))
    ev.write.mode("overwrite").parquet(landing)
    val staged = Sources.parquet(s, landing)
    val dim = customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val stream = s.readStream.schema(staged.schema).parquet(landing)
      .withColumn("c_custkey", pmod(col("user_id"), lit(1500)) + 1)
      .join(broadcast(dim), "c_custkey")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"))
    val name = s"graft_ss_static_${System.nanoTime()}"
    StreamingIngest.runAvailableNow(stream, name)
      .awaitTermination()
    s.table(name).orderBy(col("c_nationkey"))
  }

  val streamStaticJoinSql: String =
    """SELECT c_nationkey, COUNT(*) AS n_events
       FROM events e JOIN customer c
         ON (e.user_id % 1500) + 1 = c.c_custkey
       GROUP BY 1 ORDER BY 1"""

  // ------------------------------------- E3b window rank-family surface ---

  /** The remaining rank-family window surface in one query: rank,
    * dense_rank, percent_rank, cume_dist over (status, total) — all
    * tie-stable, so deterministic under value ties — plus ntile(4) over
    * the tie-broken (total, key) order (ntile splits ties by row
    * position, so its ordering must be total). One shuffle on status;
    * the (total, key) sort serves both window specs (prefix-compatible).
    */
  def windowRankStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTotal = Window.partitionBy(col("status"))
      .orderBy(col("total"))
    val tieBroken = Window.partitionBy(col("status"))
      .orderBy(col("total"), col("o_orderkey"))
    orders(s, dir).where(col("o_orderkey") < 3000)
      .select(col("o_orderstatus").as("status"), col("o_orderkey"),
        dec2(col("o_totalprice")).cast("double").as("total"))
      .select(col("status"), col("o_orderkey"), col("total"),
        rank().over(byTotal).cast("long").as("rnk"),
        dense_rank().over(byTotal).cast("long").as("drnk"),
        percent_rank().over(byTotal).as("prank"),
        cume_dist().over(byTotal).as("cdist"),
        ntile(4).over(tieBroken).cast("long").as("tile"))
      .orderBy(col("status"), col("o_orderkey"))
  }

  val windowRankStatsSql: String =
    s"""SELECT o_orderstatus AS status, o_orderkey,
         CAST(${sqlDec2("o_totalprice")} AS DOUBLE) AS total,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         percent_rank() OVER w AS prank,
         cume_dist() OVER w AS cdist,
         CAST(ntile(4) OVER (PARTITION BY o_orderstatus
           ORDER BY ${sqlDec2("o_totalprice")}, o_orderkey) AS BIGINT)
           AS tile
       FROM orders WHERE o_orderkey < 3000
       WINDOW w AS (PARTITION BY o_orderstatus
                    ORDER BY ${sqlDec2("o_totalprice")})
       ORDER BY status, o_orderkey"""

  // ------------------------------------------ E17b RANGE interval frame ---

  /** RANGE frame (E17's moving_avg is a ROWS frame — this is the value-
    * based sibling): trailing 7-day windowed sum/count over the daily
    * per-type decimal series, where the frame is defined by DAY DISTANCE,
    * not row count — days missing from the series still move the window.
    * The heavy lift (daily agg) is one shuffle; the window runs on the
    * |types × days| frame.
    */
  def rangeFrameSum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, dir)
      .groupBy(col("event_type"), dayBucket(col("ts")).as("day_bucket"))
      .agg(sum(dec2(col("value"))).as("day_sum"),
        count(lit(1)).as("day_n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_bucket"))
      .rangeBetween(-6, 0)
    daily.select(col("event_type"), col("day_bucket"),
        sum(col("day_sum")).over(w).cast("double").as("sum_7d"),
        sum(col("day_n")).over(w).cast("long").as("n_7d"))
      .orderBy(col("event_type"), col("day_bucket"))
  }

  val rangeFrameSumSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_bucket,
                SUM(CAST(value AS DECIMAL(18,2))) AS day_sum,
                COUNT(*) AS day_n
         FROM events GROUP BY 1, 2)
       SELECT event_type, day_bucket,
              CAST(SUM(day_sum) OVER w AS DOUBLE) AS sum_7d,
              CAST(SUM(day_n) OVER w AS BIGINT) AS n_7d
       FROM daily
       WINDOW w AS (PARTITION BY event_type ORDER BY day_bucket
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       ORDER BY event_type, day_bucket"""

  // ---------------------------------------- E5b explicit GROUPING SETS ----

  /** Arbitrary GROUPING SETS (E5's rollup/cube are the fixed lattices;
    * this is the general surface): per-status, per-priority, and grand
    * total in ONE pass — Catalyst plans the same Expand + single
    * aggregation as rollup. `grouping_id` disambiguates the null-as-
    * rolled-up rows, bit-identical to DuckDB's GROUPING().
    */
  def groupingSetsOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_sum"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"), col("gid"))

  val groupingSetsOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
         CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         COUNT(*) AS n,
         CAST(SUM(${sqlDec2("o_totalprice")}) AS DOUBLE) AS total_sum
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
                gid"""

  // ------------------------------------------ E37 anti-entropy checksum ---

  /** Anti-entropy table checksum (operators/Reconcile.tableChecksum):
    * order-independent per-bucket (count, xor, sum) signatures over
    * lineitem — the O(buckets)-output replica compare. The canonical row
    * rendering goes through decimal / epoch-micros so the md5 input is
    * byte-identical in any engine; the oracle recomputes every digest
    * from scratch.
    */
  def tableChecksumQ(s: SparkSession, dir: String): DataFrame = {
    val repr = concat_ws("|", col("l_orderkey"), col("l_linenumber"),
      dec2(col("l_quantity")), dec2(col("l_extendedprice")),
      col("l_returnflag"), unix_micros(col("l_shipdate")))
    Reconcile.tableChecksum(lineitem(s, dir), pmod(col("l_orderkey"), lit(64L)),
        repr)
      .orderBy(col("bucket"))
  }

  val tableChecksumSql: String =
    s"""WITH h AS (
         SELECT l_orderkey % 64 AS bucket,
           CAST('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber,
             ${sqlDec2("l_quantity")}, ${sqlDec2("l_extendedprice")},
             l_returnflag, epoch_us(l_shipdate))), 1, 15) AS BIGINT) AS h
         FROM lineitem)
       SELECT bucket, COUNT(*) AS n_rows, bit_xor(h) AS xor_sig,
              CAST(SUM(h & 1073741823) AS BIGINT) AS sum_lo,
              CAST(SUM(h >> 30) AS BIGINT) AS sum_hi
       FROM h GROUP BY bucket ORDER BY bucket"""

  // --------------------------------------------- E38 heavy hitters --------

  /** Heavy hitters (operators/Sketches.heavyHitters): corpus tokens with
    * a frequency share strictly above 1/200 — stopword discovery over
    * the Zipfian word distribution. The Misra-Gries pass prunes the
    * candidate space to ≤ 199 before any aggregation; the exact recount
    * makes the OUTPUT exact, so the oracle is the plain
    * full-vocabulary GROUP BY the sketch plan avoids shuffling.
    */
  def heavyWords(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
    Sketches.heavyHitters(toks, col("t"), 200)
      .orderBy(col("cnt").desc, col("item"))
  }

  val heavyWordsSql: String =
    """WITH toks AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item
         FROM documents),
       tot AS (SELECT COUNT(*) AS n FROM toks),
       c AS (SELECT item, COUNT(*) AS cnt FROM toks GROUP BY 1)
       SELECT item, cnt,
              CAST(cnt AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)
                AS share
       FROM c WHERE cnt * 200 > (SELECT n FROM tot)
       ORDER BY cnt DESC, item"""

  // --------------------------------------------- E39 exact-decimal OLS ----

  /** Grouped OLS (operators/Stats.olsExact): value ~ hour-of-day per
    * event type from decimal-exact sufficient statistics; slope /
    * intercept / R² each run their closed form in double exactly once,
    * replayed token-for-token by the oracle (see corr_exact, E29).
    */
  def olsExactQ(s: SparkSession, dir: String): DataFrame =
    Stats.olsExact(events(s, dir), col("event_type"), hour(col("ts")),
        col("value"))
      .orderBy(col("g"))

  val olsExactSql: String = {
    // decimal → double via VARCHAR: DuckDB's direct decimal cast
    // double-rounds ((double)int128, then /10^scale) and drifts an ulp
    // from Spark's correctly-rounded BigDecimal conversion once the
    // unscaled value crosses 2^53 (observed on n·Σy²−(Σy)² at sf0.1);
    // the string parse is strtod — correctly rounded at any magnitude
    val sNum = "CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)"
    val sDen = "CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)"
    val yDen = "CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)"
    s"""WITH s AS (
         SELECT event_type AS g, COUNT(*) AS n,
                SUM(CAST(hour(ts) AS DECIMAL(18,0))) AS sx,
                SUM(CAST(value AS DECIMAL(18,2))) AS sy,
                SUM(CAST(hour(ts) AS DECIMAL(18,0))
                    * CAST(value AS DECIMAL(18,2))) AS sxy,
                SUM(CAST(hour(ts) AS DECIMAL(18,0))
                    * CAST(hour(ts) AS DECIMAL(18,0))) AS sxx,
                SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS syy
         FROM events GROUP BY 1)
       SELECT g, CAST(n AS BIGINT) AS n,
              $sNum / $sDen AS slope,
              (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                 - $sNum / $sDen * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                / CAST(n AS DOUBLE) AS intercept,
              $sNum * $sNum / ($sDen * $yDen) AS r2
       FROM s ORDER BY g"""
  }

  // --------------------------------------------- L26 bigram collocations --

  /** Collocation extraction: per-lang top-5 adjacent word pairs by the
    * log-free PMI ratio score(x,y) = c(xy)·n / (c(x)·c(y)) (monotone in
    * PMI, so the ranking is identical; no transcendental calls keeps the
    * score IEEE-exact cross-engine — the tfidf discipline). One narrow
    * token/bigram explode; every join after the counts runs on
    * vocabulary-sized aggregated frames, never the corpus.
    */
  def bigramPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("lang"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        .as("w"))
    // adjacent pairs via slice+arrays_zip (plain codegen'd expressions)
    // rather than a transform() lambda — higher-order functions are
    // CodegenFallback, and the interpreted per-element lambda was 4.6×
    // super-linear at the 100× decade probe
    val pairs = toks.where(size(col("w")) >= 2)
      .select(col("lang"),
        slice(col("w"), lit(1), size(col("w")) - 1).as("xs"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("ys"))
      .select(col("lang"), explode(arrays_zip(col("xs"), col("ys"))).as("p"))
      .select(col("lang"), col("p.xs").as("x"), col("p.ys").as("y"))
    val uni = toks.select(col("lang"), explode(col("w")).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c_t"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("c_t")).as("n_tok"))
    val big = pairs.groupBy(col("lang"), col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= 5)
    val scored = big
      .join(uni.select(col("lang"), col("t").as("x"), col("c_t").as("c_x")),
        Seq("lang", "x"))
      .join(uni.select(col("lang"), col("t").as("y"), col("c_t").as("c_y")),
        Seq("lang", "y"))
      .join(tot, Seq("lang"))
      .select(col("lang"), col("x"), col("y"), col("c_xy"),
        (col("c_xy").cast("double") * col("n_tok").cast("double") /
          (col("c_x").cast("double") * col("c_y").cast("double")))
          .as("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("x"), col("y"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).drop("rn")
      .orderBy(col("lang"), col("x"), col("y"))
  }

  val bigramPmiSql: String =
    """WITH toks AS (
         SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents),
       pairs AS (
         SELECT lang, w[i] AS x, w[i + 1] AS y
         FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)),
       uni AS (
         SELECT lang, t, COUNT(*) AS c_t
         FROM (SELECT lang, unnest(w) AS t FROM toks) GROUP BY 1, 2),
       tot AS (SELECT lang, SUM(c_t) AS n_tok FROM uni GROUP BY 1),
       big AS (
         SELECT lang, x, y, COUNT(*) AS c_xy FROM pairs
         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
       scored AS (
         SELECT b.lang, b.x, b.y, b.c_xy,
           CAST(b.c_xy AS DOUBLE) * CAST(t.n_tok AS DOUBLE)
             / (CAST(ux.c_t AS DOUBLE) * CAST(uy.c_t AS DOUBLE)) AS score
         FROM big b
         JOIN uni ux ON b.lang = ux.lang AND b.x = ux.t
         JOIN uni uy ON b.lang = uy.lang AND b.y = uy.t
         JOIN tot t ON b.lang = t.lang)
       SELECT lang, x, y, c_xy, score FROM (
         SELECT lang, x, y, c_xy, score,
           row_number() OVER (PARTITION BY lang
             ORDER BY score DESC, x, y) AS rn
         FROM scored)
       WHERE rn <= 5 ORDER BY lang, x, y"""

  // ------------------------------------------ E40 hierarchy flattening ----

  /** Hierarchy flattening (operators/Hierarchy.flatten): root / depth /
    * materialized path over the derived supplier forest parent(v) = v/2
    * (v ≥ 2; v = 1 is the root) — ⌈log₂ depth⌉ pointer-doubling
    * self-joins instead of one join per level. All-integer + string
    * concatenation, so the oracle's recursive-CTE walk matches exactly.
    */
  def hierarchyFlatten(s: SparkSession, dir: String): DataFrame = {
    val nodes = supplier(s, dir).select(
      col("s_suppkey").cast("long").as("id"),
      when(col("s_suppkey") >= 2, expr("s_suppkey DIV 2")).as("parent"))
    Hierarchy.flatten(nodes)
      .select(col("id").as("s_suppkey"), col("root"),
        col("depth").cast("long").as("depth"), col("path"))
      .orderBy(col("s_suppkey"))
  }

  val hierarchyFlattenSql: String =
    """WITH RECURSIVE chain AS (
         SELECT s_suppkey AS id, s_suppkey AS anc, 0 AS depth,
                CAST(s_suppkey AS VARCHAR) AS path
         FROM supplier
         UNION ALL
         SELECT id, anc // 2, depth + 1,
                CAST(anc // 2 AS VARCHAR) || '/' || path
         FROM chain WHERE anc >= 2)
       SELECT id AS s_suppkey, CAST(anc AS BIGINT) AS root,
              CAST(depth AS BIGINT) AS depth, path
       FROM chain WHERE anc <= 1 ORDER BY s_suppkey"""

  // ------------------------------------------ E41 equi-depth histogram ----

  /** Per-type equi-depth (quartile) histogram: exact interpolated
    * cutoffs (E6b's `percentile` ≡ `quantile_cont` contract) broadcast
    * back over the fact for the per-bin counts — the fact never shuffles
    * for the join, and bin assignment is pure double comparison against
    * the cutoffs (no arithmetic, so nothing to drift).
    */
  def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    val cuts = events(s, dir).groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("event_type"), col("qs").getItem(0).as("q25"),
        col("qs").getItem(1).as("q50"), col("qs").getItem(2).as("q75"))
    events(s, dir).join(broadcast(cuts), Seq("event_type"))
      .groupBy(col("event_type"), col("q25"), col("q50"), col("q75"))
      .agg(
        sum(when(col("value") <= col("q25"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("value") > col("q25") && col("value") <= col("q50"),
          1L).otherwise(0L)).as("n2"),
        sum(when(col("value") > col("q50") && col("value") <= col("q75"),
          1L).otherwise(0L)).as("n3"),
        sum(when(col("value") > col("q75"), 1L).otherwise(0L)).as("n4"))
      .orderBy(col("event_type"))
  }

  val equidepthHistSql: String =
    """WITH cuts AS (
         SELECT event_type, quantile_cont(value, 0.25) AS q25,
                quantile_cont(value, 0.5) AS q50,
                quantile_cont(value, 0.75) AS q75
         FROM events GROUP BY 1)
       SELECT e.event_type, c.q25, c.q50, c.q75,
              CAST(SUM(CASE WHEN value <= q25 THEN 1 ELSE 0 END)
                AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN value > q25 AND value <= q50 THEN 1
                ELSE 0 END) AS BIGINT) AS n2,
              CAST(SUM(CASE WHEN value > q50 AND value <= q75 THEN 1
                ELSE 0 END) AS BIGINT) AS n3,
              CAST(SUM(CASE WHEN value > q75 THEN 1 ELSE 0 END)
                AS BIGINT) AS n4
       FROM events e JOIN cuts c USING (event_type)
       GROUP BY e.event_type, c.q25, c.q50, c.q75
       ORDER BY e.event_type"""

  // ------------------------------------------ E42 MAD robust outliers -----

  /** Robust outlier census: per-type median + MAD (median absolute
    * deviation), then |value − med| > 3·MAD counts — the scale/offset-
    * robust alternative to z-scores for corpus quality cuts. Two exact
    * percentile aggs with tiny broadcast joins back; every comparison is
    * pure double subtract/multiply (each exact once inputs are fixed, so
    * cross-engine drift is impossible).
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
    ev.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("med"), col("mad"), col("n_rows"),
        col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_rows").cast("double"))
          .as("outlier_rate"))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String =
    """WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY 1),
       mad AS (
         SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
         FROM events e JOIN med m USING (event_type) GROUP BY 1)
       SELECT e.event_type, m.med, d.mad, COUNT(*) AS n_rows,
              CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
                THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS outlier_rate
       FROM events e JOIN med m USING (event_type)
       JOIN mad d USING (event_type)
       GROUP BY e.event_type, m.med, d.mad
       ORDER BY e.event_type"""

  // ------------------------------------------ E43 chi-square test ---------

  /** Chi-square independence (operators/Stats.chiSquare): event_type ×
    * day-of-week (integer `day % 7` — engine-neutral, unlike the
    * Sunday-origin disagreements of dayofweek()). The statistic is a
    * sorted LEFT-FOLD over the tiny cell-term list, so it is
    * bit-identical at any parallelism; the oracle folds the same list
    * via `list(… ORDER BY …)` + `list_reduce`.
    */
  def chiSquareQ(s: SparkSession, dir: String): DataFrame =
    Stats.chiSquare(events(s, dir), col("event_type"),
      pmod(dayBucket(col("ts")), lit(7L)))

  val chiSquareSql: String =
    """WITH cells AS (
         SELECT event_type AS r, (epoch_us(ts) // 86400000000) % 7 AS c,
                COUNT(*) AS o
         FROM events GROUP BY 1, 2),
       rt AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY 1),
       ct AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY 1),
       tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT r) AS nr,
                      COUNT(DISTINCT c) AS nc FROM cells),
       terms AS (
         SELECT g.r, g.c,
           (CAST(COALESCE(cl.o, 0) AS DOUBLE) - g.e)
             * (CAST(COALESCE(cl.o, 0) AS DOUBLE) - g.e) / g.e AS term
         FROM (SELECT rt.r, ct.c,
                 CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                   / CAST((SELECT n FROM tot) AS DOUBLE) AS e
               FROM rt CROSS JOIN ct) g
         LEFT JOIN cells cl ON g.r = cl.r AND g.c = cl.c)
       SELECT
         list_reduce(list(term ORDER BY r, c), (a, b) -> a + b) AS chi2,
         CAST((SELECT (nr - 1) * (nc - 1) FROM tot) AS BIGINT) AS dof,
         CAST((SELECT n FROM tot) AS BIGINT) AS n_rows,
         CAST((SELECT nr * nc FROM tot) AS BIGINT) AS n_cells
       FROM terms"""

  // ------------------------------------------ L27 golden record -----------

  /** Golden-record survivorship (operators/Compaction.goldenRecord):
    * per-user master record where each column resolves INDEPENDENTLY —
    * latest event type overall, value of the latest PURCHASE, id of the
    * latest ERROR — one hash aggregation, conditional orderings packed
    * into decimal (the latest_by_key discipline). Users with no purchase
    * keep a NULL there while their other columns still resolve.
    */
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val ord = Compaction.packedOrd(unix_micros(col("ts")), col("event_id"),
      minorDigits = 10)
    Compaction.goldenRecord(events(s, dir), col("user_id"), ord, Seq(
        ("last_type", col("event_type"), lit(true)),
        ("last_purchase_value", col("value"), col("event_type") === "purchase"),
        ("last_error_id", col("event_id"), col("event_type") === "error")))
      .select(col("key").as("user_id"), col("last_type"),
        col("last_purchase_value"), col("last_error_id"), col("n_rows"))
      .orderBy(col("user_id"))
  }

  val goldenRecordSql: String =
    """WITH o AS (
         SELECT user_id, event_type, event_id, value,
           CAST(epoch_us(ts) AS DECIMAL(38,0)) * 10000000000 + event_id
             AS ord
         FROM events)
       SELECT user_id,
              arg_max(event_type, ord) AS last_type,
              arg_max(value, CASE WHEN event_type = 'purchase' THEN ord END)
                AS last_purchase_value,
              arg_max(event_id, CASE WHEN event_type = 'error' THEN ord END)
                AS last_error_id,
              COUNT(*) AS n_rows
       FROM o GROUP BY user_id ORDER BY user_id"""

  // ------------------------------------------ E6d mergeable HLL rollup ----

  /** Re-aggregatable distinct sketches: daily HLL sketches of the user
    * set, UNIONED into weekly estimates without touching raw data again —
    * the store-sketches-rollup-later pattern that makes distinct counts
    * composable at 100 TB (exact distincts can't reaggregate; sketches
    * merge associatively). Oracle contract like E6's HLL gate: the
    * merged estimate must land within 5% of the exact weekly distinct.
    */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(dayBucket(col("ts")).as("day"), col("user_id"))
    val weeklyApprox = ev.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy((col("day") / 7).cast("long").as("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
    val weeklyExact = ev
      .select((col("day") / 7).cast("long").as("week"), col("user_id"))
      .distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("exact_users"))
    weeklyExact.join(weeklyApprox, Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double")
          <= lit(0.05) * col("exact_users").cast("double")).as("approx_ok"))
      .orderBy(col("week"))
  }

  val hllRollupSql: String =
    """SELECT epoch_us(ts) // 86400000000 // 7 AS week,
       COUNT(DISTINCT user_id) AS exact_users, true AS approx_ok
       FROM events GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------ E9b SQL kernel surface ------

  /** The `graft_*` SQL function surface end-to-end: kernels registered
    * on the live session (functions/SqlFunctions.scala — same builder
    * table `GraftExtensions` injects for new sessions) and exercised
    * from a `spark.sql` text query over temp views — the path a
    * JDBC/notebook user takes. The oracle replays each kernel's
    * arithmetic (pre-token count, NFC length, left-fold cosine).
    */
  def sqlKernelSurface(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SqlFunctions.register(s)
    documents(s, dir).where(col("doc_id") < 21)
      .createOrReplaceTempView("g_docs")
    embeddings(s, dir).where(col("vec_id") < 22)
      .createOrReplaceTempView("g_vecs")
    s.sql("""
      SELECT d.doc_id,
             CAST(graft_bpe_count(d.text) AS BIGINT) AS n_pretokens,
             CAST(length(graft_nfc_clean(d.text)) AS BIGINT)
               AS n_clean_chars,
             graft_cosine(a.embedding, b.embedding) AS cos_next
      FROM g_docs d
      JOIN g_vecs a ON a.vec_id = d.doc_id
      JOIN g_vecs b ON b.vec_id = d.doc_id + 1
      ORDER BY d.doc_id""")
  }

  // ------------------------------------------ E40b hierarchy rollup -------

  /** Subtree aggregation over the materialized path (the reason E40
    * materializes it): each node's descendant count and summed account
    * balance — BOM/org-chart rollup. One narrow explode of the
    * depth-length ancestor array per node, one hash agg; no recursion at
    * query time, the pointer-doubling cost is paid once at flatten.
    */
  def hierarchyRollup(s: SparkSession, dir: String): DataFrame = {
    val nodes = supplier(s, dir).select(
      col("s_suppkey").cast("long").as("id"),
      when(col("s_suppkey") >= 2, expr("s_suppkey DIV 2")).as("parent"))
    val anc = Hierarchy.flatten(nodes)
      .select(col("id"), explode(split(col("path"), "/")).as("anc"))
      .select(col("id"), col("anc").cast("long").as("anc"))
    anc.join(supplier(s, dir)
        .select(col("s_suppkey").cast("long").as("id"),
          dec2(col("s_acctbal")).as("bal")), Seq("id"))
      .groupBy(col("anc").as("s_suppkey"))
      .agg(count(lit(1)).as("n_subtree"),
        sum(col("bal")).cast("double").as("subtree_bal"))
      .orderBy(col("s_suppkey"))
  }

  val hierarchyRollupSql: String =
    """WITH RECURSIVE chain AS (
         SELECT s_suppkey AS id, s_suppkey AS anc FROM supplier
         UNION ALL
         SELECT id, anc // 2 FROM chain WHERE anc >= 2)
       SELECT c.anc AS s_suppkey, COUNT(*) AS n_subtree,
              CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                AS subtree_bal
       FROM chain c JOIN supplier s ON s.s_suppkey = c.id
       GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------ E2c linear-interp gapfill ---

  /** Gap RECONSTRUCTION (E2b zero-fills; this interpolates): the daily
    * per-type series with a simulated two-day outage every five days
    * (day % 5 ∈ {1,2} dropped — structural gaps at ANY data volume),
    * rebuilt by linear interpolation between the nearest surviving
    * days. prev/next carried by IGNORE-NULLS windows sharing one
    * partition sort; the interpolation is a fixed chain of double ops on
    * exact inputs, replayed token-for-token (DuckDB windows support the
    * same IGNORE NULLS frames). Gaps are interior by construction (spine
    * bounds come from surviving days), so prev/next always exist.
    */
  def gapfillInterp(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), dayBucket(col("ts")).as("day"))
      .agg(sum(dec2(col("value"))).cast("double").as("v"))
      .where(pmod(col("day"), lit(5L)) =!= 1L &&
        pmod(col("day"), lit(5L)) =!= 2L)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    val j = spine.join(daily, Seq("event_type", "day"), "left")
    val wp = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    j.select(col("event_type"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wp).as("pv"),
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wp).as("pd"),
        first(col("v"), ignoreNulls = true).over(wn).as("nv"),
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wn).as("nd"))
      .select(col("event_type"), col("day"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("day") - col("pd")).cast("double") /
              (col("nd") - col("pd")).cast("double"))).as("filled"),
        col("v").isNull.as("interpolated"))
      .orderBy(col("event_type"), col("day"))
  }

  val gapfillInterpSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM events GROUP BY 1, 2),
       kept AS (SELECT * FROM daily WHERE day % 5 NOT IN (1, 2)),
       bounds AS (
         SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
         FROM kept GROUP BY 1),
       spine AS (
         SELECT event_type, UNNEST(range(lo, hi + 1)) AS day FROM bounds),
       j AS (
         SELECT s.event_type, s.day, k.v
         FROM spine s LEFT JOIN kept k USING (event_type, day)),
       w AS (
         SELECT event_type, day, v,
           last_value(v IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             OVER wp AS pd,
           first_value(v IGNORE NULLS) OVER wn AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             OVER wn AS nd
         FROM j
         WINDOW wp AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wn AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT event_type, day,
              CASE WHEN v IS NOT NULL THEN v
                   ELSE pv + (nv - pv)
                        * (CAST(day - pd AS DOUBLE)
                           / CAST(nd - pd AS DOUBLE)) END AS filled,
              v IS NULL AS interpolated
       FROM w ORDER BY event_type, day"""

  // ------------------------------------------ L28 leakage-free split ------

  /** Contamination-aware train/eval split: the eval set is a
    * deterministic content-hash cut (first md5 nibble = '0' — ~6%,
    * replayable on any engine), and every remaining SAME-LANGUAGE
    * near-dup of an eval document (cross-corpus MinHash candidates,
    * exact-Jaccard verified at t ≥ 0.5 — the L4 lang-blocking
    * discipline) is QUARANTINED out of train — the split every
    * benchmark-honest training pipeline needs, composed from the L20
    * cross-pairs machinery (eval side broadcasts; no corpus self-join;
    * the lang filter runs on the contamination-sized pair list).
    * Output: one row per document, split ∈ {eval, quarantined, train}.
    */
  def leakageFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val isEval = substring(md5(col("text")), 1, 1) === "0"
    val langOf = docs.select(col("doc_id"), col("lang"))
    val tainted = Dedup.minhashCrossPairs(
        corpus = docs.where(!isEval), evalSet = docs.where(isEval),
        id = col("doc_id"), text = col("text"), threshold = 0.5)
      .join(broadcast(langOf.select(col("doc_id").as("id_a"),
        col("lang").as("lang_a"))), Seq("id_a"))
      .join(broadcast(langOf.select(col("doc_id").as("id_b"),
        col("lang").as("lang_b"))), Seq("id_b"))
      .where(col("lang_a") === col("lang_b"))
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("q", lit(true))
    docs.select(col("doc_id"), isEval.as("is_eval"))
      .join(tainted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_eval"), "eval")
          .when(col("q").isNotNull, "quarantined")
          .otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  val leakageFreeSplitSql: String =
    s"""WITH ev AS (SELECT doc_id FROM documents
              WHERE substr(md5(text), 1, 1) = '0'),
       s AS (SELECT doc_id, lang, $shingleSql AS sh
         FROM ($shingleSrcSql)),
       tainted AS (
         SELECT DISTINCT b.doc_id
         FROM s a JOIN s b
           ON a.lang = b.lang
          AND a.doc_id IN (SELECT doc_id FROM ev)
          AND b.doc_id NOT IN (SELECT doc_id FROM ev)
          -- integer size bound implied by jac >= 0.5: prunes before any
          -- list intersection, cannot change the result set
          AND 3 * least(len(a.sh), len(b.sh)) >= len(a.sh) + len(b.sh)
         WHERE $jaccardSql >= 0.5)
       SELECT d.doc_id,
              CASE WHEN d.doc_id IN (SELECT doc_id FROM ev) THEN 'eval'
                   WHEN d.doc_id IN (SELECT doc_id FROM tainted)
                     THEN 'quarantined'
                   ELSE 'train' END AS split
       FROM documents d ORDER BY doc_id"""

  // ------------------------------------------ E44 data-quality audit ------

  /** Referential-integrity / key-quality audit in one result row: FK
    * orphans (orders→customer, lineitem→orders), duplicate natural keys,
    * and domain violations — the assertion pass a warehouse runs after
    * every load. Each check is a key-projected anti-join or count agg
    * (only keys cross the shuffles); the tiny 1-row aggregates
    * cross-join into the single audit row.
    */
  def dqAudit(s: SparkSession, dir: String): DataFrame = {
    def one(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as(name))
    val orphanOrders = one(orders(s, dir).select(col("o_custkey"))
      .join(customer(s, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti"),
      "orphan_orders")
    val orphanLines = one(lineitem(s, dir).select(col("l_orderkey"))
      .join(orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti"),
      "orphan_lineitems")
    val dupKeys = one(lineitem(s, dir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1), "dup_lineitem_keys")
    val negQty = one(lineitem(s, dir).where(col("l_quantity") <= 0),
      "nonpositive_quantity")
    val nullProps = one(events(s, dir).where(col("props").isNull),
      "null_props")
    orphanOrders.crossJoin(orphanLines).crossJoin(dupKeys)
      .crossJoin(negQty).crossJoin(nullProps)
  }

  val dqAuditSql: String =
    """SELECT
         (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS orphan_orders,
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
           AS orphan_lineitems,
         (SELECT COUNT(*) FROM (
            SELECT l_orderkey, l_linenumber FROM lineitem
            GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS dup_lineitem_keys,
         (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
           AS nonpositive_quantity,
         (SELECT COUNT(*) FROM events WHERE props IS NULL) AS null_props"""

  // ------------------------------------------ E45 last-touch attribution --

  /** Last-touch conversion attribution: each purchase credits the user's
    * most recent view at-or-before it (the E13 as-of kernel — one user
    * shuffle, no range explosion), bounded to a 24 h lookback; credited
    * value rolls up per view hour-of-day. Purchases with no qualifying
    * view land in the `-1` bucket, so total conversions reconcile.
    */
  def attributionLastTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("vt"))
    AsOfJoin.asOf(purchases, col("user_id"), col("pt"),
        views, col("user_id"), col("vt"), Seq("vt" -> col("vt")))
      .select(col("event_id"), col("value"),
        when(col("right_vt").isNotNull &&
            col("pt") - col("right_vt") <= 86400000000L,
          pmod(expr("right_vt DIV 3600000000"), lit(24L))).otherwise(-1L)
          .as("view_hour"))
      .groupBy(col("view_hour"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(dec2(col("value"))).cast("double").as("conv_value"))
      .orderBy(col("view_hour"))
  }

  val attributionLastTouchSql: String =
    """WITH p AS (
         SELECT event_id, user_id, epoch_us(ts) AS pt, value FROM events
         WHERE event_type = 'purchase'),
       v AS (
         SELECT user_id, epoch_us(ts) AS vt FROM events
         WHERE event_type = 'view'),
       att AS (
         SELECT p.event_id, p.value, MAX(v.vt) AS vt, p.pt
         FROM p LEFT JOIN v
           ON v.user_id = p.user_id AND v.vt <= p.pt
         GROUP BY p.event_id, p.value, p.pt)
       SELECT CASE WHEN vt IS NOT NULL AND pt - vt <= 86400000000
                THEN (vt // 3600000000) % 24 ELSE -1 END AS view_hour,
              COUNT(*) AS n_conversions,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                AS conv_value
       FROM att GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------ L29 corpus drift ------------

  /** Distribution drift between two corpus generations (even vs odd
    * doc_id — stand-ins for "last ingest" vs "this ingest"): per-token
    * chi-square-distance contributions between the two relative
    * frequencies, top-20 drifted tokens. The monitoring pass a
    * continuously-ingested training corpus runs before accepting a
    * batch. Exactness: counts are integers; each score is a fixed
    * per-row double chain ((pa−pb)²/(pa+pb) on single-division
    * relative frequencies), so rows replay bit-exact — no global fold
    * needed (ranking is per-row; ties break on the token).
    * Rare-token noise is cut by a combined-count ≥ 20 floor. Scale:
    * two token-count aggs (vocabulary-sized outputs), one vocab-sized
    * join; the corpus is scanned once per side, shuffled never.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(pmod(col("doc_id"), lit(2)).as("gen"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
    val counts = toks.groupBy(col("gen"), col("t"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy(col("gen")).agg(sum(col("c")).as("n"))
    val a = counts.where(col("gen") === 0)
      .join(broadcast(tot.where(col("gen") === 0)), "gen")
      .select(col("t"), col("c").as("ca"), col("n").as("na"))
    val b = counts.where(col("gen") === 1)
      .join(broadcast(tot.where(col("gen") === 1)), "gen")
      .select(col("t"), col("c").as("cb"), col("n").as("nb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    a.join(b, Seq("t"))
      .where(col("ca") + col("cb") >= 20L)
      .select(col("t"), col("ca"), col("cb"),
        ((pa - pb) * (pa - pb) / (pa + pb)).as("drift"))
      .orderBy(col("drift").desc, col("t"))
      .limit(20)
  }

  val corpusDriftSql: String =
    """WITH toks AS (
         SELECT doc_id % 2 AS gen,
                unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
         FROM documents),
       counts AS (SELECT gen, t, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       tot AS (SELECT gen, SUM(c) AS n FROM counts GROUP BY 1),
       a AS (SELECT t, c AS ca, n AS na FROM counts JOIN tot USING (gen)
             WHERE gen = 0),
       b AS (SELECT t, c AS cb, n AS nb FROM counts JOIN tot USING (gen)
             WHERE gen = 1)
       SELECT t, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
              (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
              * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
              / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) AS drift
       FROM a JOIN b USING (t)
       WHERE ca + cb >= 20
       ORDER BY drift DESC, t LIMIT 20"""

  // ------------------------------------------ E38b streaming heavy hitters

  /** Incremental heavy hitters over a LIVE token stream
    * (streaming/StreamingIngest.heavyHitterSink): two availableNow
    * drains land per-batch additive partial counts; the final
    * sum-and-filter over the partials must equal the batch truth —
    * E38's oracle verbatim. Continuous maintenance of a global
    * aggregate with replay-idempotent batch-keyed commits, the third
    * incremental-state shape next to E8c (anti-join state) and E35
    * (COW snapshots).
    */
  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_shh_")
    val landing = s"$tmp/landing"; val countsDir = s"$tmp/counts"
    val ckpt = s"$tmp/ckpt"
    val toks = documents(s, dir).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
    drainTwice(landing,
        toks.where(pmod(col("doc_id"), lit(2)) === 0).select(col("t")),
        toks.where(pmod(col("doc_id"), lit(2)) === 1).select(col("t"))) {
      StreamingIngest.heavyHitterSink(_, "t", countsDir,
        checkpointDir = Some(ckpt), availableNow = true)
    }
    val counts = Sources.parquet(s, countsDir)
      .groupBy(col("item")).agg(sum(col("cnt")).as("cnt"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("n_total"))))
      .where(col("cnt") * lit(200L) > col("n_total"))
      .select(col("item"), col("cnt"),
        (col("cnt").cast("double") / col("n_total").cast("double"))
          .as("share"))
      .orderBy(col("cnt").desc, col("item"))
  }

  val streamHeavyHittersSql: String = heavyWordsSql

  // ------------------------------------------ L7b perceptual image dedup --

  /** Perceptual near-dup over IMAGES (multimodal/Multimodal.aHash64):
    * deterministic 32×32 test images — an 8×8 block pattern from a
    * balanced splitmix64 of `doc_id % 100`, with ids ≥ 100 carrying
    * pixel-level noise (three pixels grayed) on their base's pattern.
    * The integer aHash collapses each noisy re-render onto its base's
    * signature (block means move ≪ the 0/255 contrast), so the
    * hash-equality self-join must emit EXACTLY the (id, id+100) pairs:
    * recall (noise hashed identically) and precision (no cross-base
    * collisions) both gate the oracle. Pixels never cross a shuffle —
    * only 8-byte signatures do (the dedup discipline on images).
    */
  def multimodalPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = documents(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withPng = ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def mix(z0: Long): Long = {
        var z = z0 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      it.map { id =>
        val base = id % 100
        // balanced 64-bit pattern (popcount exactly 32) so the global
        // mean sits mid-contrast and noise can never flip a block bit
        var bits = mix(base)
        while (java.lang.Long.bitCount(bits) > 32) bits &= bits - 1L
        while (java.lang.Long.bitCount(bits) < 32) bits |= bits + 1L
        val img = new java.awt.image.BufferedImage(32, 32,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            val v = if ((bits & (1L << (by * 8 + bx))) != 0L) 0xffffff else 0
            var y = by * 4
            while (y < by * 4 + 4) {
              var x = bx * 4
              while (x < bx * 4 + 4) { img.setRGB(x, y, v); x += 1 }
              y += 1
            }
            bx += 1
          }
          by += 1
        }
        if (id >= 100) {
          // pixel noise on the re-render: three pixels to mid-gray
          var k = 0
          while (k < 3) {
            img.setRGB(((base * 3 + k * 11) % 32).toInt,
              ((base * 7 + k * 5) % 32).toInt, 0x808080)
            k += 1
          }
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
    val hashes = Multimodal.aHash64(withPng).where(col("ok"))
      .select(col("id"), col("ahash"))
    hashes.as("l").join(hashes.as("r"),
        col("l.ahash") === col("r.ahash") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .orderBy(col("a"), col("b"))
  }

  val multimodalPhashSql: String =
    """SELECT doc_id AS a, doc_id + 100 AS b FROM documents
       WHERE doc_id < 100 ORDER BY a, b"""

  val sqlKernelSurfaceSql: String =
    s"""SELECT d.doc_id,
         CAST(len(regexp_extract_all(d.text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pretokens,
         CAST(length(trim(regexp_replace(nfc_normalize(d.text),
           '[\\x00-\\x20\\x7F]+', ' ', 'g'))) AS BIGINT) AS n_clean_chars,
         ${cosSql("a.embedding", "b.embedding")} AS cos_next
       FROM documents d
       JOIN embeddings a ON a.vec_id = d.doc_id
       JOIN embeddings b ON b.vec_id = d.doc_id + 1
       WHERE d.doc_id < 21 AND a.vec_id < 22 AND b.vec_id < 22
       ORDER BY d.doc_id"""

  // ------------------------------------------ E46 sweep-line concurrency --

  /** Peak concurrent user sessions per day ([[SweepLine.maxConcurrency]]
    * over the E4 session intervals). The session build is the `sessionize`
    * shape (one user shuffle); the sweep is two endpoint-frame shuffles
    * plus a |days|-window carry — never a global ordered window over data.
    */
  def maxConcurrency(s: SparkSession, dir: String): DataFrame =
    SweepLine.maxConcurrency(sessionSpans(s, dir), col("s_us"), col("e_us"))
      .orderBy(col("day_bucket"))

  val maxConcurrencySql: String =
    s"""WITH ${sessMarkedSql()},
       ivals AS (
         SELECT MIN(t_us) AS s_us, MAX(t_us) AS e_us
         FROM marked GROUP BY user_id, session_idx),
       deltas AS (
         SELECT t, CAST(SUM(d) AS BIGINT) AS delta FROM (
           SELECT s_us AS t, 1 AS d FROM ivals
           UNION ALL
           SELECT e_us + 1 AS t, -1 AS d FROM ivals)
         GROUP BY t),
       run AS (
         SELECT t // 86400000000 AS day, delta,
           CAST(SUM(delta) OVER (ORDER BY t) AS BIGINT) AS conc
         FROM deltas)
       -- conc - delta is the level JUST BEFORE each endpoint; for a day's
       -- first endpoint that is the start-of-day carry-in plateau, which
       -- must compete with the endpoint values for the day's max
       SELECT day AS day_bucket,
              MAX(GREATEST(conc, conc - delta)) AS max_concurrency
       FROM run GROUP BY day ORDER BY day_bucket"""

  // -------------------------------------- E47 largest-remainder rebate ----

  /** A 5% order-level rebate (integer cents) spread across each sampled
    * order's lines by [[Allocation.largestRemainder]] — allocations sum to
    * the order budget EXACTLY (spec-asserted), all math 64-bit integer.
    * The orderkey sample predicate pushes down to both scans.
    */
  def allocateRebate(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .where(pmod(col("l_orderkey"), lit(97L)) === 0L)
      .select(col("l_orderkey"), col("l_linenumber"),
        (dec2(col("l_extendedprice")) * lit(100)).cast("long").as("w"))
    val ord = orders(s, dir)
      .where(pmod(col("o_orderkey"), lit(97L)) === 0L)
      .select(col("o_orderkey"),
        call_function("div",
          (dec2(col("o_totalprice")) * lit(100)).cast("long"), lit(20L))
          .as("budget_c"))
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    Allocation.largestRemainder(joined, col("l_orderkey"),
        col("l_linenumber"), col("w"), col("budget_c"))
      .select(col("l_orderkey"), col("l_linenumber"), col("budget_c"),
        col("allocated").as("allocated_c"), col("bumped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val allocateRebateSql: String =
    """WITH li AS (
         SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
         FROM lineitem WHERE l_orderkey % 97 = 0),
       o AS (
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 20
             AS budget_c
         FROM orders WHERE o_orderkey % 97 = 0),
       j AS (
         SELECT l_orderkey, l_linenumber, w, budget_c,
           CAST(SUM(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS tot
         FROM li JOIN o ON l_orderkey = o_orderkey),
       b AS (
         SELECT *, (budget_c * w) // tot AS base,
           (budget_c * w) % tot AS rem
         FROM j),
       r AS (
         SELECT *, CAST(SUM(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
             AS base_sum,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
             ORDER BY rem DESC, l_linenumber) AS rn
         FROM b)
       SELECT l_orderkey, l_linenumber, budget_c,
         CAST(base + CASE WHEN rn <= budget_c - base_sum THEN 1 ELSE 0 END
           AS BIGINT) AS allocated_c,
         CAST(CASE WHEN rn <= budget_c - base_sum THEN 1 ELSE 0 END
           AS BIGINT) AS bumped
       FROM r ORDER BY l_orderkey, l_linenumber"""

  // ------------------------------------------ E48 transition matrix -------

  /** First-order Markov transition matrix of the per-user event-type
    * sequence ([[Funnel.transitions]]): counts + P(to | from).
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    Funnel.transitions(events(s, dir), col("user_id"), col("event_type"),
        col("ts"), col("event_id"))
      .orderBy(col("from_type"), col("to_type"))

  val eventTransitionsSql: String =
    """WITH seq AS (
         SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS to_type
         FROM events),
       grid AS (
         SELECT from_type, to_type, COUNT(*) AS n
         FROM seq WHERE to_type IS NOT NULL
         GROUP BY from_type, to_type)
       SELECT from_type, to_type, n,
         CAST(n AS DOUBLE) /
           CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
             AS DOUBLE) AS p_next
       FROM grid ORDER BY from_type, to_type"""

  // ------------------------------------------ E49 basket rules ------------

  /** Brand-pair association rules over order baskets
    * ([[Basket.pairRules]]): support / confidence / lift for brand pairs
    * co-ordered ≥ 10 times. The 25-brand domain takes the BITMAP path:
    * one codegen'd `bit_or` fact aggregate folds each order to a 64-bit
    * set, and all pair/item counting runs on the |mask patterns| frame —
    * never brand × brand across orders, nothing object-typed aggregates.
    * The oracle replays the equivalent (bk,it)-distinct self-join
    * formulation. Decade probes: 13.2 s at 30× / 43.6 s at 100× (linear,
    * bounded by the 15M-group fact agg) vs 120–200 s at 100× for the
    * collect_set formulation this replaced.
    */
  def basketBrandRules(s: SparkSession, dir: String): DataFrame = {
    val baskets = lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    Basket.pairRules(baskets, col("l_orderkey"), col("p_brand"), 10L)
      .orderBy(col("item_a"), col("item_b"))
  }

  val basketBrandRulesSql: String =
    """WITH bi AS (
         SELECT DISTINCT l_orderkey AS bk, p_brand AS it
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       nb AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM bi),
       ic AS (SELECT it, COUNT(*) AS n_it FROM bi GROUP BY it),
       pairs AS (
         SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS n_ab
         FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
         GROUP BY a.it, b.it
         HAVING COUNT(*) >= 10)
       SELECT item_a, item_b, n_ab, ia.n_it AS n_a, ib.n_it AS n_b,
         CAST(n_ab AS DOUBLE) / CAST(ia.n_it AS DOUBLE) AS confidence,
         CAST(n_ab * nb.n_baskets AS DOUBLE)
           / CAST(ia.n_it * ib.n_it AS DOUBLE) AS lift
       FROM pairs
       JOIN ic ia ON item_a = ia.it
       JOIN ic ib ON item_b = ib.it
       CROSS JOIN nb
       ORDER BY item_a, item_b"""

  // ------------------------------------- E53 incremental MV maintenance ---

  /** Daily-revenue materialized view maintained INCREMENTALLY
    * ([[MatView.buildThenMaintain]]): the stored generation is built from
    * pre-1997 days and written to parquet; the 1997+ delta folds in by
    * reading the STORED PARTIALS back (old fact never rescanned — the
    * delta scan's pushed filter is the proof, plan-guarded). Must equal
    * the full recompute, which is exactly what the oracle runs.
    */
  def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    val cut = to_timestamp(lit("1997-01-01"))
    def slice(f: Column => Column): DataFrame =
      lineitem(s, dir).where(f(col("l_shipdate")))
        .select(call_function("div", unix_micros(col("l_shipdate")),
          lit(86400000000L)).as("day_bucket"),
          revenueTerm(col("l_extendedprice"), col("l_discount")).as("rev"))
    val out = MatView.buildThenMaintain(s, slice(_ < cut), slice(_ >= cut),
      tempDir("graft_mv_"))
    out.select(col("day_bucket"), col("n_rows"),
        col("rev_sum").cast("double").as("revenue"))
      .orderBy(col("day_bucket"))
  }

  val mvIncrementalSql: String =
    s"""SELECT epoch_us(l_shipdate) // 86400000000 AS day_bucket,
       COUNT(*) AS n_rows,
       CAST(SUM($sqlRev) AS DOUBLE) AS revenue
       FROM lineitem GROUP BY day_bucket ORDER BY day_bucket"""

  // ------------------------------------ E51 consistent pseudonymization ---

  /** Customer keys replaced by [[Privacy.pseudonym]] surrogates in BOTH
    * customer and orders, then joined ON THE PSEUDONYM — proving the
    * one-way mapping preserves referential integrity (per-segment order
    * counts, value, and distinct-customer counts equal the raw-key join's;
    * the oracle replays the digest and the join). The pseudonym is a
    * narrow codegen projection — the join shape is unchanged.
    */
  def pseudonymizeJoin(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft-2026"
    val custP = customer(s, dir).select(
      Privacy.pseudonym(col("c_custkey"), salt).as("cust_pid"),
      col("c_mktsegment"))
    val ordP = orders(s, dir).select(
      Privacy.pseudonym(col("o_custkey"), salt).as("cust_pid"),
      col("o_totalprice"))
    ordP.join(custP, "cust_pid")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_value"),
        count_distinct(col("cust_pid")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val pseudonymizeJoinSql: String =
    """WITH c AS (
         SELECT substr(md5('graft-2026:' || CAST(c_custkey AS VARCHAR)), 1, 16)
             AS cust_pid, c_mktsegment
         FROM customer),
       o AS (
         SELECT substr(md5('graft-2026:' || CAST(o_custkey AS VARCHAR)), 1, 16)
             AS cust_pid, o_totalprice
         FROM orders)
       SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_value,
         COUNT(DISTINCT o.cust_pid) AS n_customers
       FROM o JOIN c USING (cust_pid)
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---------------------------------------------------- L30 OOV rate ------

  /** Per-document out-of-vocabulary rate against the corpus top-20 token
    * vocabulary (heavy_words' tokenization) — the rare-token quality
    * signal LM-data curation filters on. One token agg builds the vocab
    * (collapses to the saturating token dimension before its shuffle;
    * deterministic count-desc/token-asc cutoff), which joins back
    * BROADCAST onto the exploded token stream — the fact shuffles once,
    * for the per-doc count agg.
    */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    // ONE tokenization pass (previously two full explode+regex scans):
    // the per-(doc, token) count table is the Zipf-compact intermediate
    // — materialized once, then BOTH the vocab ranking and the per-doc
    // OOV census are token-count-weighted aggs over it. At 100× the old
    // shape re-tokenized the whole corpus for each side (69.5 s).
    val tokCounts = documents(s, dir).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val vocab = tokCounts.groupBy(col("t")).agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(20)
      .select(col("t").as("v"))
    tokCounts.join(broadcast(vocab), col("t") === col("v"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("v").isNull, col("cnt")).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  val oovRateSql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
             AS t
         FROM documents),
       v AS (
         SELECT t AS v FROM (
           SELECT t, COUNT(*) AS c FROM toks GROUP BY t
           ORDER BY c DESC, t LIMIT 20)),
       j AS (SELECT doc_id, toks.t, v.v FROM toks LEFT JOIN v ON toks.t = v.v)
       SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
       FROM j GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------- E52 small-file compaction ------

  /** The small-file-problem demo ([[graft.sources.Sinks.compactPartitions]]):
    * the event stream lands day-partitioned with 12 appended files per
    * leaf (the incremental-ingest tax), then compacts to ONE file per
    * leaf; the registered result reads the COMPACTED layout back, so the
    * oracle (raw events verbatim) proves the rewrite is content-exact.
    * Leaf file counts before/after are spec-asserted.
    */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_compact_")
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("value"),
      call_function("div", unix_micros(col("ts")), lit(86400000000L))
        .as("day"))
    // explicit partition count: a plain repartition(cols) would let AQE
    // coalesce the tiny shuffle back into few tasks and quietly
    // de-fragment the fixture (observed: every leaf already at 1 file)
    ev.repartition(48, col("day"), pmod(col("event_id"), lit(12L)))
      .write.partitionBy("day").mode("overwrite").parquet(s"$tmp/frag")
    val frag = Sources.parquet(s, s"$tmp/frag")
    Sinks.compactPartitions(frag, "day", s"$tmp/compact")
    Sources.parquet(s, s"$tmp/compact")
      .groupBy(col("day").cast("long").as("day_bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("day_bucket"))
  }

  val compactFilesSql: String =
    """SELECT epoch_us(ts) // 86400000000 AS day_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY day_bucket ORDER BY day_bucket"""

  // ------------------------------------ E7c built-in session windows ------

  /** The DECLARATIVE streaming sessionizer, in its PRODUCTION (append-
    * mode) form ([[graft.streaming.StreamingIngest.sessionWindowCountsAppend]]):
    * `session_window(ts, 30 min)` with a 1-hour watermark, drained with
    * the E12 two-drain discipline. Drain 1 lands the full history plus a
    * far-future advancer row (sentinel user_id −1), pushing the watermark
    * past every real session's close — append mode emits each session
    * EXACTLY ONCE and evicts its state. Drain 2 lands a verbatim LATE
    * REPLAY of the earliest hour (now entirely behind the watermark —
    * Spark must drop it before the merge; the original sessions' state is
    * already gone, so un-dropped replays would emit fresh duplicate
    * session rows and fail the hash) plus a second advancer that closes
    * the first advancer's own session. Sentinel rows are filtered on
    * readback. Touching windows merge, so the split boundary is
    * gap > 30 min — the same convention as the E4 batch `sessionize`
    * (the exact boundary is unit-pinned in StreamingDedupSpec), and the
    * oracle replays it. The complete-mode drain
    * ([[graft.streaming.StreamingIngest.sessionWindowCounts]]) remains as
    * the all-data demo/unit-test shape only: per-trigger output here is
    * O(sessions closed this trigger), not O(all sessions ever).
    */
  def streamingSessionWindow(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val ev = events(s, dir).select(col("user_id"), col("ts"))
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")).head()
    val mnUs = bounds.getLong(0); val mxUs = bounds.getLong(1)
    def advancer(tUs: Long) = s.range(1).select(
      lit(-1L).as("user_id"), timestamp_micros(lit(tUs)).as("ts"))
    // drain 1's watermark (mx+3h−1h) passes every real session's close
    // (≤ mx+30min), so all sessions emit once; drain 2's late replay must
    // be DROPPED, or duplicate sessions emit, and its advancer closes
    // advancer 1's own session
    Sources.parquet(s, lateReplay(tempDir("graft_sesswin_"), ev, mnUs, mxUs,
        advancer)(StreamingIngest.sessionWindowCountsAppend(
        _, "user_id", "ts", "30 minutes", "1 hour")))
      .where(col("user_id") >= 0L)
      .select(col("user_id"), col("start_us"), col("n_events"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val streamingSessionWindowSql: String =
    s"""WITH ${sessMarkedSql(inner = "user_id", tie = "")}
       SELECT user_id, MIN(t_us) AS start_us, COUNT(*) AS n_events
       FROM marked GROUP BY user_id, session_idx
       ORDER BY user_id, start_us"""

  // --------------------------- E8f dedup within watermark (retry dedup) ---

  /** `dropDuplicatesWithinWatermark` over a landing that contains every
    * event TWICE (the at-least-once-delivery retry shape): duplicates
    * arriving within the watermark delay of each other are guaranteed
    * dropped while state EVICTS as the watermark passes — the key needs
    * no timestamp component (unlike E8b's dropDuplicates, whose state
    * would otherwise grow with distinct keys forever). Output must be
    * exactly the distinct truth (the oracle).
    */
  def dedupWithinWatermarkQ(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_wmdedup_")
    val landing = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    val outDir = s"$tmp/out"
    val ev = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    ev.unionAll(ev).coalesce(1).write.mode("overwrite").parquet(landing)
    // file-sink drain, not a memory sink: the emitted set is every
    // distinct event, and a memory sink funnels all of it through the
    // driver heap (the E8b lesson — see dedupStreamExact)
    StreamingIngest.drainAppendToDir(s, landing, ev.schema,
      st => StreamingIngest.dedupWithinWatermark(st, Seq("event_id"), "ts",
        "2 hours"),
      ckpt, outDir)
    Sources.parquet(s, outDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"))
      .orderBy(col("event_id"))
  }

  val dedupWithinWatermarkSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS t_us
       FROM events ORDER BY event_id"""

  // ------------------------------------------ E54 Gini concentration ------

  /** Per customer: its market segment, its exact order revenue in cents
    * `x` and its order count `w`.
    */
  private def segmentCents(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).groupBy(col("o_custkey"))
      .agg((sum(dec2(col("o_totalprice"))) * lit(100)).cast("long").as("x"),
        count(lit(1)).as("w"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("c_custkey"), col("x"), col("w"))

  /** Revenue concentration per market segment: the Gini coefficient of
    * per-customer order revenue ([[Stats.gini]]) — exact decimal(38,0)
    * rank sums, one double division; the oracle replays the rank form in
    * HUGEINT and crosses to double via VARCHAR (the E39 lesson, since the
    * sums exceed 2⁵³).
    */
  def giniConcentration(s: SparkSession, dir: String): DataFrame =
    Stats.gini(segmentCents(s, dir).drop("w"), col("c_mktsegment"),
        col("c_custkey"), col("x"))
      .select(col("g").as("c_mktsegment"), col("n").as("n_customers"),
        col("gini"))
      .orderBy(col("c_mktsegment"))

  /** E54's wide-group escape, REGISTERED: the same Gini through the
    * two-level range rank ([[Ranks.runningByRange]]) — every group's
    * sort runs range-parallel instead of one task per segment. Must
    * hash-match `gini_concentration`'s oracle exactly (identical ranks ⇒
    * identical decimal sums ⇒ identical division).
    */
  def giniRanked(s: SparkSession, dir: String): DataFrame =
    Stats.gini(segmentCents(s, dir).drop("w"), col("c_mktsegment"),
        col("c_custkey"), col("x"), twoLevelRank = true)
      .select(col("g").as("c_mktsegment"), col("n").as("n_customers"),
        col("gini"))
      .orderBy(col("c_mktsegment"))

  val giniConcentrationSql: String =
    """WITH rev AS (
         SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS x
         FROM orders GROUP BY o_custkey),
       p AS (
         SELECT c_mktsegment, c_custkey, x
         FROM rev JOIN customer ON o_custkey = c_custkey),
       r AS (
         SELECT c_mktsegment, x,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
             ORDER BY x, c_custkey) AS i
         FROM p),
       a AS (
         SELECT c_mktsegment, COUNT(*) AS n, SUM(x) AS s0, SUM(i * x) AS s1
         FROM r GROUP BY c_mktsegment)
       SELECT c_mktsegment, n AS n_customers,
         CAST(CAST(2 * s1 - (n + 1) * s0 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n * s0 AS VARCHAR) AS DOUBLE) AS gini
       FROM a ORDER BY c_mktsegment"""

  // --------------------------------------- E55 Kaplan-Meier survival ------

  /** Session-duration survival with right-censoring
    * ([[Stats.kaplanMeier]]): subjects are the E4 sessions, duration in
    * whole minutes; a session whose last event falls within one gap
    * (30 min) of the corpus end is CENSORED — its closing gap cannot be
    * confirmed, so its true duration is only known to be ≥ the observed
    * one (dropping such sessions would bias the curve short; counting
    * them as ended, shorter still — K-M uses them correctly). The
    * cumulative product is a strict left fold the oracle replays with a
    * recursive CTE in the same order — bit-identical. One fact shuffle
    * (the session build); everything after is |distinct duration|-sized.
    */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val sessions = sessionSpans(s, dir)
    val maxT = events(s, dir).agg(max(unix_micros(col("ts"))).as("max_t"))
    val perSession = sessions.crossJoin(broadcast(maxT))
      .select(
        call_function("div", col("e_us") - col("s_us"),
          lit(60000000L)).as("dur_min"),
        when(col("e_us") <= col("max_t") - lit(1800000000L), 1)
          .otherwise(0).as("event"))
    Stats.kaplanMeier(perSession, col("dur_min"), col("event"))
      .select(col("t").as("t_min"), col("d"), col("n_risk"),
        col("survival"))
      .orderBy(col("t_min"))
  }

  val survivalKmSql: String =
    s"""WITH RECURSIVE ${sessMarkedSql()},
       mx AS (SELECT MAX(epoch_us(ts)) AS max_t FROM events),
       pu AS (
         SELECT (MAX(t_us) - MIN(t_us)) // 60000000 AS lt,
           CASE WHEN MAX(t_us) <= (SELECT max_t FROM mx) - 1800000000
             THEN 1 ELSE 0 END AS event
         FROM marked GROUP BY user_id, session_idx),
       tot AS (SELECT COUNT(*) AS n_total FROM pu),
       pt AS (
         SELECT lt, CAST(SUM(event) AS BIGINT) AS d, COUNT(*) AS o
         FROM pu GROUP BY lt),
       st AS (
         SELECT lt, d,
           (SELECT n_total FROM tot) - COALESCE(CAST(SUM(o) OVER (
             ORDER BY lt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS BIGINT), 0) AS n_risk
         FROM pt),
       sd AS (
         SELECT lt, d, n_risk,
           CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
             AS factor,
           ROW_NUMBER() OVER (ORDER BY lt) AS rn
         FROM st WHERE d > 0),
       rec AS (
         SELECT rn, lt, d, n_risk, factor AS s FROM sd WHERE rn = 1
         UNION ALL
         SELECT sd.rn, sd.lt, sd.d, sd.n_risk, rec.s * sd.factor
         FROM sd JOIN rec ON sd.rn = rec.rn + 1)
       SELECT lt AS t_min, d, n_risk, s AS survival
       FROM rec ORDER BY t_min"""

  // ------------------------------------- E56 seasonal-naive residuals -----

  /** Day-over-same-weekday anomaly screen
    * ([[TimeSeries.seasonalResiduals]]): each day's event count vs the
    * sum of its previous 2 same-weekday counts (the ~30-day synthetic
    * range only holds ~4 occurrences per weekday); ratio is one int/int
    * division, |ratio−1| > 0.5 flags.
    */
  def seasonalResidualsQ(s: SparkSession, dir: String): DataFrame =
    TimeSeries.seasonalResiduals(events(s, dir), col("ts"), lookback = 2)
      .orderBy(col("day_bucket"))

  val seasonalResidualsSql: String =
    """WITH daily AS (
         SELECT epoch_us(ts) // 86400000000 AS day_bucket,
           COUNT(*) AS n_events
         FROM events GROUP BY day_bucket),
       d2 AS (
         SELECT day_bucket, n_events, day_bucket % 7 AS dow FROM daily),
       w AS (
         SELECT day_bucket, dow, n_events,
           CAST(SUM(n_events) OVER (PARTITION BY dow ORDER BY day_bucket
             ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT)
             AS sum_prev,
           COUNT(*) OVER (PARTITION BY dow ORDER BY day_bucket
             ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS n_prev
         FROM d2)
       SELECT day_bucket, dow, n_events, sum_prev,
         CAST(n_events * 2 AS DOUBLE) / CAST(sum_prev AS DOUBLE) AS ratio,
         CAST(CASE WHEN ABS(CAST(n_events * 2 AS DOUBLE)
             / CAST(sum_prev AS DOUBLE) - CAST(1 AS DOUBLE))
             > CAST(0.5 AS DOUBLE)
           THEN 1 ELSE 0 END AS BIGINT) AS anomaly
       FROM w WHERE n_prev = 2 ORDER BY day_bucket"""

  // ---------------------------------- E57 transactional multi-table pub ---

  /** Two summary tables published ATOMICALLY as one version
    * ([[graft.pipeline.TxPublish]]): v1 lands from the pre-1997 slice,
    * v2 from the full data; readers resolve the committed manifest and
    * see v2 of BOTH — so the registered output (the status summary
    * carrying a cross-table reconciliation count from the priority
    * summary) equals the full-data oracle. Torn-state protection is
    * fault-injection-tested in the spec.
    */
  def txPublishQ(s: SparkSession, dir: String): DataFrame = {
    val base = tempDir("graft_txpub_")
    def summaries(cut: Option[Column]): Map[String, DataFrame] = {
      val o = cut.fold(orders(s, dir))(c =>
        orders(s, dir).where(col("o_orderdate") < c))
      Map(
        "orders_by_status" -> o.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec2(col("o_totalprice"))).cast("double").as("total_value")),
        "orders_by_priority" -> o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders")))
    }
    graft.pipeline.TxPublish.publish(
      summaries(Some(to_timestamp(lit("1997-01-01")))), base, 1L)
    graft.pipeline.TxPublish.publish(summaries(None), base, 2L)
    val a = graft.pipeline.TxPublish.read(s, base, "orders_by_status")
    val b = graft.pipeline.TxPublish.read(s, base, "orders_by_priority")
    a.crossJoin(broadcast(b.agg(sum(col("n_orders")).as("n_check"))))
      .select(col("o_orderstatus"), col("n_orders"), col("total_value"),
        col("n_check"))
      .orderBy(col("o_orderstatus"))
  }

  val txPublishSql: String =
    """WITH a AS (
         SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
         FROM orders GROUP BY o_orderstatus),
       b AS (SELECT COUNT(*) AS n_check FROM orders)
       SELECT o_orderstatus, n_orders, total_value, n_check
       FROM a CROSS JOIN b ORDER BY o_orderstatus"""

  // ------------------------------------------ E58 rolling correlation -----

  /** Trailing 14-day correlation between the daily view and purchase
    * count series ([[TimeSeries.rollingCorr]]) — exact integer
    * sufficient statistics per ROWS window, closed form in double once
    * per row. (14 days, not 30: the synthetic event range spans ~a
    * month, and a 30-day frame would leave a single full window.)
    */
  def rollingCorrQ(s: SparkSession, dir: String): DataFrame =
    TimeSeries.rollingCorr(events(s, dir), col("ts"), col("event_type"),
        "view", "purchase", 14)
      .orderBy(col("day_bucket"))

  val rollingCorrSql: String =
    """WITH daily AS (
         SELECT epoch_us(ts) // 86400000000 AS day_bucket,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS na,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS nb
         FROM events WHERE event_type IN ('view', 'purchase')
         GROUP BY day_bucket),
       w AS (
         SELECT day_bucket, na, nb,
           COUNT(*) OVER win AS cnt,
           CAST(SUM(na) OVER win AS BIGINT) AS sa,
           CAST(SUM(nb) OVER win AS BIGINT) AS sb,
           CAST(SUM(na * nb) OVER win AS BIGINT) AS sab,
           CAST(SUM(na * na) OVER win AS BIGINT) AS saa,
           CAST(SUM(nb * nb) OVER win AS BIGINT) AS sbb
         FROM daily
         WINDOW win AS (ORDER BY day_bucket
           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       SELECT day_bucket, na, nb,
         CAST(14 * sab - sa * sb AS DOUBLE)
           / (sqrt(CAST(14 * saa - sa * sa AS DOUBLE))
              * sqrt(CAST(14 * sbb - sb * sb AS DOUBLE))) AS corr_14d
       FROM w WHERE cnt = 14 ORDER BY day_bucket"""

  // ------------------------------------------ L6b persisted ANN index -----

  /** The build-once / query-many ANN lifecycle
    * ([[IvfIndex.annTopKIndexed]]): the Lloyd-refined centroids AND the
    * assigned corpus land as parquet, a fresh reader reloads both, and
    * the query pass pays only probe + candidate scoring — results must be
    * BIT-IDENTICAL to the in-memory `ann_ivf_refined` path (same oracle:
    * floats and double centroids round-trip parquet exactly).
    */
  def annIndexPersist(s: SparkSession, dir: String): DataFrame = {
    val idxDir = tempDir("graft_ivfidx_")
    val e = embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cent = IvfIndex.refine(e, nCells = 16, rounds = 2,
      orderedMeans = true)
    cent.write.mode("overwrite").parquet(s"$idxDir/centroids")
    IvfIndex.assign(e, cent).write.mode("overwrite")
      .parquet(s"$idxDir/corpus")
    val centR = Sources.parquet(s, s"$idxDir/centroids")
    val corpusR = Sources.parquet(s, s"$idxDir/corpus")
    IvfIndex.annTopKIndexed(e.where(col("id") < 10), corpusR, k = 5,
        nprobe = 4, centR)
      .orderBy(col("query_id"), col("rank"))
  }

  // -------------------------------------- E59 Mahalanobis outliers --------

  /** Per-priority bivariate outlier census over (order value, line count)
    * ([[Stats.mahalanobisCensus]]) — distance from the group's
    * correlation ellipse, closed-form 2×2 inverse, exact sufficient
    * statistics, fixed double chains the oracle replays exactly.
    */
  def mahalanobisOutliers(s: SparkSession, dir: String): DataFrame = {
    val lc = lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("nl"))
    val j = orders(s, dir)
      .join(lc, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("o_totalprice"), col("nl"))
    Stats.mahalanobisCensus(j, col("o_orderpriority"),
        col("o_totalprice"), col("nl"))
      .select(col("g").as("o_orderpriority"), col("n"), col("n_outliers"))
      .orderBy(col("o_orderpriority"))
  }

  val mahalanobisOutliersSql: String =
    """WITH lc AS (
         SELECT l_orderkey, COUNT(*) AS nl FROM lineitem GROUP BY 1),
       j AS (
         SELECT o_orderpriority AS g,
           CAST(o_totalprice AS DECIMAL(18,2)) AS x,
           CAST(nl AS DECIMAL(18,0)) AS y
         FROM orders JOIN lc ON o_orderkey = l_orderkey),
       st AS (
         SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
         FROM j GROUP BY g),
       st2 AS (
         SELECT g, n, sx, sy,
           CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS a,
           CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS b,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS c
         FROM st WHERE n >= 3),
       r AS (
         SELECT j.g, st2.n, st2.a, st2.b, st2.c,
           CAST(CAST(st2.n * j.x - st2.sx AS VARCHAR) AS DOUBLE) AS dxp,
           CAST(CAST(st2.n * j.y - st2.sy AS VARCHAR) AS DOUBLE) AS dyp
         FROM j JOIN st2 ON j.g = st2.g),
       d AS (
         SELECT g,
           (CAST(n - 1 AS DOUBLE)
             * (b * dxp * dxp - 2.0 * c * dxp * dyp + a * dyp * dyp))
           / (CAST(n AS DOUBLE) * (a * b - c * c)) AS d2
         FROM r)
       SELECT g AS o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CASE WHEN d2 > 5.991464547107979 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers
       FROM d GROUP BY g ORDER BY o_orderpriority"""

  // ---------------------------------------- E13b nearest as-of join -------

  /** Purchases as (event_id, user_id, pt) and views as (user_id, vt),
    * event times in µs: the two sides of a purchase → view as-of join.
    */
  private def purchasesAndViews(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("vt"))
    (purchases, views)
  }

  /** Purchase → NEAREST view attribution ([[AsOfJoin.asOfNearest]]):
    * backward or forward in time, whichever is closer (ties backward) —
    * the enrichment mode backward-only ASOF can't express (a purchase
    * seconds BEFORE its triggering view logs, clock skew, out-of-order
    * ingestion). Output: 10-minute |Δt| histogram per direction.
    */
  def asofNearestQ(s: SparkSession, dir: String): DataFrame = {
    val (purchases, views) = purchasesAndViews(s, dir)
    AsOfJoin.asOfNearest(purchases, col("user_id"), col("pt"),
        views, col("user_id"), col("vt"), Seq("vt" -> col("vt")))
      .groupBy(col("asof_dir"),
        call_function("div", abs(col("asof_dt")), lit(600000000L))
          .as("dt_bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("asof_dir").asc_nulls_first, col("dt_bin").asc_nulls_first)
  }

  val asofNearestSql: String =
    """WITH u AS (
         SELECT user_id, epoch_us(ts) AS t, 1 AS side, event_id,
           CAST(NULL AS BIGINT) AS vt
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, t, 0, NULL, t FROM (
           SELECT DISTINCT user_id, epoch_us(ts) AS t
           FROM events WHERE event_type = 'view')),
       w AS (
         SELECT *,
           last_value(vt IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY t, side
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
           first_value(vt IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY t, side
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ft
         FROM u),
       sel AS (
         SELECT event_id,
           CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (t - bt) <= (ft - t))
             THEN 'b' WHEN ft IS NOT NULL THEN 'f' END AS asof_dir,
           CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (t - bt) <= (ft - t))
             THEN bt - t WHEN ft IS NOT NULL THEN ft - t END AS dt
         FROM w WHERE side = 1)
       SELECT asof_dir, abs(dt) // 600000000 AS dt_bin, COUNT(*) AS n
       FROM sel GROUP BY asof_dir, dt_bin
       ORDER BY asof_dir NULLS FIRST, dt_bin NULLS FIRST"""

  // ----------------------------------------------- E60 2-D skyline --------

  /** Per-brand Pareto frontier of parts minimizing (price, size)
    * ([[Skyline.skyline2d]]) — running-minima windows, no quadratic
    * dominance join; pure integer orderings.
    */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select(col("p_brand"), col("p_partkey"),
      (dec2(col("p_retailprice")) * lit(100)).cast("long").as("price_c"),
      col("p_size"))
    Skyline.skyline2d(p, col("p_brand"), col("price_c"), col("p_size"))
      .orderBy(col("p_brand"), col("price_c"), col("p_partkey"))
  }

  val skylinePartsSql: String =
    """WITH p AS (
         SELECT p_brand, p_partkey,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS price_c,
           p_size
         FROM part),
       w AS (
         SELECT *,
           MIN(p_size) OVER (PARTITION BY p_brand ORDER BY price_c
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb,
           MIN(p_size) OVER (PARTITION BY p_brand, price_c) AS mt
         FROM p)
       SELECT p_brand, p_partkey, price_c, p_size
       FROM w WHERE (mb IS NULL OR mb > p_size) AND mt >= p_size
       ORDER BY p_brand, price_c, p_partkey"""

  // ------------------------------------ L33 weighted systematic sample ----

  /** Deterministic PPS corpus sampling ([[Sampling.weightedSystematic]]):
    * ~100 draws proportional to document length — no RNG, no global
    * ordered window; oversized docs carry `n_hits` > 1.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSystematic(
        documents(s, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"), col("n_chars"), 100L)
      .orderBy(col("doc_id"))

  val sampleWeightedSql: String =
    """WITH d AS (
         SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
       c AS (
         SELECT doc_id, w,
           COALESCE(CAST(SUM(w) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS prior
         FROM d),
       t AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM d),
       s AS (
         SELECT doc_id, w, prior, (total + 99) // 100 AS step
         FROM c CROSS JOIN t)
       SELECT doc_id, w AS weight,
         ((prior + w - 1) // step) - ((prior + step - 1) // step) + 1
           AS n_hits
       FROM s WHERE ((prior + step - 1) // step) * step < prior + w
       ORDER BY doc_id"""

  // --------------------------------- E36b streaming temporal enrichment ---

  /** Streamed purchases enriched with the SESSION VALID AT EVENT TIME
    * ([[graft.streaming.StreamingIngest.asofEnrichSink]]): each
    * microbatch as-of joins against the static session-start dimension —
    * the temporally-correct enrichment a plain stream-static equi-join
    * can't do. Every purchase must land with its OWN session's index
    * (the oracle reads it straight off the batch sessionize), so the
    * gate is row-exact.
    */
  def streamAsofEnrich(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_sae_")
    val dim = sessionMarked(s, dir)
      .groupBy(col("user_id").as("d_user"), col("session_idx"))
      .agg(min(col("t_us")).as("s_us"))
    val purchases = events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
    val landing = s"$tmp/landing"
    // parallel landing write: this sink is single-batch (AvailableNow, no
    // per-file trigger), so the file COUNT carries no batch semantics —
    // unlike the multi-batch fixtures whose coalesce(1)+append sequencing
    // IS the trigger schedule. At the 300× decade a coalesce(1) here
    // funnels the whole purchase stream through one write task inside the
    // timed query; scan-shaped parallelism costs nothing at sf0.1.
    purchases.write.mode("overwrite").parquet(landing)
    val stream = s.readStream.schema(purchases.schema).parquet(landing)
    StreamingIngest.asofEnrichSink(stream, dim,
        "user_id", "pt", col("d_user"), col("s_us"),
        Seq("session_idx" -> col("session_idx")),
        s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination()
    Sources.parquet(s, s"$tmp/out")
      .select(col("event_id"), col("right_session_idx").as("session_idx"))
      .orderBy(col("event_id"))
  }

  val streamAsofEnrichSql: String =
    s"""WITH ${sessMarkedSql("event_id, event_type",
         "user_id, event_id, event_type")}
       SELECT event_id, CAST(session_idx AS BIGINT) AS session_idx
       FROM marked WHERE event_type = 'purchase' ORDER BY event_id"""

  // ------------------------------------------ E6e HLL overlap estimate ----

  /** Distinct-user overlap between the view and purchase audiences from
    * MERGEABLE sketches: |A∩B| ≈ |A| + |B| − |A∪B| by inclusion-
    * exclusion over three `hll_sketch_agg`s — set intersection made
    * reaggregatable (exact intersections can't compose; sketches can).
    * Same contract-oracle pattern as E6: the estimate must land within
    * 10% of the exact intersection, which the oracle computes.
    */
  def hllOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"))
    val exact = ev.where(col("event_type") === "view")
      .select(col("user_id")).distinct()
      .join(ev.where(col("event_type") === "purchase")
        .select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("n_both_exact"))
    val est = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(
        when(col("event_type") === "view", col("user_id")))).as("ea"),
      hll_sketch_estimate(hll_sketch_agg(
        when(col("event_type") === "purchase", col("user_id")))).as("eb"),
      hll_sketch_estimate(hll_sketch_agg(
        when(col("event_type").isin("view", "purchase"), col("user_id"))))
        .as("eu"),
      count_distinct(when(col("event_type") === "view", col("user_id")))
        .as("n_view"),
      count_distinct(when(col("event_type") === "purchase", col("user_id")))
        .as("n_purchase"))
    est.crossJoin(broadcast(exact))
      .select(col("n_view"), col("n_purchase"), col("n_both_exact"),
        (abs(col("ea") + col("eb") - col("eu")
          - col("n_both_exact").cast("double"))
          <= lit(0.1) * col("n_both_exact").cast("double"))
          .as("overlap_ok"))
  }

  val hllOverlapSql: String =
    """WITH v AS (
         SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
       p AS (
         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
       SELECT (SELECT COUNT(*) FROM v) AS n_view,
         (SELECT COUNT(*) FROM p) AS n_purchase,
         (SELECT COUNT(*) FROM v JOIN p USING (user_id)) AS n_both_exact,
         true AS overlap_ok"""

  // --------------------------------------- L34 BM25-style retrieval -------

  /** Ranked retrieval over the corpus for the query {hash, stream, dup} —
    * the search capability on top of the E24 inverted-index family.
    * Okapi BM25 shape (k1 = 1.2, b = 0.75) with the LOG-FREE idf ratio
    * (N − df + 0.5)/(df + 0.5) — the L26 bigram-PMI discipline: a
    * transcendental log would be libm-dependent across engines, and the
    * ratio keeps per-term ranking monotone in df. Per-doc score is a
    * LEFT FOLD over the term-sorted (term, score) list (the engine's
    * cosine-fold rule), replayed by `list_reduce` in the oracle — so the
    * double sum is bit-identical at any parallelism.
    *
    * Shape: ONE tokenization pass feeds both the doc-length agg and the
    * term-filtered tf agg (term filter BEFORE the shuffle); df and the
    * corpus stats broadcast back; the final cut rides the bounded-heap
    * TopKPerKeyExec, never a corpus sort.
    */
  def bm25Retrieval(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("hash", "stream", "dup")
    val toks = documents(s, dir).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint() // feeds stats + the per-doc join
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .select(col("n_docs"),
        (col("tot").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val tf = toks.where(col("t").isInCollection(qTerms))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs").cast("double") - col("df").cast("double")
      + lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25)
        + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    val perTerm = tf
      .join(broadcast(dfreq), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("t"), (idf * tfn).as("s"))
    val scored = perTerm.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sort_array(collect_list(struct(col("t"), col("s")))).as("parts"))
      .select(col("doc_id"), col("n_terms"), expr(
        "aggregate(parts, cast(0.0 as double), (acc, x) -> acc + x.s)")
        .as("score"))
      .withColumn("_k", lit(0))
    val top = graft.plans.TopKPerKey.topK(scored, keys = Seq("_k"),
      order = Seq("score" -> "desc", "doc_id" -> "asc"), k = 20)
    top.select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  val bm25RetrievalSql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
             AS t
         FROM documents),
       dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
       st AS (
         SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         FROM dl),
       tf AS (
         SELECT doc_id, t, COUNT(*) AS tf FROM toks
         WHERE t IN ('hash', 'stream', 'dup') GROUP BY doc_id, t),
       dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       pt AS (
         SELECT tf.doc_id, tf.t,
           ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
             / (CAST(df AS DOUBLE) + 0.5))
           * ((CAST(tf AS DOUBLE) * 2.2)
             / (CAST(tf AS DOUBLE) + 1.2 * (0.25
               + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS s
         FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id) CROSS JOIN st),
       sc AS (
         SELECT doc_id, COUNT(*) AS n_terms,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(s ORDER BY t)), (acc, x) -> acc + x) AS score
         FROM pt GROUP BY doc_id)
       SELECT doc_id, n_terms, score FROM sc
       ORDER BY score DESC, doc_id ASC LIMIT 20"""

  // ------------------------------------------ E61 trending rank movement --

  /** Daily top-5 brands by revenue WITH rank movement vs the brand's
    * previous active day — the "trending" report. Movement comes from a
    * `lag` over each brand's day series (NOT a self-join onto a
    * checkpointed rank table: that shape consumed the ranked frame twice
    * and cost 85 s at the 100× probe; the lag form re-uses the one
    * |days×brands| frame and runs at the revenue-scan floor). Revenue is
    * the exact decimal term; ranks tie-break by brand, so both engines
    * agree. The part dimension is BROADCAST-hinted — it crosses the
    * 10 MB auto threshold at the decade dirs and the fact would
    * otherwise SMJ-sort.
    */
  def trendingBrands(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(call_function("div", unix_micros(col("l_shipdate")),
        lit(86400000000L)).as("day_bucket"), col("p_brand"))
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .as("rev"))
    val byDay = Window.partitionBy(col("day_bucket"))
      .orderBy(col("rev").desc, col("p_brand").asc)
    val byBrand = Window.partitionBy(col("p_brand"))
      .orderBy(col("day_bucket").asc)
    daily.withColumn("rnk", row_number().over(byDay).cast("long"))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(byBrand))
      .where(col("rnk") <= 5)
      .select(col("day_bucket"), col("p_brand"),
        col("rev").cast("double").as("revenue"), col("rnk"),
        col("prev_rnk"), (col("prev_rnk") - col("rnk")).as("movement"))
      .orderBy(col("day_bucket"), col("rnk"))
  }

  val trendingBrandsSql: String =
    s"""WITH daily AS (
         SELECT epoch_us(l_shipdate) // 86400000000 AS day_bucket, p_brand,
           SUM($sqlRev) AS rev
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY day_bucket, p_brand),
       ranked AS (
         SELECT day_bucket, p_brand, rev,
           CAST(ROW_NUMBER() OVER (PARTITION BY day_bucket
             ORDER BY rev DESC, p_brand) AS BIGINT) AS rnk
         FROM daily),
       mv AS (
         SELECT day_bucket, p_brand, rev, rnk,
           lag(rnk, 1) OVER (PARTITION BY p_brand ORDER BY day_bucket)
             AS prev_rnk
         FROM ranked)
       SELECT day_bucket, p_brand, CAST(rev AS DOUBLE) AS revenue,
         rnk, prev_rnk, prev_rnk - rnk AS movement
       FROM mv WHERE rnk <= 5
       ORDER BY day_bucket, rnk"""

  // ------------------------------------ E62 bitemporal reconstruction -----

  /** Two-axis time travel ([[Bitemporal.stateAt]]): every order lands as
    * a tx-1 'P' row; orders with key % 7 = 0 get a RETROACTIVE status
    * correction at tx 2 (same valid time, later transaction time). The
    * query reconstructs the valid-date-1997-06-30 state under BOTH
    * transaction views — what we believed then (tx ≤ 1) vs what we know
    * now (tx ≤ 2) — and aggregates per status; the oracle derives both
    * views independently from the raw orders.
    */
  def bitemporalAsof(s: SparkSession, dir: String): DataFrame = {
    val vf = call_function("div", unix_micros(col("o_orderdate")),
      lit(86400000000L))
    val validAt = lit(
      java.time.LocalDate.parse("1997-06-30").toEpochDay)
    val base = orders(s, dir).select(col("o_orderkey"), vf.as("vf"),
      col("o_orderstatus"), col("o_totalprice"))
    val fact = base
      .select(col("o_orderkey"), col("vf"), lit(1L).as("tx"),
        lit("P").as("status"), col("o_totalprice"))
      .unionByName(base.where(pmod(col("o_orderkey"), lit(7L)) === 0L)
        .select(col("o_orderkey"), col("vf"), lit(2L).as("tx"),
          col("o_orderstatus").as("status"), col("o_totalprice")))
    def view(tx: Long): DataFrame =
      Bitemporal.stateAt(fact, col("o_orderkey"), col("vf"), col("tx"),
          Seq("status" -> col("status"),
            "o_totalprice" -> col("o_totalprice")),
          validAt, lit(tx))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total_value"))
        .select(lit(tx).as("tx_view"), col("status"), col("n_orders"),
          col("total_value"))
    view(1L).unionByName(view(2L))
      .orderBy(col("tx_view"), col("status"))
  }

  val bitemporalAsofSql: String =
    """WITH v AS (
         SELECT epoch_us(TIMESTAMP '1997-06-30') // 86400000000 AS va),
       eligible AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders CROSS JOIN v
         WHERE epoch_us(o_orderdate) // 86400000000 <= va),
       both_views AS (
         SELECT 1 AS tx_view, 'P' AS status, o_totalprice FROM eligible
         UNION ALL
         SELECT 2,
           CASE WHEN o_orderkey % 7 = 0 THEN o_orderstatus ELSE 'P' END,
           o_totalprice
         FROM eligible)
       SELECT CAST(tx_view AS BIGINT) AS tx_view, status,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_value
       FROM both_views GROUP BY tx_view, status
       ORDER BY tx_view, status"""

  // ---------------------------------- L35 cluster-dedup-aware sampling ----

  /** The curation recipe COMPOSED: collapse near-dup clusters to their
    * min-id representative (L2's MinHash pairs → E11's components), then
    * draw the content-deterministic 4/16 hash sample over REPRESENTATIVES
    * (L14's nibble cut) — sampling after dedup, so duplicate-heavy
    * sources can't flood the sample. Every stage is an already-gated
    * kernel; the composition gate is row-exact (the oracle replays
    * clusters via the recursive CTE, reps, and the nibble predicate).
    */
  def sampleClusterDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashEdges(docs, col("doc_id"), col("text"),
      threshold = 0.5)
    val reps = Dedup.clusters(docs.select(col("doc_id").as("id")), pairs)
      .where(col("id") === col("root")).select(col("id").as("doc_id"))
    Sampling.hashSample(docs.join(reps, "doc_id"), col("text"), lit(4))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val sampleClusterDedupSql: String =
    s"""WITH RECURSIVE
       ${shinglePairsSql("")},
       ${reachSql("doc_id", "documents")},
       reps AS (
         SELECT id AS doc_id FROM (
           SELECT id, MIN(root) AS root FROM reach GROUP BY id)
         WHERE id = root)
       SELECT d.doc_id, d.lang
       FROM documents d JOIN reps USING (doc_id)
       WHERE strpos('0123456789abcdef', substr(md5(d.text), 1, 1)) - 1 < 4
       ORDER BY d.doc_id"""

  // --------------------------------------- E64 exact weighted median ------

  /** Per-segment WEIGHTED median of customer revenue, weighted by order
    * count — "the revenue level at which half the segment's ORDERS sit
    * with smaller-or-equal customers": the smallest x whose cumulative
    * weight reaches half the total. Pure integer comparisons (2·cum ≥
    * tot avoids any division), and no engine builtin computes the
    * weighted form; the plain median is the w≡1 special case (E6b).
    * The cumulative weight and the segment total come from one
    * [[Ranks.runningByRange]] scan — a plain per-group window cumsum
    * would sort each of the 5 segments' full customer set in ONE task
    * (the E54 wide-group wall).
    */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val perCust = segmentCents(s, dir)
    Ranks.running(perCust, Seq("c_mktsegment"), Seq("x", "c_custkey"),
        Seq("cum" -> col("w")))
      .where(lit(2L) * col("cum") >= col("cum_total"))
      .groupBy(col("c_mktsegment"))
      .agg(min(col("x")).as("median_rev_c"),
        min(col("cum_total")).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** `cw`: per segment, each customer's revenue in cents `x`, order count
    * `w`, its running weight `cum` in (x, c_custkey) order and the total
    * `tot` — the weighted-quantile prefix sum in SQL.
    */
  private val weightedCumSql: String =
    """WITH pc AS (
         SELECT c_mktsegment, c_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS x,
           COUNT(*) AS w
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, c_custkey),
       cw AS (
         SELECT c_mktsegment, x, w,
           CAST(SUM(w) OVER (PARTITION BY c_mktsegment
             ORDER BY x, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum,
           CAST(SUM(w) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tot
         FROM pc)"""

  val weightedMedianSql: String =
    s"""$weightedCumSql
       SELECT c_mktsegment, MIN(x) AS median_rev_c,
         CAST(MIN(tot) AS BIGINT) AS n_orders
       FROM cw WHERE 2 * cum >= tot
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ----------------------------------- E6f windowed HLL distinct ----------

  /** Trailing 7-day distinct users from MERGEABLE daily sketches: one
    * `hll_sketch_agg` per day, then `hll_union_agg` over the ROWS window
    * — E6d's reaggregatable-distinct discipline extended to SLIDING
    * windows (the exact E32 form re-touches the distinct frame ×7; the
    * sketch form unions 7 fixed-size summaries per day and never
    * revisits data). ROWS frames equal day frames because the event
    * series is day-contiguous (a gapped series would need a day spine
    * first — E2b's). Contract oracle: each estimate within 5% of the
    * exact E32 truth, which the oracle computes.
    */
  def slidingDistinctHll(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(call_function("div", unix_micros(col("ts")),
        lit(86400000000L)).as("day_bucket"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val w = Window.orderBy(col("day_bucket")).rowsBetween(-6, 0)
    val est = daily.withColumn("est",
      hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
    val exact = TimeSeries.rollingDistinct(events(s, dir), col("user_id"),
      col("ts"), 86400000000L, windowDays = 7)
    exact.join(est.select(col("day_bucket"), col("est")), "day_bucket")
      .select(col("day_bucket"), col("n_users_7d"),
        (abs(col("est").cast("double")
          - col("n_users_7d").cast("double"))
          <= lit(0.05) * col("n_users_7d").cast("double")).as("hll_ok"))
      .orderBy(col("day_bucket"))
  }

  val slidingDistinctHllSql: String = users7dSql(", true AS hll_ok")

  // ---------------------------------- E63 power-iteration PCA -------------

  /** Top principal direction of the embedding corpus
    * ([[Spectral.pcaTopComponent]]): integer-exact quantized Gram (one
    * corpus pass, vectors never shuffle), 20 fixed power-iteration
    * rounds as ascending-index double folds — the oracle replays the
    * Gram in SQL and the iteration with a recursive CTE over list
    * folds, instruction for instruction.
    */
  def pcaTopComponentQ(s: SparkSession, dir: String): DataFrame =
    Spectral.pcaTopComponent(s, embeddings(s, dir), "embedding")
      .orderBy(col("dim_idx"))

  val pcaTopComponentSql: String =
    """WITH RECURSIVE g AS (
         SELECT ti.i AS i, tj.j AS j,
           CAST(SUM(CAST(floor(CAST(e.embedding[ti.i + 1] AS DOUBLE)
             * CAST(e.embedding[tj.j + 1] AS DOUBLE) * 1048576.0)
             AS BIGINT)) AS BIGINT) AS q
         FROM embeddings e, range(64) ti(i), range(64) tj(j)
         GROUP BY ti.i, tj.j),
       gml AS (
         SELECT list(grow ORDER BY i) AS mat FROM (
           SELECT i, list(q ORDER BY j) AS grow FROM g GROUP BY i)),
       it(k, x, m) AS (
         SELECT 0, list_transform(range(64), r -> CAST(1.0 AS DOUBLE)),
           CAST(1.0 AS DOUBLE)
         UNION ALL
         SELECT k + 1,
           list_transform(y, v -> v
             / list_reduce(list_transform(y, w -> abs(w)),
                 (a, b) -> CASE WHEN b > a THEN b ELSE a END)),
           list_reduce(list_transform(y, w -> abs(w)),
             (a, b) -> CASE WHEN b > a THEN b ELSE a END)
         FROM (
           SELECT k,
             list_transform(mat, grow -> list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(list_zip(grow, x),
                   z -> CAST(z[1] AS DOUBLE) * z[2])),
               (a, b) -> a + b)) AS y
           FROM it CROSS JOIN gml WHERE k < 20) t),
       fin AS (SELECT x, m FROM it WHERE k = 20),
       nrm AS (
         SELECT x, m,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(x, v -> v * v)), (a, b) -> a + b)) AS l2
         FROM fin)
       SELECT r.i AS dim_idx, x[r.i + 1] / l2 AS loading,
         m / 1048576.0 AS eigenvalue
       FROM nrm, range(64) r(i) ORDER BY dim_idx"""

  // ------------------------------------- E44b config-driven DQ rules ------

  /** Declarative data-quality rules evaluated as one audit
    * ([[graft.pipeline.Pipeline.dqRulesAudit]] — the same frame the
    * `dq_check` config step gates on): not-null, uniqueness (orderkey
    * clean, custkey deliberately violated — repeat customers), a range
    * rule, and the customer FK. One row per rule with its violation
    * count; the oracle recomputes every rule independently.
    */
  def dqRules(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Pipeline.DqRule
    Pipeline.dqRulesAudit(s, orders(s, dir), Seq(
        DqRule("not_null", "o_custkey"),
        DqRule("unique", "o_orderkey"),
        DqRule("unique", "o_custkey"),
        DqRule("min", "o_totalprice", value = Some("0")),
        DqRule("fk", "o_custkey", refPath = Some(s"$dir/customer.parquet"),
          refColumn = Some("c_custkey"))))
      .orderBy(col("rule"), col("col_name"))
  }

  val dqRulesSql: String =
    """SELECT * FROM (
         SELECT 'not_null' AS rule, 'o_custkey' AS col_name,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_violations
         FROM orders
         UNION ALL
         SELECT 'unique', 'o_orderkey',
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'unique', 'o_custkey',
           CAST(COUNT(o_custkey) - COUNT(DISTINCT o_custkey) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'min', 'o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'fk', 'o_custkey',
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL))
       ORDER BY rule, col_name"""

  // ------------------------------------- L36 hybrid retrieval (RRF) ------

  /** Hybrid search over the corpus: the L34 BM25 lexical arm fused with
    * an embedding-cosine semantic arm by reciprocal-rank fusion
    * (Cormack et al. 2009) — rrf(d) = Σ_arms 1/(60 + rank_arm(d)), the
    * standard rank-level combiner (no score normalization across
    * incomparable scales). The curation use: retrieval-based corpus
    * probes where lexical match and semantic match each miss documents
    * the other finds.
    *
    * Determinism: each arm's rank is an integer (score ties broken by
    * doc_id), so every RRF term is 1/(60+k) for integer k — the same
    * IEEE double in any engine — and the fused score is ONE fixed-order
    * two-term sum (lexical + semantic). Scale shape: the lexical arm is
    * the L34 plan (one tokenization pass, TopKPerKey cut); the semantic
    * arm BROADCASTS the single query vector over the corpus scan (narrow
    * codegen'd cosine, TopKPerKey cut — at corpus-sized query sets the
    * L6 IVF candidate path swaps in); fusion joins two ≤20-row frames.
    * Rank windows run on ≤20-row single-key frames (bounded).
    */
  def retrievalRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25Retrieval(s, dir).withColumn("_k", lit(0))
    val lexR = lex.withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("_k"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val e = embeddings(s, dir)
    val qv = e.where(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val scored = e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Similarity.cosine(col("embedding"), col("q_vec")).as("cos"))
      .withColumn("_k", lit(0))
    val semR = graft.plans.TopKPerKey.topK(scored, keys = Seq("_k"),
        order = Seq("cos" -> "desc", "doc_id" -> "asc"), k = 20)
      .withColumn("sem_rank", row_number().over(
        Window.partitionBy(col("_k"))
          .orderBy(col("cos").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("sem_rank"))
    val term: Column => Column = r =>
      coalesce(lit(1.0) / (lit(60.0) + r.cast("double")), lit(0.0))
    val fused = lexR.join(semR, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (term(col("lex_rank")) + term(col("sem_rank"))).as("rrf"))
      .withColumn("_k", lit(0))
    fused.withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("_k"))
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .where(col("fused_rank") <= 10)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"), col("rrf"),
        col("fused_rank"))
      .orderBy(col("fused_rank"))
  }

  val retrievalRrfSql: String = {
    def rrfTerm(r: String): String =
      s"""COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE)
          + CAST($r AS DOUBLE)), CAST(0 AS DOUBLE))"""
    s"""WITH lex0 AS (SELECT * FROM ($bm25RetrievalSql) t),
       lex AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
           AS BIGINT) AS lex_rank
         FROM lex0),
       sem0 AS (
         SELECT c.vec_id AS doc_id,
           ${cosSql("q.embedding", "c.embedding")} AS cos
         FROM embeddings q JOIN embeddings c ON c.vec_id != 0
         WHERE q.vec_id = 0),
       sem AS (
         SELECT doc_id, sem_rank FROM (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
             AS BIGINT) AS sem_rank
           FROM sem0)
         WHERE sem_rank <= 20),
       f AS (
         SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           ${rrfTerm("l.lex_rank")} + ${rrfTerm("s.sem_rank")} AS rrf
         FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       SELECT doc_id, lex_rank, sem_rank, rrf,
         CAST(rn AS BIGINT) AS fused_rank
       FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
             FROM f)
       WHERE rn <= 10 ORDER BY fused_rank"""
  }

  // --------------------------------------- E65 Count-Min sketch ----------

  /** Count-Min point-frequency estimates vs the exact recount for the
    * corpus's top-10 tokens — the E38 Misra-Gries discipline applied to
    * the OTHER classic frequency sketch (operators/CountMin.scala: fixed
    * d×w additive cell grid, mergeable across partitions/days/streams,
    * one-sided error). ONE tokenization pass: the per-token exact-count
    * frame (vocabulary-sized, Zipf-compact — the L30 fusion) feeds the
    * grid as a WEIGHTED sketch build (provably cell-identical to
    * sketching the raw stream — CountMin cells are sums over items, and
    * summing per-token weights groups the same addends; spec-pinned),
    * the top-10 cut (TopKPerKey), and the recount column. The estimate
    * join BROADCASTS the ≤ d·w-row grid. `over_ok` pins the sketch's
    * one-sided guarantee est ≥ exact on every probe.
    */
  def cmsCounts(s: SparkSession, dir: String): DataFrame = {
    val exact = documents(s, dir)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint() // one tokenization pass feeds grid + cut + recount
    val cells = CountMin.sketchWeighted(exact, col("t"), col("exact_cnt"))
    cmsTop10(cells, exact)
  }

  /** The 10 most frequent tokens of `exact(t, exact_cnt)` with their
    * Count-Min estimate from the `cells` grid, and whether it over-counts
    * or matches.
    */
  private def cmsTop10(cells: DataFrame, exact: DataFrame): DataFrame = {
    val top = graft.plans.TopKPerKey.topK(exact.withColumn("_k", lit(0)),
        keys = Seq("_k"), order = Seq("exact_cnt" -> "desc", "t" -> "asc"),
        k = 10)
      .select(col("t"), col("exact_cnt"))
    CountMin.estimate(cells, top, col("t"))
      .select(col("t").as("token"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("exact_cnt")).as("over_ok"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  /** cms oracle, parameterized over a documents WHERE clause so the
    * streaming fixture can gate on a corpus slice (r17 verdict task 7)
    * while `cms_counts` keeps the full table — the sketch math is
    * identical either way.
    */
  private def cmsCountsSqlFor(where: String): String = {
    // the oracle's bucket mapping derives its nibble count from the SAME
    // rule the engine uses (CountMin.nibblesFor) and applies the same
    // mod-w reduction, so changing the sketch width can never silently
    // break render parity: both sides move together by construction
    val cmsW = 256
    def bSql(j: String, t: String): String = {
      val n = CountMin.nibblesFor(cmsW)
      val digits = (1 to n).map { i =>
        val place = math.pow(16, n - i).toLong
        s"""(strpos('0123456789abcdef',
            substr(md5(CAST($j AS VARCHAR) || ':' || $t), $i, 1)) - 1)""" +
          (if (place == 1L) "" else s" * $place")
      }.mkString(" + ")
      s"(($digits) % $cmsW)"
    }
    s"""WITH toks AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
         FROM documents $where),
       hj AS (SELECT unnest([0, 1, 2, 3]) AS j),
       cells AS (
         SELECT j, b, COUNT(*) AS cnt FROM (
           SELECT j, ${bSql("j", "t")} AS b FROM toks CROSS JOIN hj)
         GROUP BY 1, 2),
       exact AS (SELECT t, COUNT(*) AS exact_cnt FROM toks GROUP BY t),
       top AS (
         SELECT t, exact_cnt FROM exact ORDER BY exact_cnt DESC, t LIMIT 10),
       probes AS (
         SELECT t, exact_cnt, j, ${bSql("j", "t")} AS b
         FROM top CROSS JOIN hj)
       SELECT p.t AS token, p.exact_cnt, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt,
         MIN(c.cnt) >= p.exact_cnt AS over_ok
       FROM probes p JOIN cells c ON c.j = p.j AND c.b = p.b
       GROUP BY 1, 2 ORDER BY exact_cnt DESC, token"""
  }

  val cmsCountsSql: String = cmsCountsSqlFor("")

  // ------------------------------------ L37 vocabulary growth curve ------

  /** Heaps-law vocabulary growth: cumulative distinct-token count vs
    * cumulative token count at every 100-document checkpoint of the
    * corpus in doc_id order — the tokenizer-sizing / corpus-saturation
    * diagnostic (is new data still adding vocabulary?). The naive
    * formulation (distinct-count per prefix) is quadratic; this one is
    * linear: a token contributes to the vocabulary curve exactly at its
    * FIRST-occurrence document, so vocab(c) = Σ_{b ≤ c} new_tokens(b) —
    * two vocabulary-sized aggs off the shared per-(doc, token) count
    * frame (ONE tokenization pass, the L30 fusion), then cumulative sums
    * over the checkpoint frame (corpus/100 rows — dimension-sized, the
    * one global window this plan runs).
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val step = 100L
    val dt = documents(s, dir)
      .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // one tokenization pass feeds both aggs
    val nv = dt.groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(call_function("div", col("first_doc"), lit(step)).as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    val nt = dt
      .groupBy(call_function("div", col("doc_id"), lit(step)).as("bucket"))
      .agg(sum(col("c")).as("bucket_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nt.join(nv, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(col("bucket_tokens")).over(w).as("cum_tokens"),
        sum(col("new_tokens")).over(w).as("vocab_size"))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    """WITH dt AS (
         SELECT doc_id, t, COUNT(*) AS c FROM (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
           FROM documents)
         GROUP BY doc_id, t),
       nv AS (
         SELECT first_doc // 100 AS bucket, COUNT(*) AS new_tokens FROM (
           SELECT t, MIN(doc_id) AS first_doc FROM dt GROUP BY t)
         GROUP BY 1),
       nt AS (
         SELECT doc_id // 100 AS bucket, CAST(SUM(c) AS BIGINT)
             AS bucket_tokens
         FROM dt GROUP BY 1)
       SELECT bucket,
         CAST(SUM(bucket_tokens) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(SUM(new_tokens) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS vocab_size
       FROM nt LEFT JOIN nv USING (bucket)
       ORDER BY bucket"""

  // --------------------------- E6g sliding-window exact percentiles ------

  /** Exact interpolated p50/p95 per 3-hour window sliding hourly — the
    * windowed form of E6b (`value_percentiles`), the latency/SLA report
    * shape. Declarative `window(ts, 3h, 1h)`: each event lands in its ≤ 3
    * covering windows via a narrow explode (no self-join), the per-window
    * percentile is a sort-based aggregate whose group size is bounded by
    * the WINDOW SPAN, not the table — at 100 TB each 3-hour group is one
    * shuffle partition's worth of a day's 1/8, and skewed hours split
    * under AQE. Spark `percentile` and DuckDB `quantile_cont` share the
    * p·(n−1) interpolation definition (the E6b bit-equality).
    */
  def slidingPercentile(s: SparkSession, dir: String): DataFrame = {
    // reduce-before-explode (SURVEY §5, r16): the naive
    // window(ts, 3h, 1h) + percentile(value, p) form feeds 3× the
    // corpus through the exact-percentile ObjectHashAggregate (90M
    // boxed map updates at the 300× decade — the GC-churn variance
    // row). The fact collapses to per-(hour, value) counts FIRST in a
    // codegen'd long-key HashAggregate — |hours × distinct values| is
    // scale-capped by the value domain, not the corpus — and the 3
    // sliding windows explode over THAT compact frame; Spark's exact
    // percentile takes the count as its frequency argument, so the
    // interpolated result over (value, cnt) is bit-identical to the
    // per-row form and the DuckDB quantile_cont oracle is unchanged.
    val hourUs = 3600000000L
    val hourly = events(s, dir)
      .groupBy(call_function("div", unix_micros(col("ts")), lit(hourUs))
          .as("hb"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    hourly
      .select(explode(sequence(lit(0L), lit(2L))).as("k"),
        col("hb"), col("value"), col("cnt"))
      .groupBy(((col("hb") - col("k")) * hourUs).as("w_start_us"))
      .agg(sum(col("cnt")).as("n"),
        expr("percentile(value, 0.5, cnt)").as("p50"),
        expr("percentile(value, 0.95, cnt)").as("p95"))
      .orderBy(col("w_start_us"))
  }

  val slidingPercentileSql: String =
    """SELECT w_start_us, COUNT(*) AS n,
       quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.95) AS p95
       FROM (
         SELECT (epoch_us(ts) // 3600000000 - k) * 3600000000 AS w_start_us,
           value
         FROM events, UNNEST(range(0, 3)) AS u(k))
       GROUP BY 1 ORDER BY 1"""

  // --------------------------------------- E66 triangle census -----------

  /** Triangle census of the part co-purchase graph (parts co-occurring in
    * an order are adjacent): total triangles + the top-10 parts by
    * triangle membership — the local-clustering signal behind community/
    * bundle detection (and, on a near-dup pair graph, the transitivity
    * diagnostic for dedup clusters). `operators/Triangles.scala`:
    * degree-ordered orientation bounds every out-adjacency by ~√(2m)
    * (hub-skew-proof collect_list), and per-edge sorted-array
    * intersection finds each triangle exactly once WITHOUT materializing
    * the Θ(wedges) pair stream (41M wedges vs 1.9M triangles on this
    * graph at sf0.1). The oracle replays the canonical a<b triple join —
    * orientation changes the plan, never the count. Total = Σ n_tri / 3
    * (each triangle counts at its three vertices; integer-exact).
    */
  def triangleParts(s: SparkSession, dir: String): DataFrame = {
    // per-order part sets via ONE groupBy (collect_set dedups in-order
    // repeats before the explode), pairs generated narrow from the
    // sorted array — no fact self-join; basket size bounds the explode
    val edges = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
           transform(slice(ps, i + 2, size(ps)),
             y -> struct(x AS pa, y AS pb))))""")).as("e"))
      .select(col("e.pa"), col("e.pb"))
    // vertexTriangles returns an eagerly-checkpointed vertex-sized frame
    // (and has already released its edge-sized cache) — it feeds the
    // top-10 cut and the global total without recompute
    val pv = Triangles.vertexTriangles(edges, col("pa"), col("pb"))
    val tot = pv.agg(call_function("div", sum(col("n_tri")), lit(3L))
      .as("n_triangles"))
    graft.plans.TopKPerKey.topK(pv.withColumn("_k", lit(0)),
        keys = Seq("_k"), order = Seq("n_tri" -> "desc", "part" -> "asc"),
        k = 10)
      .crossJoin(broadcast(tot))
      .select(col("part"), col("n_tri"), col("n_triangles"))
      .orderBy(col("n_tri").desc, col("part"))
  }

  val trianglePartsSql: String =
    """WITH e AS (
         SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       tri AS (
         SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
         FROM e e1 JOIN e e2 ON e2.pa = e1.pb
         JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
       tot AS (SELECT COUNT(*) AS n_triangles FROM tri),
       pv AS (
         SELECT v AS part, COUNT(*) AS n_tri FROM (
           SELECT a AS v FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         GROUP BY 1)
       SELECT part, n_tri, n_triangles FROM pv CROSS JOIN tot
       ORDER BY n_tri DESC, part LIMIT 10"""

  // --------------------------------------- E67 CUSUM change-point --------

  /** Two-sided CUSUM over the daily order-count series
    * (`TimeSeries.cusum`) — sustained-drift detection for ingest
    * monitoring, complementing the E56 single-day residual anomalies.
    * The sequential max(0, s+y) recurrence closes over prefix sums
    * (s_i = p_i − min(0, min p_j); mirrored for the lower side), so the
    * whole series is two running extrema sharing ONE |days|-frame sorted
    * window — no recursion, no driver loop. All-integer: deviations are
    * n-scaled (y = n·x − Σx), both engines carry identical BIGINTs.
    */
  def cusumDaily(s: SparkSession, dir: String): DataFrame =
    dailyCusum(orders(s, dir)
      .groupBy(dayBucket(col("o_orderdate")).as("day_bucket"))
      .agg(count(lit(1)).as("n_orders")))

  /** The E67 CUSUM series over `daily(day_bucket, n_orders)`. */
  private def dailyCusum(daily: DataFrame): DataFrame =
    TimeSeries.cusum(daily, col("day_bucket"), col("n_orders"))
      .select(col("bucket").as("day_bucket"), col("x").as("n_orders"),
        col("cusum_up"), col("cusum_dn"))
      .orderBy(col("day_bucket"))

  val cusumDailySql: String =
    """WITH daily AS (
         SELECT epoch_us(o_orderdate) // 86400000000 AS day_bucket,
           COUNT(*) AS n_orders
         FROM orders GROUP BY 1),
       tot AS (
         SELECT CAST(SUM(n_orders) AS BIGINT) AS t, COUNT(*) AS n
         FROM daily),
       p AS (
         SELECT day_bucket, n_orders,
           CAST(SUM(n_orders * n - t) OVER (ORDER BY day_bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS p
         FROM daily CROSS JOIN tot)
       SELECT day_bucket, n_orders,
         CAST(p - LEAST(MIN(p) OVER w, 0) AS BIGINT) AS cusum_up,
         CAST(GREATEST(MAX(p) OVER w, 0) - p AS BIGINT) AS cusum_dn
       FROM p
       WINDOW w AS (ORDER BY day_bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY day_bucket"""

  // --------------------------------- E65b streaming Count-Min sketch -----

  /** Continuous Count-Min maintenance (`StreamingIngest.cmsSink`): each
    * microbatch commits its own d×w partial grid under `batch_id=N`
    * (overwrite-idempotent, the E38b discipline), and because cells are
    * ADDITIVE the live sketch at any moment is one sum over the ≤ d·w·B
    * partial rows — no raw row is ever re-read, state per batch is the
    * fixed grid. Two-drain replay over the split corpus must land on
    * EXACTLY the batch sketch (integer cell sums in any grouping), so
    * this gates on the same oracle as `cms_counts`.
    */
  def streamCms(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_scms_")
    val landing = s"$tmp/landing"; val cellsDir = s"$tmp/cells"
    val ckpt = s"$tmp/ckpt"
    // fixture corpus = one quarter of documents (oracle filters
    // identically): the gate — two-drain replay over a SPLIT corpus
    // lands on exactly the batch sketch — is corpus-size-independent,
    // and the full-table tokenize+land was the cost, not the sketch
    // (r17 verdict task 7; same discipline as the composite trim)
    val toks = documents(s, dir).where(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("t"))
    drainTwice(landing,
        toks.where(pmod(col("doc_id"), lit(8)) === 0).select(col("t")),
        toks.where(pmod(col("doc_id"), lit(8)) === 4).select(col("t"))) {
      StreamingIngest.cmsSink(_, "t", cellsDir, checkpointDir = Some(ckpt),
        availableNow = true)
    }
    val cells = Sources.parquet(s, cellsDir)
      .groupBy(col("j"), col("b")).agg(sum(col("cnt")).as("cnt"))
    val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
    cmsTop10(cells, exact)
  }

  val streamCmsSql: String = cmsCountsSqlFor("WHERE doc_id % 4 = 0")

  // --------------------------- E45b position-based multi-touch attribution

  /** U-shaped multi-touch attribution with EXACT-cents credit: each
    * purchase's value splits across its view touchpoints in the 24 h
    * lookback — 40% to the first touch, 40% to the last, 20% shared by
    * the middles (one/two touches degenerate to 100% / 50-50) — through
    * the E47 largest-remainder apportionment, so credited cents per
    * purchase sum EXACTLY to the purchase value at any parallelism (the
    * float-proration attribution every BI tool gets off by a cent).
    * Weights stay integral: ends carry 40·(k−2), middles 20 (ratio
    * 40 : 20/(k−2) scaled by k−2). Purchases with no in-window touch
    * report under hour −1 at full value. Shape: one user-keyed
    * equi-join (per-user touch lists are delivery-bounded — the E45
    * premise), per-purchase windows on purchase-sized frames, one
    * allocation pass sharing the purchase partitioning.
    */
  def attributionPosition(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("pt"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"),
        unix_micros(col("ts")).as("vt"))
    val touches = p.join(v, Seq("user_id"))
      .where(col("vt") <= col("pt")
        && col("pt") - col("vt") <= lit(86400000000L))
    val byP = Window.partitionBy(col("pid"))
    val t2 = touches
      .withColumn("rn", row_number().over(
        byP.orderBy(col("vt").asc, col("vid").asc)).cast("long"))
      .withColumn("k", count(lit(1)).over(byP))
      .withColumn("w",
        when(col("k") <= 2, lit(1L))
          .otherwise(when(col("rn") === 1 || col("rn") === col("k"),
            lit(40L) * (col("k") - 2)).otherwise(lit(20L))))
    val alloc = Allocation.largestRemainder(t2, key = col("pid"),
      ord = col("rn"), weight = col("w"), budget = col("cents"))
    val attributed = alloc.select(
      pmod(call_function("div", col("vt"), lit(3600000000L)), lit(24L))
        .as("view_hour"),
      col("allocated"))
    val unattributed = p
      .join(touches.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(lit(-1L).as("view_hour"), col("cents").as("allocated"))
    attributed.unionByName(unattributed)
      .groupBy(col("view_hour"))
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("allocated")).cast("double") / lit(100.0).cast("double"))
          .as("credited_value"))
      .orderBy(col("view_hour"))
  }

  val attributionPositionSql: String =
    """WITH p AS (
         SELECT event_id AS pid, user_id, epoch_us(ts) AS pt,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       v AS (
         SELECT user_id, event_id AS vid, epoch_us(ts) AS vt FROM events
         WHERE event_type = 'view'),
       t AS (
         SELECT pid, cents, vt,
           CAST(ROW_NUMBER() OVER (PARTITION BY pid ORDER BY vt, vid)
             AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS k
         FROM p JOIN v USING (user_id)
         WHERE vt <= pt AND pt - vt <= 86400000000),
       tw AS (
         SELECT *, CASE WHEN k <= 2 THEN 1
           WHEN rn = 1 OR rn = k THEN 40 * (k - 2) ELSE 20 END AS w
         FROM t),
       j AS (
         SELECT *, CAST(SUM(w) OVER (PARTITION BY pid) AS BIGINT) AS tot
         FROM tw),
       b AS (
         SELECT *, (cents * w) // tot AS base, (cents * w) % tot AS rem
         FROM j),
       r AS (
         SELECT *, CAST(SUM(base) OVER (PARTITION BY pid) AS BIGINT)
             AS base_sum,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY rem DESC, rn)
             AS brn
         FROM b),
       cred AS (
         SELECT (vt // 3600000000) % 24 AS view_hour,
           base + CASE WHEN brn <= cents - base_sum THEN 1 ELSE 0 END
             AS allocated
         FROM r
         UNION ALL
         SELECT -1, cents FROM p
         WHERE pid NOT IN (SELECT pid FROM t))
       SELECT view_hour, COUNT(*) AS n_touches,
         CAST(SUM(allocated) AS DOUBLE) / CAST(100 AS DOUBLE)
           AS credited_value
       FROM cred GROUP BY 1 ORDER BY 1"""

  // ----------------------------------- L38 n-gram novelty scoring --------

  /** Per-document 8-gram novelty (`SpanDedup.noveltyStats`) — what
    * fraction of the doc's rolling word-windows introduce text the
    * corpus has never seen before it (first occurrence = min doc_id) —
    * the contribution/memorization-risk mirror of `span_dedup`'s
    * duplication fraction, on the same linear window-hash machinery.
    */
  def noveltyNgrams(s: SparkSession, dir: String): DataFrame =
    SpanDedup.noveltyStats(documents(s, dir), col("doc_id"), col("text"),
        n = 8)
      .orderBy(col("doc_id"))

  val noveltyNgramsSql: String =
    s"""WITH base AS (
         SELECT doc_id, string_split($normalizeSql, ' ') AS w
         FROM documents),
       b2 AS (SELECT doc_id, w, len(w) AS nw FROM base),
       wins AS (
         SELECT doc_id, md5(array_to_string(w[i+1:i+8], ' ')) AS h
         FROM (SELECT doc_id, w, nw, unnest(range(nw - 7)) AS i
               FROM b2 WHERE nw >= 8)),
       first AS (SELECT h, MIN(doc_id) AS first_doc FROM wins GROUP BY 1),
       novel AS (
         SELECT doc_id,
           CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel
         FROM wins JOIN first USING (h) GROUP BY 1)
       SELECT b2.doc_id,
         CAST(GREATEST(nw - 7, 0) AS BIGINT) AS n_windows,
         CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
         CASE WHEN nw >= 8
           THEN CAST(COALESCE(n_novel, 0) AS DOUBLE) / CAST(nw - 7 AS DOUBLE)
           ELSE 1.0 END AS novelty
       FROM b2 LEFT JOIN novel USING (doc_id)
       ORDER BY doc_id"""

  // ------------------------------- E24b positional phrase search ---------

  /** Exact-phrase retrieval over POSITIONAL postings — the E24 inverted
    * index extended with term positions, the capability BM25's
    * bag-of-words scoring cannot express ("row column sort" as
    * consecutive words, not co-occurrence). Postings are TERM-FILTERED
    * AT THE SCAN (only the phrase's words survive the narrow posexplode
    * — the corpus never shuffles), each later term's positions shift
    * back by its offset, and the phrase match is (doc, pos) equi-joins —
    * co-partitioned on doc after the first shuffle, occurrence-list
    * sized. The oracle replays by direct adjacent-word inspection
    * (`w[i] = t1 AND w[i+1] = t2 …`), so the compare gates the index
    * structure against an independent formulation.
    */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val phrase = Seq("row", "column", "sort")
    val toks = documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "t")))
      .where(col("t").isInCollection(phrase))
    val aligned = phrase.zipWithIndex.map { case (w, i) =>
      toks.where(col("t") === w)
        .select(col("doc_id"), (col("pos") - i).cast("long").as("p"))
    }
    aligned.reduce((a, b) => a.join(b, Seq("doc_id", "p")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("p")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  val phraseSearchSql: String =
    """WITH t AS (
         SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       m AS (
         SELECT doc_id, i - 1 AS p
         FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t)
         WHERE w[i] = 'row' AND w[i+1] = 'column' AND w[i+2] = 'sort')
       SELECT doc_id, COUNT(*) AS n_matches,
         CAST(MIN(p) AS BIGINT) AS first_pos
       FROM m GROUP BY 1 ORDER BY 1"""

  // ----------------------------- E68 time-to-convert percentiles ---------

  /** View→purchase conversion-latency distribution by purchase hour —
    * the funnel-timing report on top of the E13/E45 as-of machinery:
    * each purchase joins its LAST view at-or-before it (one shared
    * shuffle in the as-of union), and the per-hour latency percentiles
    * are the E6b exact interpolated form over integer microseconds
    * (only the final seconds conversion runs in double). Purchases with
    * no prior view drop (they never entered the funnel).
    */
  def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val (purchases, views) = purchasesAndViews(s, dir)
    AsOfJoin.asOf(purchases, col("user_id"), col("pt"),
        views, col("user_id"), col("vt"), Seq("vt" -> col("vt")))
      .where(col("right_vt").isNotNull)
      .select(pmod(call_function("div", col("pt"), lit(3600000000L)),
          lit(24L)).as("conv_hour"),
        (col("pt") - col("right_vt")).as("lat_us"))
      .groupBy(col("conv_hour"))
      .agg(count(lit(1)).as("n_conversions"),
        (expr("percentile(lat_us, 0.5)") / lit(1000000.0).cast("double"))
          .as("p50_s"),
        (expr("percentile(lat_us, 0.9)") / lit(1000000.0).cast("double"))
          .as("p90_s"))
      .orderBy(col("conv_hour"))
  }

  val timeToConvertSql: String =
    """WITH p AS (
         SELECT event_id, user_id, epoch_us(ts) AS pt FROM events
         WHERE event_type = 'purchase'),
       v AS (
         SELECT user_id, epoch_us(ts) AS vt FROM events
         WHERE event_type = 'view'),
       att AS (
         SELECT p.event_id, p.pt, MAX(v.vt) AS vt
         FROM p JOIN v ON v.user_id = p.user_id AND v.vt <= p.pt
         GROUP BY p.event_id, p.pt)
       SELECT (pt // 3600000000) % 24 AS conv_hour,
         COUNT(*) AS n_conversions,
         quantile_cont(pt - vt, 0.5) / CAST(1000000 AS DOUBLE) AS p50_s,
         quantile_cont(pt - vt, 0.9) / CAST(1000000 AS DOUBLE) AS p90_s
       FROM att GROUP BY 1 ORDER BY 1"""

  // --------------------- L39 cross-source calibrated quality bands -------

  /** Source-calibrated quality: each document's score mapped to its
    * percentile WITHIN its source ((rank−1)/(n−1)), bucketed to deciles
    * — the cross-source comparison a raw score can't give (every
    * source's own distribution becomes uniform, so "keep the top 20% of
    * EACH source" is one predicate; the curation cut that doesn't let
    * one verbose source flood the quality band). Rank and source size
    * come from one [[Ranks.runningByRange]] scan — no source ever sorts
    * in one task, which is the point: sources are few and wide, the
    * exact shape the per-group window chokes on. Single-doc sources
    * calibrate to 0.0.
    */
  def qualityCalibrated(s: SparkSession, dir: String): DataFrame = {
    val sc = documents(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text")).as("score"))
    val n = col("rnk_total")
    Ranks.running(sc, Seq("source"), Seq("score", "doc_id"),
        Seq("rnk" -> lit(1L)))
      .select(col("source"),
        when(n === 1, lit(0L)).otherwise(
          least(floor(((col("rnk") - 1).cast("double")
            / (n - 1).cast("double")) * 10), lit(9L)))
          .as("decile"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("decile"))
  }

  val qualityCalibratedSql: String =
    s"""WITH sc AS (
         SELECT doc_id, source, $qualityScoreExprSql AS score
         FROM documents),
       r AS (
         SELECT source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY score, doc_id) AS BIGINT) AS rnk,
           CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
         FROM sc),
       c AS (
         SELECT source, CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
           ELSE CAST(LEAST(floor((CAST(rnk - 1 AS DOUBLE)
             / CAST(n - 1 AS DOUBLE)) * 10), 9) AS BIGINT) END AS decile
         FROM r)
       SELECT source, decile, COUNT(*) AS n_docs FROM c
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------ E69 sequence-pattern extraction --------

  /** Ordered-pattern instance extraction — MATCH_RECOGNIZE's everyday
    * case, the view → click → purchase chain with a 24 h step window per
    * link: each purchase matches iff its LAST click at-or-before it is
    * within 24 h AND that click's last view at-or-before it is within
    * 24 h. Distinct from the E30 funnel (per-user prefix census, earliest
    * completion) and E68 (two-step latency): this EXTRACTS every complete
    * instance and reports the per-user match census with the widest
    * chain span.
    *
    * Shape: two chained E13 as-of joins, both keyed on user — the second
    * probes with the first's attached click time, so every stage (and
    * both census aggs) reuses one user-hash exchange. The step windows
    * are POST-filters, which equals filtering before the as-of: the
    * last-at-or-before row is the latest candidate, so if IT falls
    * outside the window every earlier one does too. All-integer time
    * math; the floor-div seconds conversion commutes with max (both
    * monotone), so Spark's div(max) equals the oracle's MAX-then-//.
    */
  def seqPattern(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val stepUs = 86400000000L // 24 h per link
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ct"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("vt"))
    val withClick = AsOfJoin.asOf(purchases, col("user_id"), col("pt"),
        clicks, col("user_id"), col("ct"), Seq("ct" -> col("ct")))
      .where(col("right_ct").isNotNull &&
        col("pt") - col("right_ct") <= stepUs)
      .select(col("event_id"), col("user_id"), col("pt"),
        col("right_ct").as("ct"))
    val chains = AsOfJoin.asOf(withClick, col("user_id"), col("ct"),
        views, col("user_id"), col("vt"), Seq("vt" -> col("vt")))
      .where(col("right_vt").isNotNull &&
        col("ct") - col("right_vt") <= stepUs)
      .select(col("user_id"), (col("pt") - col("right_vt")).as("span_us"))
    val perUser = purchases.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"))
    val matched = chains.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_chains"),
        call_function("div", max(col("span_us")), lit(1000000L))
          .as("max_span_s"))
    perUser.join(matched, Seq("user_id"), "left")
      .select(col("user_id"), col("n_purchases"),
        coalesce(col("n_chains"), lit(0L)).as("n_chains"),
        col("max_span_s"))
      .orderBy(col("user_id"))
  }

  val seqPatternSql: String =
    """WITH p AS (
         SELECT event_id, user_id, epoch_us(ts) AS pt FROM events
         WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, epoch_us(ts) AS ct FROM events
         WHERE event_type = 'click'),
       v AS (
         SELECT user_id, epoch_us(ts) AS vt FROM events
         WHERE event_type = 'view'),
       pc AS (
         SELECT p.event_id, p.user_id, p.pt, MAX(c.ct) AS ct
         FROM p JOIN c ON c.user_id = p.user_id AND c.ct <= p.pt
         GROUP BY 1, 2, 3
         HAVING p.pt - MAX(c.ct) <= 86400000000),
       pcv AS (
         SELECT pc.event_id, pc.user_id, pc.pt, MAX(v.vt) AS vt
         FROM pc JOIN v ON v.user_id = pc.user_id AND v.vt <= pc.ct
         GROUP BY 1, 2, 3, pc.ct
         HAVING pc.ct - MAX(v.vt) <= 86400000000),
       np AS (SELECT user_id, COUNT(*) AS n_purchases FROM p GROUP BY 1),
       nc AS (
         SELECT user_id, COUNT(*) AS n_chains,
           CAST(MAX(pt - vt) // 1000000 AS BIGINT) AS max_span_s
         FROM pcv GROUP BY 1)
       SELECT np.user_id, np.n_purchases,
         COALESCE(nc.n_chains, 0) AS n_chains, nc.max_span_s
       FROM np LEFT JOIN nc ON nc.user_id = np.user_id
       ORDER BY np.user_id"""

  // ------------------------------ E67b streaming CUSUM maintenance -------

  /** Streaming CUSUM: the E67 drift series kept current by the E38b
    * partial-commit discipline — each microbatch lands its own per-day
    * order-count partials under `batch_id=N` (reusing
    * [[graft.streaming.StreamingIngest.heavyHitterSink]] verbatim with
    * the day bucket as the item: overwrite-idempotent on replay,
    * map-side-sized output). The POINT: the sequential max(0, s+y)
    * recurrence needs NO streaming state, because it closes over prefix
    * sums of an ADDITIVE aggregate — so the live series is one day-keyed
    * sum over ≤ |days|·B partial rows followed by the E67 prefix-extrema
    * windows on the |days| frame, and any drain split lands on EXACTLY
    * the batch series (gated on the `cusum_daily` oracle).
    */
  def streamCusum(s: SparkSession, dir: String): DataFrame = withSizedState(s, dir) {
    val tmp = tempDir("graft_scusum_")
    val landing = s"$tmp/landing"; val countsDir = s"$tmp/counts"
    val ckpt = s"$tmp/ckpt"
    val src = orders(s, dir).select(
      dayBucket(col("o_orderdate")).as("day_bucket"), col("o_orderkey"))
    drainTwice(landing, src.where(pmod(col("o_orderkey"), lit(2)) === 0),
        src.where(pmod(col("o_orderkey"), lit(2)) === 1)) {
      StreamingIngest.heavyHitterSink(_, "day_bucket", countsDir,
        checkpointDir = Some(ckpt), availableNow = true)
    }
    dailyCusum(Sources.parquet(s, countsDir)
      .groupBy(col("item")).agg(sum(col("cnt")).as("n_orders"))
      .select(col("item").cast("long").as("day_bucket"), col("n_orders")))
  }

  val streamCusumSql: String = cusumDailySql

  // ------------------------------ L40 tokenizer fertility by language ----

  /** Tokenizer fertility by language: BPE tokens per whitespace word for
    * each PREDICTED language bucket (L8 n-gram id × L10 real-merges BPE)
    * — the tokenizer-bias audit a multilingual corpus needs before
    * token-budgeting: a vocabulary trained on-distribution compresses
    * its own language best, and off-distribution languages pay a higher
    * tokens-per-word ratio, skewing both the token bill and effective
    * epochs per language. ONE text pass: language id, word count and the
    * min-rank BPE encode are narrow codegen kernels in the same
    * projection, and the census collapses map-side to |langs| rows.
    * Fertility is one int/int IEEE division on exact corpus sums; the
    * oracle replays the full tokenizer with the symbol-aligned merge
    * CTEs ([[bpeReplaySql]]) and the language CASE expression.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(TextAnalysis.langId(col("text")).as("predicted_lang"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text"))
          .cast("long").as("bpe"),
        TextAnalysis.wordCount(col("text")).cast("long").as("words"))
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("words")).as("words"),
        (sum(col("bpe")).cast("double") / sum(col("words")).cast("double"))
          .as("fertility"))
      .orderBy(col("predicted_lang"))

  val bpeFertilitySql: String =
    s"""WITH RECURSIVE
       ${bpeWordsSql("doc_id", "text", "documents")},
       perdoc AS (
         SELECT t.doc_id, SUM(COALESCE(e.ntok, 1)) AS n_bpe
         FROM toks t LEFT JOIN enc e ON t.w = e.w
         GROUP BY 1),
       d AS (
         SELECT doc_id, $langExprSql AS predicted_lang,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS words
         FROM documents)
       SELECT d.predicted_lang, COUNT(*) AS n_docs,
         CAST(SUM(COALESCE(p.n_bpe, 0)) AS BIGINT) AS bpe_tokens,
         CAST(SUM(d.words) AS BIGINT) AS words,
         CAST(SUM(COALESCE(p.n_bpe, 0)) AS DOUBLE)
           / CAST(SUM(d.words) AS DOUBLE) AS fertility
       FROM d LEFT JOIN perdoc p USING (doc_id)
       GROUP BY 1 ORDER BY 1"""

  // ------------------------------ E70 session path census ----------------

  /** Session path census: the top-20 most frequent event-type PATHS
    * (ordered '>'-joined sequences, capped at the first 12 events of a
    * session) across E4's 30-minute-gap sessions — the "what do journeys
    * actually look like" report behind funnel design: E30/E48 presuppose
    * the steps; this op DISCOVERS them.
    *
    * Shape: one user-hash exchange drives the gap windows AND the
    * per-session path fold (sort the session's (t, id, type) structs,
    * slice, join — per-session arrays are bounded by the activity gap,
    * and the 12-event cap bounds the path domain, so the census groupBy
    * collapses map-side to the path vocabulary). Top-20 rides
    * TopKPerKeyExec — never a global sort of the census.
    */
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionMarked(s, dir, "event_type")
    val paths = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(
        transform(
          slice(array_sort(collect_list(
            struct(col("t_us"), col("event_id"), col("event_type")))),
            1, 12),
          x => x("event_type")), ">").as("path"))
    val census = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
    graft.plans.TopKPerKey.topK(census.withColumn("_k", lit(0)),
        keys = Seq("_k"),
        order = Seq("n_sessions" -> "desc", "path" -> "asc"), k = 20)
      .select(col("path"), col("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
  }

  val sessionPathsSql: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       s AS (
         SELECT user_id, event_id, event_type, t_us,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM e),
       r AS (
         SELECT user_id, sid, event_type, t_us, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, sid
             ORDER BY t_us, event_id) AS rn
         FROM s),
       p AS (
         SELECT user_id, sid,
           string_agg(event_type, '>' ORDER BY t_us, event_id) AS path
         FROM r WHERE rn <= 12 GROUP BY 1, 2),
       c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
       SELECT path, n_sessions FROM c
       ORDER BY n_sessions DESC, path LIMIT 20"""

  // ------------------------------ L41 dedup telemetry --------------------

  /** Near-dup cluster telemetry: the cluster-SIZE histogram of the L2
    * MinHash ≥0.5 component graph (E11 assignment) plus each size's doc
    * share — the dedup health report a curation pipeline reads before
    * deciding thresholds (a fat tail of large clusters means template
    * spam; all-singleton means the threshold is too tight). Size 1 rows
    * are the UNDUPLICATED mass, so `n_clusters` at size 1 plus one rep
    * per larger cluster is exactly the post-dedup corpus size.
    *
    * Shape: everything after the (already-bucketed) L2/E11 machinery is
    * dimension-sized — sizes are one count per root, the histogram one
    * count per size, and the one-row total broadcasts back for the
    * int/int share division.
    */
  def dedupStats(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    clusterCensus(docs, Dedup.minhashEdges(docs, col("doc_id"), col("text"),
      threshold = 0.5))
  }

  /** The cluster-size histogram of the doc components over `edges`: per
    * size, the cluster count, their docs and that share of all docs.
    */
  private def clusterCensus(docs: DataFrame, edges: DataFrame): DataFrame = {
    val asg = Dedup.clusters(docs.select(col("doc_id").as("id")), edges)
    val sizes = asg.groupBy(col("root"))
      .agg(count(lit(1)).as("cluster_size"))
    val tot = asg.agg(count(lit(1)).as("n"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")).cast("double")
          / col("n").cast("double")).as("frac_docs"))
      .orderBy(col("cluster_size"))
  }

  val dedupStatsSql: String = clusterCensusSql(shinglePairsSql(""))

  /** [[clusterCensus]] in SQL over the doc `pairs` CTE `ctes` ends with. */
  private def clusterCensusSql(ctes: String): String =
    s"""WITH RECURSIVE
       $ctes,
       ${reachSql("doc_id", "documents")},
       asg AS (SELECT id, MIN(root) AS root FROM reach GROUP BY id),
       sizes AS (SELECT root, COUNT(*) AS cluster_size FROM asg GROUP BY 1),
       tot AS (SELECT COUNT(*) AS n FROM asg)
       SELECT cluster_size, COUNT(*) AS n_clusters,
         CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
         CAST(cluster_size * COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE)
           AS frac_docs
       FROM sizes CROSS JOIN tot
       GROUP BY cluster_size, n ORDER BY cluster_size"""

  // ------------------------------ E64b exact weighted percentiles --------

  /** Weighted p25/p50/p75 per segment — E64's machinery generalized to
    * the quartile grid in the SAME single pass: the smallest x with
    * 4·cum ≥ tot / 2·cum ≥ tot / 4·cum ≥ 3·tot (pure integer
    * comparisons, no division), read as three conditional MINs over the
    * one cumulative-weight frame. The cumsum is the same
    * [[Ranks.runningByRange]] scan, so no segment ever sorts in one task;
    * adding quantile points costs one `when`-guarded agg each, not
    * another shuffle — the argument for the prefix-sum formulation over
    * per-quantile nth-element passes.
    */
  def weightedPercentiles(s: SparkSession, dir: String): DataFrame = {
    val perCust = segmentCents(s, dir)
    val tot = col("cum_total")
    Ranks.running(perCust, Seq("c_mktsegment"), Seq("x", "c_custkey"),
        Seq("cum" -> col("w")))
      .groupBy(col("c_mktsegment"))
      .agg(
        min(when(lit(4L) * col("cum") >= tot, col("x"))).as("p25_rev_c"),
        min(when(lit(2L) * col("cum") >= tot, col("x"))).as("p50_rev_c"),
        min(when(lit(4L) * col("cum") >= lit(3L) * tot, col("x")))
          .as("p75_rev_c"),
        min(tot).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val weightedPercentilesSql: String =
    s"""$weightedCumSql
       SELECT c_mktsegment,
         MIN(CASE WHEN 4 * cum >= tot THEN x END) AS p25_rev_c,
         MIN(CASE WHEN 2 * cum >= tot THEN x END) AS p50_rev_c,
         MIN(CASE WHEN 4 * cum >= 3 * tot THEN x END) AS p75_rev_c,
         CAST(MIN(tot) AS BIGINT) AS n_orders
       FROM cw
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ------------------------------ L42 cross-split n-gram coverage --------

  /** Cross-split bigram coverage: for each EVAL document (deterministic
    * doc_id mod-10 cut), the fraction of its adjacent-word bigrams seen
    * anywhere in the TRAIN split — the log-free language-model proxy for
    * "how much of this doc is in-distribution": near-1 coverage means
    * boilerplate the corpus already teaches, near-0 means novel (or
    * noise) text. Complements L30 (unigram OOV) with order-sensitive
    * context and L38 (novelty = first-occurrence direction).
    *
    * Shape: bigrams via the L26 slice+arrays_zip form (codegen'd, no
    * higher-order lambda); the train side collapses to a DISTINCT
    * bigram vocabulary and the membership probe is a hash equi-join
    * CO-PARTITIONED on the bigram key — the vocabulary is corpus-sized,
    * so no broadcast premise anywhere (unlike L30's top-k cut). Per-doc
    * census keys on doc_id. Coverage is one int/int IEEE division;
    * eval docs with <2 tokens have no bigrams and drop.
    */
  def ngramCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        .as("w"))
    val pairs = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"),
        slice(col("w"), lit(1), size(col("w")) - 1).as("xs"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("ys"))
      .select(col("doc_id"), explode(arrays_zip(col("xs"), col("ys"))).as("p"))
      .select(col("doc_id"),
        concat_ws(" ", col("p.xs"), col("p.ys")).as("bg"))
    val train = pairs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("bg")).distinct()
    pairs.where(pmod(col("doc_id"), lit(10)) === 0)
      .join(train.withColumn("hit", lit(1L)), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_bigrams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_bigrams").cast("double"))
          .as("coverage"))
      .orderBy(col("doc_id"))
  }

  val ngramCoverageSql: String =
    """WITH toks AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents),
       pairs AS (
         SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
         FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)),
       train AS (SELECT DISTINCT bg FROM pairs WHERE doc_id % 10 <> 0),
       ev AS (SELECT doc_id, bg FROM pairs WHERE doc_id % 10 = 0)
       SELECT ev.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
         CAST(SUM(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS coverage
       FROM ev LEFT JOIN train t ON ev.bg = t.bg
       GROUP BY ev.doc_id ORDER BY ev.doc_id"""

  // ------------------------------ E71 mergeable binned quantiles ---------

  /** Mergeable quantile summary — the E6d reaggregatable-distinct
    * discipline applied to QUANTILES: order-value cents bin into a fixed
    * 1024-cell integer grid (exact min/max pass → ceil width → floor-div
    * bin), per-DAY partial grids collapse map-side, and the merged grid's
    * prefix sums read p50/p90/p99 as bin lower edges with pure integer
    * threshold compares (2·cum ≥ tot, 10·cum ≥ 9·tot, 100·cum ≥ 99·tot).
    * Partial grids are ADDITIVE — they sum across days/streams/shards in
    * any grouping, so the same summary maintains incrementally at 100 TB
    * where exact E6b percentiles would re-touch every row; estimate error
    * is bounded by one bin width BY CONSTRUCTION (the true quantile lies
    * in the selected bin). The prefix/threshold windows run on the
    * ≤1024-row grid — dimension-sized, the E46 sweep-line frame rule.
    * Every step is integer arithmetic, so the oracle replays the whole
    * summary bit-exactly.
    */
  def quantileMergeable(s: SparkSession, dir: String): DataFrame = {
    val nbins = 1024L
    val vals = orders(s, dir).select(
      dayBucket(col("o_orderdate")).as("day"),
      (dec2(col("o_totalprice")) * 100).cast("long").as("x"))
    val bounds = vals.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val binned = vals.crossJoin(broadcast(bounds))
      .withColumn("width",
        call_function("div", col("hi") - col("lo") + nbins, lit(nbins)))
      .withColumn("bin", call_function("div", col("x") - col("lo"),
        col("width")))
    val daily = binned.groupBy(col("day"), col("bin"), col("lo"),
        col("width"))
      .agg(count(lit(1)).as("cnt")) // the mergeable per-day partial grids
    val merged = daily.groupBy(col("bin"), col("lo"), col("width"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("tot", sum(col("cnt")).over(wAll))
      .agg(max(col("tot")).as("n_rows"),
        max(col("width")).as("bin_width"),
        min(when(lit(2L) * col("cum") >= col("tot"),
          col("lo") + col("bin") * col("width"))).as("p50_est"),
        min(when(lit(10L) * col("cum") >= lit(9L) * col("tot"),
          col("lo") + col("bin") * col("width"))).as("p90_est"),
        min(when(lit(100L) * col("cum") >= lit(99L) * col("tot"),
          col("lo") + col("bin") * col("width"))).as("p99_est"))
  }

  val quantileMergeableSql: String =
    """WITH v AS (
         SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS x
         FROM orders),
       b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM v),
       wd AS (SELECT lo, (hi - lo + 1024) // 1024 AS width FROM b),
       g AS (
         SELECT (x - lo) // width AS bin, lo, width, COUNT(*) AS cnt
         FROM v CROSS JOIN wd GROUP BY 1, 2, 3),
       c AS (
         SELECT bin, lo, width, cnt,
           CAST(SUM(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum,
           CAST(SUM(cnt) OVER () AS BIGINT) AS tot
         FROM g)
       SELECT CAST(MAX(tot) AS BIGINT) AS n_rows,
         CAST(MAX(width) AS BIGINT) AS bin_width,
         CAST(MIN(CASE WHEN 2 * cum >= tot
           THEN lo + bin * width END) AS BIGINT) AS p50_est,
         CAST(MIN(CASE WHEN 10 * cum >= 9 * tot
           THEN lo + bin * width END) AS BIGINT) AS p90_est,
         CAST(MIN(CASE WHEN 100 * cum >= 99 * tot
           THEN lo + bin * width END) AS BIGINT) AS p99_est
       FROM c"""

  // ------------------------------ E72 user lifecycle accounting ----------

  /** Growth accounting: per day, active users split into NEW (first-ever
    * activity) vs RETURNING, plus the cumulative known-user count — the
    * stock-and-flow census behind every growth dashboard, and the E27
    * cohort matrix's marginal. Shape: one (user, day) distinct shuffle,
    * a user-keyed first-day agg joined back on the user hash, a day
    * census that collapses map-side to |days| rows, and a prefix sum on
    * that dimension-sized frame (E46 rule).
    */
  def userLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), dayBucket(col("ts")).as("day")).distinct()
    val first = ud.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val daily = ud.join(first, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("n_known", sum(col("n_new")).over(w))
      .orderBy(col("day"))
  }

  val userLifecycleSql: String =
    """WITH ud AS (
         SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
         FROM events),
       f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1),
       d AS (
         SELECT day, COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new
         FROM ud JOIN f USING (user_id) GROUP BY 1)
       SELECT day, n_active, n_new, n_active - n_new AS n_returning,
         CAST(SUM(n_new) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_known
       FROM d ORDER BY day"""

  // ------------------------------ E73 activity streaks -------------------

  /** Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    * days (day − row_number is constant exactly within a run), reduced
    * to the per-user census — active days, streak count, best streak
    * with its start (longest, then earliest, via one lexicographic
    * struct-max; no second window pass). The survival/engagement signal
    * layered over E72's daily flows. Per-user windows ride the one
    * (user, day) distinct shuffle; per-user day counts are bounded by
    * the calendar, so no wide-group hazard.
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), dayBucket(col("ts")).as("day")).distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val streaks = ud
      .withColumn("island", col("day") - row_number().over(byUser))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    streaks.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("len"),
          (lit(0L) - col("start_day")).as("neg"))).as("b"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("b.len").as("best_streak"),
        (lit(0L) - col("b.neg")).as("best_start"))
      .orderBy(col("user_id"))
  }

  val activityStreaksSql: String =
    """WITH ud AS (
         SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
         FROM events),
       i AS (
         SELECT user_id, day,
           day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
             AS island
         FROM ud),
       st AS (
         SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
         FROM i GROUP BY 1, 2),
       r AS (
         SELECT user_id, len, start_day,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY len DESC, start_day ASC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_streaks,
           SUM(len) OVER (PARTITION BY user_id) AS n_active_days
         FROM st)
       SELECT user_id, CAST(n_active_days AS BIGINT) AS n_active_days,
         CAST(n_streaks AS BIGINT) AS n_streaks,
         CAST(len AS BIGINT) AS best_streak, start_day AS best_start
       FROM r WHERE rn = 1 ORDER BY user_id"""

  // ------------------------------ L43 prefix boilerplate census ----------

  /** Boilerplate-prefix detector: groups of documents sharing their
    * normalized first-16-word prefix (md5 fingerprint; docs under 8
    * tokens excluded — a shorter prefix stops discriminating) — the
    * template-spam signal BETWEEN L1's whole-doc hash and L24's
    * every-8-word spans: mirrored headers/navigation chrome produce
    * identical openings on otherwise-different pages. 16-byte
    * fingerprints are all that shuffles (pixels... text never moves);
    * census rows are one per DUPLICATED prefix group (rep doc = min id),
    * heaviest first.
    */
  def prefixDup(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        .as("w"))
    toks.where(size(col("w")) >= 8)
      .select(col("doc_id"),
        md5(array_join(slice(col("w"), 1, 16), " ")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
      .where(col("n_docs") >= 2)
      .select(col("rep_doc"), col("n_docs"))
      .orderBy(col("n_docs").desc, col("rep_doc"))
  }

  val prefixDupSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents),
       p AS (
         SELECT doc_id, md5(array_to_string(w[1:16], ' ')) AS fp
         FROM t WHERE len(w) >= 8),
       g AS (
         SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc
         FROM p GROUP BY 1)
       SELECT rep_doc, n_docs FROM g WHERE n_docs >= 2
       ORDER BY n_docs DESC, rep_doc"""

  // ------------------------------ L44 containment / overlap pairs --------

  /** Asymmetric near-dup pairs by OVERLAP COEFFICIENT
    * (|A∩B| / min(|A|,|B|), lang-blocked, θ=0.8) — the nesting detector
    * Jaccard structurally misses: a short doc quoted wholesale inside a
    * long one keeps Jaccard ≈ |A|/|B| (arbitrarily small) while its
    * containment is ≈ 1. The quotation/expansion case is endemic in web
    * corpora (press releases inside articles, READMEs inside docs) and
    * leaks training text past symmetric dedup. Same blocked candidates +
    * verbatim-collapse machinery as L4; no size prefilter CAN apply —
    * containment admits any size ratio, which is the point.
    */
  def containmentPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(documents(s, dir), col("doc_id"), col("text"),
      block = col("lang"), threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))

  val containmentPairsSql: String = {
    val containSql =
      """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(LEAST(len(a.sh), len(b.sh)) AS DOUBLE)"""
    s"""WITH s AS (SELECT doc_id, lang, $shingleSql AS sh
         FROM ($shingleSrcSql))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, $containSql AS containment
       FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
       WHERE $containSql >= 0.8
       ORDER BY id_a, id_b"""
  }

  /** Containment-cluster telemetry — the L41 histogram over the OVERLAP
    * graph, and the LINEAR consumer of the L44 family: cluster sizes +
    * doc shares of the containment ≥ 0.8 components, consumed through
    * `Dedup.containmentEdges` (star edges + rep pairs, |edges| linear in
    * the corpus) so the telemetry never pays the owed-quadratic pair
    * list `containment_pairs` contracts. The report reads as "how much
    * of the corpus is nested inside something else" — the quotation/
    * expansion mass symmetric dedup leaves behind.
    */
  def containmentStats(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    clusterCensus(docs, Dedup.containmentEdges(docs, col("doc_id"),
      col("text"), block = col("lang"), threshold = 0.8))
  }

  val containmentStatsSql: String = {
    val containSql =
      """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(LEAST(len(a.sh), len(b.sh)) AS DOUBLE)"""
    clusterCensusSql(
      shinglePairsSql("a.lang = b.lang AND ", s"$containSql >= 0.8"))
  }

  // ------------------------------ E74 two-sample KS drift ----------------

  /** Two-sample Kolmogorov–Smirnov drift between the two LARGEST
    * sources' document-length distributions — the DISTRIBUTIONAL
    * companion to E43 (categorical χ²) and L29 (vocabulary drift): KS
    * asks "do these sources even draw lengths from the same
    * distribution", the first question before pooling them. The D
    * statistic is computed EXACTLY in integers: with counts c_a/c_b on
    * the merged length support, D·n_a·n_b = max |cum_a·n_b − cum_b·n_a|
    * — no per-point division, one BIGINT max; only the final D is one
    * IEEE division. Arm selection (top-2 by count, name tiebreak) and
    * the prefix sums run on dimension-sized frames (|sources|,
    * |distinct lengths|) per the E46 rule; the length census itself
    * collapses map-side.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val lens = documents(s, dir).select(col("source"),
      TextAnalysis.wordCount(col("text")).cast("long").as("len"))
    val counts = lens.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val arms = counts
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("source").asc)))
      .where(col("rk") <= 2)
    val grid = lens.join(broadcast(arms), "source")
      .groupBy(col("len"))
      .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("rk") === 2, 1L).otherwise(0L)).as("c_b"))
    val labels = arms.groupBy()
      .agg(max(when(col("rk") === 1, col("source"))).as("source_a"),
        max(when(col("rk") === 2, col("source"))).as("source_b"),
        max(when(col("rk") === 1, col("n"))).as("n_a"),
        max(when(col("rk") === 2, col("n"))).as("n_b"))
    val w = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_a", sum(col("c_a")).over(w))
      .withColumn("cum_b", sum(col("c_b")).over(w))
      .crossJoin(broadcast(labels))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .as("d_num"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("d_num"),
        (col("d_num").cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("d"))
  }

  val ksDriftSql: String =
    """WITH lens AS (
         SELECT source,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS len
         FROM documents),
       cn AS (SELECT source, COUNT(*) AS n FROM lens GROUP BY 1),
       t2 AS (
         SELECT source, n, rk FROM (
           SELECT source, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rk
           FROM cn)
         WHERE rk <= 2),
       g AS (
         SELECT len,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
           CAST(SUM(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
         FROM lens JOIN t2 USING (source) GROUP BY 1),
       lab AS (
         SELECT MAX(CASE WHEN rk = 1 THEN source END) AS source_a,
           MAX(CASE WHEN rk = 2 THEN source END) AS source_b,
           CAST(MAX(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS n_a,
           CAST(MAX(CASE WHEN rk = 2 THEN n END) AS BIGINT) AS n_b
         FROM t2),
       c AS (
         SELECT
           CAST(SUM(c_a) OVER w AS BIGINT) AS cum_a,
           CAST(SUM(c_b) OVER w AS BIGINT) AS cum_b
         FROM g
         WINDOW w AS (ORDER BY len
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT source_a, source_b, n_a, n_b,
         CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
         CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
           / CAST(n_a * n_b AS DOUBLE) AS d
       FROM c CROSS JOIN lab
       GROUP BY 1, 2, 3, 4"""

  // ------------------------------ E75 A/B experiment census --------------

  /** Deterministic A/B experiment report: users split into two arms by
    * id parity, conversion = any purchase event, one-row report with
    * per-arm counts, int/int rates, and the 2×2 χ² statistic — E43's
    * independence machinery applied as the experimentation readout
    * (is the arm-conversion association beyond chance). All counts are
    * exact integers off ONE user-keyed agg; χ² is a single fixed-shape
    * IEEE expression over those integers (each factor cast to double
    * BEFORE multiplying — the all-integer product overflows 64 bits at
    * corpus scale), so both engines compute the identical double.
    */
  def abTestReport(s: SparkSession, dir: String): DataFrame = {
    val conv = events(s, dir).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val g = conv.groupBy().agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_0"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_1"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_1"))
    g.select(col("n_0"), col("conv_0"), col("n_1"), col("conv_1"),
      (col("conv_0").cast("double") / col("n_0").cast("double"))
        .as("rate_0"),
      (col("conv_1").cast("double") / col("n_1").cast("double"))
        .as("rate_1"),
      ((col("n_0") + col("n_1")).cast("double")
        * (col("conv_0") * (col("n_1") - col("conv_1"))
          - col("conv_1") * (col("n_0") - col("conv_0"))).cast("double")
        * (col("conv_0") * (col("n_1") - col("conv_1"))
          - col("conv_1") * (col("n_0") - col("conv_0"))).cast("double")
        / (col("n_0").cast("double") * col("n_1").cast("double")
          * (col("conv_0") + col("conv_1")).cast("double")
          * ((col("n_0") - col("conv_0")) + (col("n_1") - col("conv_1")))
            .cast("double"))).as("chi2"))
  }

  val abTestReportSql: String =
    """WITH conv AS (
         SELECT user_id,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS conv
         FROM events GROUP BY 1),
       g AS (
         SELECT
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_0,
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
             AS BIGINT) AS conv_0,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_1,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
             AS BIGINT) AS conv_1
         FROM conv)
       SELECT n_0, conv_0, n_1, conv_1,
         CAST(conv_0 AS DOUBLE) / CAST(n_0 AS DOUBLE) AS rate_0,
         CAST(conv_1 AS DOUBLE) / CAST(n_1 AS DOUBLE) AS rate_1,
         CAST(n_0 + n_1 AS DOUBLE)
           * CAST(conv_0 * (n_1 - conv_1) - conv_1 * (n_0 - conv_0)
               AS DOUBLE)
           * CAST(conv_0 * (n_1 - conv_1) - conv_1 * (n_0 - conv_0)
               AS DOUBLE)
           / (CAST(n_0 AS DOUBLE) * CAST(n_1 AS DOUBLE)
             * CAST(conv_0 + conv_1 AS DOUBLE)
             * CAST((n_0 - conv_0) + (n_1 - conv_1) AS DOUBLE)) AS chi2
       FROM g"""

  // ------------------------------ L45 embedding health census ------------

  /** Per-dimension embedding health: n, exact quantized sum and
    * sum-of-squares (q = ⌊v·2²⁰⌋ — scaling by a power of two is EXACT in
    * doubles, so both engines floor the identical value; the E63
    * integer-linear-algebra discipline), plus mean and variance as
    * fixed-shape IEEE expressions over those integers. The collapsed-
    * embedding / dead-dimension detector every vector pipeline needs
    * before ANN (a near-zero-variance dimension means the encoder
    * collapsed; a shifted mean breaks cosine assumptions). q² stays in
    * 64-bit (≤2⁴⁰) but its SUM is carried as TWO exact BIGINT halves
    * split at 2³⁰ (hi = q² div 2³⁰ ≤ 2¹⁰, lo = q² mod 2³⁰ < 2³⁰ — each
    * half-sum stays below 2⁶³ for > 2³³ vectors per dimension): the
    * `tableChecksum` split-sum discipline (Reconcile.scala), because a
    * bare DECIMAL(38,0) sum is value-equal across engines but RENDERS
    * differently (Decimal object vs integer string), which breaks
    * byte-level result comparison. One posexplode + one map-side-
    * collapsing agg to d rows; vectors never shuffle.
    */
  def embeddingHealth(s: SparkSession, dir: String): DataFrame = {
    val q2 = col("q") * col("q")
    val split = lit(1073741824L) // 2³⁰
    embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1048576.0)).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sum_q"),
        sum(call_function("div", q2, split)).as("sum_q2_hi"),
        sum(pmod(q2, split)).as("sum_q2_lo"))
      .select(col("dim"), col("n_vecs"), col("sum_q"),
        col("sum_q2_hi"), col("sum_q2_lo"),
        (col("sum_q").cast("double") / col("n_vecs").cast("double")
          / lit(1048576.0)).as("mean"),
        (((col("sum_q2_hi").cast("double") * lit(1073741824.0)
          + col("sum_q2_lo").cast("double")) / col("n_vecs").cast("double")
          - (col("sum_q").cast("double") / col("n_vecs").cast("double"))
            * (col("sum_q").cast("double") / col("n_vecs").cast("double")))
          / (lit(1048576.0) * lit(1048576.0))).as("variance"))
      .orderBy(col("dim"))
  }

  val embeddingHealthSql: String =
    """WITH q AS (
         SELECT i - 1 AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT)
             AS q
         FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
       g AS (
         SELECT dim, COUNT(*) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_q,
           CAST(SUM((q * q) // 1073741824) AS BIGINT) AS sum_q2_hi,
           CAST(SUM((q * q) % 1073741824) AS BIGINT) AS sum_q2_lo
         FROM q GROUP BY 1)
       SELECT dim, n_vecs, sum_q, sum_q2_hi, sum_q2_lo,
         CAST(sum_q AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1048576.0
           AS mean,
         ((CAST(sum_q2_hi AS DOUBLE) * 1073741824.0
           + CAST(sum_q2_lo AS DOUBLE)) / CAST(n_vecs AS DOUBLE)
           - (CAST(sum_q AS DOUBLE) / CAST(n_vecs AS DOUBLE))
             * (CAST(sum_q AS DOUBLE) / CAST(n_vecs AS DOUBLE)))
           / (1048576.0 * 1048576.0) AS variance
       FROM g ORDER BY dim"""

  // ------------------------------ E76 RFM segmentation -------------------

  /** RFM segmentation: each customer scored 1–5 on Recency (last order
    * day), Frequency (order count) and Monetary (exact decimal cents),
    * reduced to the ≤125-cell segment census — the classic CRM cut, and
    * a three-fold exercise of the one-group [[Ranks.runningByRange]] rank
    * (customers are ONE wide group; a plain ntile window would sort them
    * all in a single task). Quintile index is pure integer math
    * (⌊(rank−1)·5/n⌋ + 1, n = the scan's group total); ties break on
    * custkey so every engine ranks identically.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val perCust = orders(s, dir).groupBy(col("o_custkey"))
      .agg(max(dayBucket(col("o_orderdate"))).as("recency_day"),
        count(lit(1)).as("freq"),
        (sum(dec2(col("o_totalprice"))) * lit(100)).cast("long")
          .as("monetary_c"))
      .localCheckpoint() // three rank layouts + the census read it
    val ranked = Seq(
      (Seq("recency_day", "o_custkey"), "rk_r"),
      (Seq("freq", "o_custkey"), "rk_f"),
      (Seq("monetary_c", "o_custkey"), "rk_m"))
      .foldLeft(perCust) { case (df, (ord, out)) =>
        Ranks.running(df, Nil, ord, Seq(out -> lit(1L)))
      }
    def quint(rk: String) =
      (call_function("div", (col(rk) - 1) * 5, col(s"${rk}_total")) + 1)
    ranked
      .select(quint("rk_r").as("r_score"), quint("rk_f").as("f_score"),
        quint("rk_m").as("m_score"), col("monetary_c"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary_c")).as("sum_monetary_c"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val rfmSegmentsSql: String =
    """WITH pc AS (
         SELECT o_custkey,
           MAX(epoch_us(o_orderdate) // 86400000000) AS recency_day,
           COUNT(*) AS freq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS monetary_c
         FROM orders GROUP BY 1),
       n AS (SELECT COUNT(*) AS n FROM pc),
       r AS (
         SELECT o_custkey, monetary_c,
           ROW_NUMBER() OVER (ORDER BY recency_day, o_custkey) AS rk_r,
           ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS rk_f,
           ROW_NUMBER() OVER (ORDER BY monetary_c, o_custkey) AS rk_m
         FROM pc),
       sc AS (
         SELECT ((rk_r - 1) * 5) // n + 1 AS r_score,
           ((rk_f - 1) * 5) // n + 1 AS f_score,
           ((rk_m - 1) * 5) // n + 1 AS m_score, monetary_c
         FROM r CROSS JOIN n)
       SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
         CAST(SUM(monetary_c) AS BIGINT) AS sum_monetary_c
       FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
}
