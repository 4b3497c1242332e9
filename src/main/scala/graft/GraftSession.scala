package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale defaults.
  *
  * Replaces the reference's Hadoop `Job` configuration surface
  * (`MapReduceExecutor.java:139-190` sets up the job; here Catalyst + AQE own
  * physical planning). AQE is on so reducer counts / skew handling are decided
  * at runtime from shuffle statistics — the Spark-native answer to the
  * reference's static `reducers` knob (`MapReduceExecutorTask.java:44`).
  *
  * [[builder]] installs the `get_json_object` field rewrite of
  * [[graft.plans.GraftExtensions]] (so a `get_json_object(c, '$.name')`
  * runs on graft's `JsonField` kernel) and
  * points `file:` at graft's local filesystem, which sets
  * permissions in-process ([[localFsConfs]]), so a write forks no `chmod`
  * per directory, data file and `.crc`. Two cautions:
  *  - Without it, `file:` resolves to Hive's
  *    `org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem` (registered
  *    through the `FileSystem` service loader; it wraps `LocalFileSystem`).
  *    A graft session replaces it with a `LocalFileSystem` subclass.
  *  - Hadoop caches one `FileSystem` per scheme and user for the JVM's
  *    life, keyed without the configuration. The setting holds only if the
  *    session is built before anything in the JVM creates a `file:`
  *    FileSystem: one made earlier keeps its class for every later
  *    session, and writes fork `chmod` again.
  */
object GraftSession {

  /** Total bytes of regular files under `dir` (0 when unreadable) — the
    * input-size estimate the AQE ceiling conditions on.
    */
  def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Input-conditional AQE partition ceiling (r16, pure, unit-tested).
    *
    * Shuffles START at this count and AQE coalesces down from runtime
    * statistics, so reducer counts scale with input instead of pinning
    * at `cores`. The large-input ceiling is 2× cores, not the folklore
    * 8×: a measured 300×-decade A/B (BASELINE.md r15) showed 8×
    * REGRESSING the CPU-bound object aggregates 1.4-2× (extra task
    * waves pay per-task constants; the big sorts there weren't spilling
    * in the first place) while 2× halved q5-class SMJ sorts and
    * stabilized the basket-assembly aggregate.
    *
    * But the blanket 2× constant cost the SMALL end ~10-16% (r15's sf0.1
    * cold floor, concentrated in sub-second queries: twice the task
    * waves, each paying scheduler/codegen-dispatch constants, on
    * shuffles AQE would coalesce to a handful of partitions anyway). A
    * 17 MB input cannot profit from 64 initial reducers on a 32-core
    * box — so inputs under `smallBytes` (256 MiB default) keep the
    * plain `cores` layout, and the ceiling engages only where the r15
    * A/B measured its wins (the decade dirs start at 477 MB). On a real
    * cluster, scale the ceiling with total-executor-cores by setting
    * Spark's own `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
    * on the returned builder or on the session (a later conf wins) — the
    * trade is per-task constant overhead vs per-task sort footprint, and
    * the right ceiling grows with the data-to-memory ratio.
    */
  def initPartitionsFor(cores: Int, bytes: Long,
      smallBytes: Long = 256L << 20): Int =
    if (bytes >= smallBytes) cores * 2 else cores

  /** Input-conditional bucket count for build-once bucketed layouts
    * (pure; same small-input rule as [[initPartitionsFor]] and the
    * streaming state-store sizing). A bucketed table's bucket count IS
    * its parallelism ceiling for every zero-exchange probe against it —
    * the whole point of the layout is that neither side re-shuffles, so
    * a fixed count that was right for a test fixture silently serializes
    * at scale: the 1000×-decade probe read `asof_packed` at 5.3× per
    * 3.33× data because its 8-bucket dim capped BOTH the dim write and
    * every probe join at 8-way on a 32-core box (BASELINE r16 fourth-
    * decade table). Small inputs keep 8 buckets (fewer, fuller files;
    * bucket-count waves cost more than they parallelize at 17 MB);
    * large inputs take `cores`, so probe parallelism tracks the machine
    * while per-bucket size stays bounded by input/cores. On a real
    * cluster, pass total executor cores — the layout should be sized
    * for the fleet that probes it, not the session that wrote it.
    */
  def bucketsFor(cores: Int, bytes: Long,
      smallBytes: Long = 256L << 20): Int =
    if (bytes >= smallBytes) cores else math.min(cores, 8)

  /** An integer `SPARK_GRAFT_*` harness setting (core count, scale factor,
    * reps, timeouts) looked up in `env` (the harness mains pass the
    * process environment): `None` when unset, else a value that must be an
    * integer ≥ `min`. A malformed value throws naming the knob instead of
    * a bare `NumberFormatException`.
    */
  def intKnob(name: String, env: String => Option[String],
      min: Int): Option[Int] =
    env(name).map(v => v.trim.toIntOption.filter(_ >= min).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be an integer >= $min, got '$v'")))

  /** [[builder]] with the AQE ceiling conditioned on the session's known
    * input directory ([[initPartitionsFor]]).
    */
  def builderFor(master: String, cores: Int,
      inputDir: String): SparkSession.Builder =
    builder(master, cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initPartitionsFor(cores, inputBytes(inputDir)).toString)

  /** The confs every graft query's results depend on, applied by
    * [[builder]] and by Verify's dump session: UTC session time; ANSI off,
    * because graft uses wrap-around 64-bit affine hashes (MinHash
    * permutations) that ANSI overflow checking would reject; µs parquet
    * timestamps written, and the nanos `events.ts` read as a long, so the
    * DuckDB oracle reads identical values.
    */
  val contractConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** `file:` through [[graft.sources.NioLocalFileSystem]] (the `FileSystem`
    * API DataSource writes use) and [[graft.sources.NioLocalFs]] (the
    * `FileContext` API streaming checkpoints use). Applied by [[builder]]
    * and by Verify's dump session.
    */
  val localFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.sources.NioLocalFs].getName)

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.jsonField)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // default ceiling when no input dir is known: 2× cores (see
      // initPartitionsFor for the measured rationale and the
      // small-input carve-out builderFor applies)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 2).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config(contractConfs)
      .config(localFsConfs)
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
