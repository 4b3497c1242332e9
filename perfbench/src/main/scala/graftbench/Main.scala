package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods


/** Peak heap in use right after a collection, while armed. */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: Any) =>
        if (armed && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def start(): Unit = { peak.set(0L); armed = true }
  def stop(): Long = { armed = false; peak.get }
}

/** The benchmark's JVM entry point; `perfbench/run.py` builds and launches
  * it. One run = one workload and one seed: generate the input, start a
  * session and warm it up with untimed jobs, then run the job back to back
  * for the given seconds, checking every committed output. With
  * `--trace 1` half the jobs run traced and the layer probes run after the
  * loop.
  */
object Main {

  val MinJobs = 5
  /** Untimed jobs after the first, cold one. Job times fall for the first
    * several jobs of a process while the JIT compiles and level off after
    * about this many.
    */
  val WarmJobs = 6
  val MinTracedJobs = 2
  val ProbeReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.of(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // Spark's non-daemon threads must not keep the JVM alive, so exit
    // explicitly on both paths
    try {
      val result = Run(wl, seed, seconds, trace, work, Sizes.full, cores).go()
      val file = Paths.get(opt("result")).toAbsolutePath
      Files.createDirectories(file.getParent)
      Files.writeString(file, JsonMethods.compact(Json(result)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}

/** Process and machine counters, read around each timed job so a slow
  * job's cause shows in the record: CPU the process used, GC and JIT time,
  * and CPU time the hypervisor gave to other guests (steal, from
  * `/proc/stat`; 0 where that file is absent).
  */
final case class Snap(cpuNs: Long, gcMs: Long, jitMs: Long, stealTicks: Long) {
  def since(b: Snap, wallS: Double, cores: Int): Map[String, Double] = Map(
    "cpu_s" -> (cpuNs - b.cpuNs) / 1e9,
    "gc_s" -> (gcMs - b.gcMs) / 1e3,
    "jit_s" -> (jitMs - b.jitMs) / 1e3,
    // /proc/stat counts in USER_HZ, 100 per second on Linux
    "steal_frac" -> (stealTicks - b.stealTicks) / 100.0 / (wallS * cores))
}

object Snap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def apply(): Snap = Snap(os.getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    Try(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong)
      .getOrElse(0L))
}

/** Values to json4s, for the result file. */
object Json {
  def apply(v: Any): JValue = v match {
    case null => JNull
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> apply(x) })
    case s: Seq[_] => JArray(s.toList.map(apply))
    case o => JString(o.toString)
  }
}

final case class Run(wl: Workload, seed: Long, seconds: Double,
    trace: Boolean, work: Path, sizes: Sizes, cores: Int) {

  private def now: Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit = System.err.println(
    f"[graftbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s $msg")

  private def session(): SparkSession = {
    val s = graft.GraftSession
      .builderFor(s"local[$cores]", cores, wl.dataDir(in).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.showConsoleProgress", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val outRoot = work.resolve("out").resolve(wl.name)
  /** The input, kept per seed so a repeated seed skips generation. */
  private val in = work.resolve("input").resolve(wl.name)
    .resolve(s"${sizes.name}-seed$seed")
  private val probeOff = new Probe(None)

  def go(): Map[String, Any] = {
    Fs.rmTree(outRoot)
    val problems = mutable.ArrayBuffer.empty[String]
    var reference: Option[String] = None
    /** Problems with one committed output. The first output is checked in
      * full and its digest kept; every later one must match that digest,
      * which means the same rows.
      */
    def verify(spark: SparkSession, out: Path, label: String): Seq[String] =
      Try {
        val d = wl.digest(spark, out)
        reference match {
          case None =>
            val p = wl.check(spark, in, out)
            if (p.isEmpty) reference = Some(d)
            p
          case Some(r) =>
            if (r == d) Nil
            else Seq(s"$label output digest $d differs from the checked $r")
        }
      } match {
        case Success(p) => p
        case Failure(e) =>
          Seq(s"check of $label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    // set-up: from process start through a GraftSession bootstrap, one
    // cold run of the job and a fixed number of untimed warm-up runs. Input
    // generation and the full check of the first output are the harness's
    // own work and are left out; the check runs there because the job after
    // it runs slow while the check's code compiles. The timed jobs run in
    // this session.
    val t0 = now - (System.currentTimeMillis() - jvmStart) * 1000000L
    val spark = session()
    var harnessNs = now
    val props = wl.prepare(spark, in, seed, sizes)
    harnessNs = now - harnessNs
    log(s"input ready: $props")
    (0 to Main.WarmJobs).foreach { w =>
      val out = outRoot.resolve(s"warmup$w")
      val t = now
      wl.job(spark, in, out, probeOff)
      log(f"warm-up job $w ${secs(now - t)}%.3f s")
      if (w == 0) {
        val c = now
        val p = verify(spark, out, "the cold job")
        problems ++= p
        p.foreach(m => log(s"FAILED: $m"))
        harnessNs += now - c
      }
      Fs.rmTree(out)
    }
    val setupS = secs(now - t0 - harnessNs)
    val inRows = props("rows").asInstanceOf[Long]
    val inBytes = Fs.bytes(wl.dataDir(in))
    log(f"set-up $setupS%.3f s")

    // the listener is attached only around traced jobs and the probes, so
    // the plain jobs, the base of the tracing overhead, run as untraced
    val listener = if (trace) Some(new LayerListener) else None
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    def attach(): Unit = listener.foreach { l =>
      l.drain(spark.sparkContext)
      l.reset()
      spark.sparkContext.addSparkListener(l)
    }
    def detach(): Unit = listener.foreach { l =>
      l.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Double]
    val outBytes = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val diags = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0

    val loopStart = now
    var i = 0
    // traced runs alternate plain and traced jobs and need fewer of each
    val minJobs = if (trace) Main.MinTracedJobs else Main.MinJobs
    while (secs(now - loopStart) < seconds || plain.length < minJobs ||
        (trace && traced.length < minJobs)) {
      if (attempted >= 4 * Main.MinJobs && plain.isEmpty)
        throw new IllegalStateException(s"every job failed: ${problems.mkString("; ")}")
      // plain, traced, traced, plain, ...: a drift in job times over the
      // loop weighs on both sides alike
      val isTraced = trace && (i % 4 == 1 || i % 4 == 2)
      val out = outRoot.resolve(s"job$i")
      if (isTraced) attach()
      // a full collection first, so the heap of one job does not spill
      // into the next one's timing or heap figure
      System.gc()
      attempted += 1
      HeapWatch.start()
      val before = Snap()
      val t = now
      val ran = Try {
        if (isTraced) tracer.get("job")(wl.job(spark, in, out,
          new Probe(tracer)))
        else wl.job(spark, in, out, probeOff)
      }
      val dt = secs(now - t)
      val diag = Snap().since(before, dt, cores)
      val heap = HeapWatch.stop()
      log(f"job $i${if (isTraced) " (traced)" else ""} $dt%.3f s " +
        diag.map { case (k, v) => f"$k $v%.3f" }.mkString(" "))
      // read the listener before the checks add their own jobs
      val layer =
        if (isTraced && ran.isSuccess) Some(traceJob(spark, listener.get, tracer.get, dt, out))
        else None
      if (isTraced) detach()
      val verdict = ran match {
        case Failure(e) => Seq(s"job $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Success(_) => verify(spark, out, s"job $i")
      }
      if (verdict.nonEmpty) {
        failed += 1
        problems ++= verdict
        verdict.foreach(p => log(s"FAILED: $p"))
      } else {
        (if (isTraced) traced else plain) += dt
        if (!isTraced) {
          diags += diag
          if (heap > 0) heaps += heap / 1048576.0
          files += Fs.dataFiles(out).length.toDouble
          outBytes += Fs.bytes(out).toDouble
        } else layers ++= layer
      }
      Fs.rmTree(out)
      i += 1
    }
    log(f"jobs ${plain.map(s => f"$s%.3f").mkString(" ")} s" +
      (if (trace) f" traced ${traced.map(s => f"$s%.3f").mkString(" ")} s" else ""))
    if (plain.isEmpty || (trace && traced.isEmpty))
      throw new IllegalStateException(s"no job passed: ${problems.mkString("; ")}")

    val jobS = Stats.median(plain.toSeq)
    // no collection ran inside any job: the heap in use after a full one
    val heapMb = if (heaps.nonEmpty) Stats.median(heaps.toSeq) else {
      System.gc()
      val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      m / 1048576.0
    }
    val perLayer: Map[String, (Double, String)] =
      if (!trace) Map.empty
      else {
        attach()
        layerMetrics(spark, listener.get, tracer.get, layers.toSeq, jobS, inRows,
          Stats.median(traced.toSeq))
      }
    spark.stop()

    val e2e = Map(
      "job_s" -> (jobS, "s"),
      "rows_per_s" -> (inRows / jobS, "rows/s"),
      "setup_s" -> (setupS, "s"),
      "heap_peak_mb" -> (heapMb, "MiB"),
      "out_files" -> (Stats.median(files.toSeq), "count"),
      "out_bytes_ratio" -> (Stats.median(outBytes.toSeq) / inBytes, "ratio"))

    def metricMap(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Map(
      "workload" -> wl.name,
      "rationale" -> wl.rationale,
      "seed" -> seed,
      "trace" -> trace,
      "properties" -> props,
      "input_rows" -> inRows,
      "input_bytes" -> inBytes,
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "correct" -> (failed == 0 && problems.isEmpty),
      "problems" -> problems.toSeq,
      "metrics" -> metricMap(if (trace) perLayer else e2e),
      "end_to_end" -> metricMap(e2e),
      "per_layer" -> metricMap(perLayer),
      "job_s_samples" -> plain.toSeq,
      "job_s_quartiles" ->
        (if (plain.length >= 2) Stats.quartiles(plain.toSeq).productIterator.toSeq
         else Nil),
      "traced_job_s_samples" -> traced.toSeq,
      "job_diagnostics" -> diags.toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spans" -> tracer.fold(Seq.empty[Map[String, Any]]) { t =>
        t.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_s" -> secs(s.startNs - loopStart),
          "end_s" -> secs(s.endNs - loopStart), "self_s" -> secs(t.selfNs(s.id))))
      })
  }

  /** Layer figures of one traced job, read from its spans and the listener
    * after the job; for the pipeline workloads this also times
    * `Pipeline.plan` alone, so the write share of `Pipeline.run` can be
    * separated from planning.
    */
  private def traceJob(spark: SparkSession, l: LayerListener, t: Tracer,
      jobS: Double, out: Path): Map[String, Double] = {
    l.drain(spark.sparkContext)
    val all = l.all
    val root = t.last("job").get.id
    val under = t.spans.filter(s => t.subtree(root)(s.id))
    def span(name: String) = under.find(_.name == name)
    def dur(name: String) = span(name).fold(0.0)(s => secs(s.durationNs))
    def tot(name: String) = span(name).fold(new Counters)(s => l.total(t.subtree(s.id)))
    val m = mutable.Map.empty[String, Double]
    m ++= Seq(
      "session.jobs" -> all.jobs.toDouble,
      "session.stages" -> all.stages.toDouble,
      "session.tasks" -> all.tasks.toDouble,
      "session.executor_run_s" -> all.runMs / 1e3,
      "session.executor_cpu_s" -> all.cpuNs / 1e9,
      "session.gc_s" -> all.gcMs / 1e3,
      "session.shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
      "session.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "session.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "session.spill_bytes" -> all.spillBytes.toDouble,
      "session.sched_delay_s" -> all.schedDelayMs / 1e3,
      "session.failed_tasks" -> all.failedTasks.toDouble,
      "session.busy_frac" -> all.runMs / 1e3 / (jobS * cores),
      "sources.input_bytes" -> all.inputBytes.toDouble,
      "sources.input_rows" -> all.inputRows.toDouble,
      "pipeline.parse_s" -> dur("pipeline.parse"))
    m ++= operatorMetrics(l, t, under.toSeq)
    for (run <- span("pipeline.run"); conf <- wl.config(in)) {
      val runC = tot("pipeline.run")
      val skew = l.writeSkew(t.subtree(run.id))
      l.reset()
      val cfg = graft.pipeline.ConfigJson.parse(conf)
      t("pipeline.plan")(graft.pipeline.Pipeline.plan(spark, cfg))
      l.drain(spark.sparkContext)
      val planC = l.all
      val plan = t.spans.last
      val filesOut = Fs.dataFiles(out).length.toDouble
      m ++= Seq(
        "pipeline.plan_s" -> secs(plan.durationNs),
        "pipeline.side_jobs" -> planC.jobs.toDouble,
        "pipeline.side_job_s" -> planC.jobNs / 1e9,
        "sinks.write_s" -> (secs(run.durationNs) - secs(plan.durationNs)),
        "sinks.shuffle_write_bytes" ->
          (runC.shuffleWriteBytes - planC.shuffleWriteBytes).toDouble,
        "sinks.output_bytes" -> runC.outputBytes.toDouble,
        "sinks.files" -> filesOut,
        "sinks.rows_per_file" -> (if (filesOut > 0) runC.outputRows / filesOut else 0.0),
        "sinks.task_skew" -> skew)
    }
    m.toMap
  }

  /** Operator figures from the MinHash-edges and clusters spans among
    * `spans` (one traced job, or one operators probe); empty without them.
    */
  private def operatorMetrics(l: LayerListener, t: Tracer,
      spans: Seq[Span]): Map[String, Double] =
    (spans.find(_.name == "operators.minhash_edges"),
      spans.find(_.name == "operators.clusters")) match {
      case (Some(e), Some(c)) =>
        val ec = l.total(t.subtree(e.id))
        val cc = l.total(t.subtree(c.id))
        Map(
          "operators.minhash_edges_s" -> secs(e.durationNs),
          "operators.edges" -> NearDupClusters.lastEdges.toDouble,
          "operators.clusters_s" -> secs(c.durationNs),
          "operators.clusters_jobs" -> cc.jobs.toDouble,
          "operators.clusters_shuffle_bytes" -> cc.shuffleWriteBytes.toDouble,
          "operators.materialized_bytes" ->
            (ec.materializedBytes + cc.materializedBytes).toDouble)
      case _ => Map.empty
    }

  /** Medians of the per-job layer figures, the probe self times and the
    * tracing overhead. Every name is reported on every workload; a layer
    * the workload never enters reads 0.
    */
  private def layerMetrics(spark: SparkSession, l: LayerListener, t: Tracer,
      jobs: Seq[Map[String, Double]], jobS: Double, inRows: Long,
      tracedJobS: Double): Map[String, (Double, String)] = {
    (1 to Main.ProbeReps).foreach(_ => wl.probes(spark, in, t))
    // the operators probe is a whole clustering run: once is enough
    t("operators.probe")(wl.operatorProbe(spark, in, new Probe(Some(t))))
    l.drain(spark.sparkContext)
    val probedOps = t.last("operators.probe").fold(Map.empty[String, Double]) {
      p => operatorMetrics(l, t, t.spans.filter(s => t.subtree(p.id)(s.id)).toSeq)
    }
    def probe(name: String): Double = {
      val ds = t.spans.filter(_.name == name).map(s => secs(s.durationNs)).toSeq
      if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    def self(name: String, base: String): Double =
      if (t.spans.exists(_.name == name)) probe(name) - probe(base) else 0.0
    def med(k: String): Double = {
      val vs = jobs.flatMap(_.get(k))
      if (vs.isEmpty) 0.0 else Stats.median(vs)
    }
    val units = LayerMetrics.units
    val fromJobs = units.keys.filter(k => jobs.exists(_.contains(k)))
      .map(k => k -> med(k)).toMap
    val derived = Map(
      "sources.scan_s" -> probe("sources.scan"),
      "sources.read_amplification" -> med("sources.input_rows") / inRows,
      "functions.nfc_clean_s" -> self("functions.nfc_clean", "sources.scan_text"),
      "functions.lang_id_s" -> self("functions.lang_id", "sources.scan_text"),
      "functions.quality_score_s" -> self("functions.quality_score", "sources.scan_text"),
      "functions.redact_pii_s" -> self("functions.redact_pii", "sources.scan_text"),
      "functions.fingerprint_s" -> self("functions.fingerprint", "sources.scan_text"),
      "functions.minhash_slots_s" -> self("functions.minhash_slots", "sources.scan_text"),
      "plans.topk_s" -> self("plans.topk", "functions.quality_score"),
      "trace.job_s" -> tracedJobS,
      "trace.overhead" -> (tracedJobS / jobS - 1.0)) ++
      probedOps.filter { case (k, _) => !fromJobs.contains(k) }
    units.map { case (k, u) =>
      k -> (derived.getOrElse(k, fromJobs.getOrElse(k, 0.0)), u)
    }
  }
}

/** Every per-layer metric the traced run reports, with its unit. */
object LayerMetrics {
  val units: Map[String, String] = Map(
    "sources.scan_s" -> "s", "sources.input_bytes" -> "bytes",
    "sources.input_rows" -> "rows", "sources.read_amplification" -> "ratio",
    "pipeline.parse_s" -> "s", "pipeline.plan_s" -> "s",
    "pipeline.side_jobs" -> "count", "pipeline.side_job_s" -> "s",
    "functions.nfc_clean_s" -> "s", "functions.lang_id_s" -> "s",
    "functions.quality_score_s" -> "s", "functions.redact_pii_s" -> "s",
    "functions.fingerprint_s" -> "s", "functions.minhash_slots_s" -> "s",
    "plans.topk_s" -> "s",
    "operators.minhash_edges_s" -> "s", "operators.edges" -> "count",
    "operators.clusters_s" -> "s", "operators.clusters_jobs" -> "count",
    "operators.clusters_shuffle_bytes" -> "bytes",
    "operators.materialized_bytes" -> "bytes",
    "sinks.write_s" -> "s", "sinks.shuffle_write_bytes" -> "bytes",
    "sinks.output_bytes" -> "bytes", "sinks.files" -> "count",
    "sinks.rows_per_file" -> "rows", "sinks.task_skew" -> "ratio",
    "session.jobs" -> "count", "session.stages" -> "count",
    "session.tasks" -> "count", "session.executor_run_s" -> "s",
    "session.executor_cpu_s" -> "s", "session.gc_s" -> "s",
    "session.shuffle_read_bytes" -> "bytes",
    "session.shuffle_write_bytes" -> "bytes", "session.fetch_wait_s" -> "s",
    "session.spill_bytes" -> "bytes", "session.sched_delay_s" -> "s",
    "session.failed_tasks" -> "count", "session.busy_frac" -> "ratio",
    "trace.job_s" -> "s", "trace.overhead" -> "ratio")
}
