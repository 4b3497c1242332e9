package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs the registered queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Plans are forced with a `noop` write so the full
  * pipeline executes (a bare `count()` would let Catalyst prune the plan to
  * a metadata scan and time nothing).
  */
object Bench {

  /** Where the sweep's JSON line persists — the structural guard on the
    * committed artifact (pure; unit-tested by BenchGuardSpec):
    *   - an explicit SPARK_GRAFT_BENCH_FULL path is always honored (the
    *     dev-loop contract: subset probes MUST redirect, or they clobber
    *     the full-sweep line every round-over-round diff reads);
    *   - a restricted (SPARK_GRAFT_BENCH_ONLY) sweep, or a full sweep
    *     whose sf dir differs from the committed artifact's own "sf"
    *     field (a dev-loop run at sf0.01 — see parseSf), lands in
    *     BENCH_full.partial.json, never the committed file;
    *   - a full sweep classified contended (sentinel tripped AND loadavg
    *     corroborates external load — see the sentinel block in main)
    *     lands in BENCH_full.contended.json — the r14 failure mode (a
    *     final sweep on a hot machine committed cold totals ~1.3× the
    *     same tree's quiet numbers) can no longer overwrite the trusted
    *     artifact, while a quiet-machine uniform regression still
    *     overwrites it (flagged regression_suspect, r16).
    */
  private[graft] def fullOutputTarget(explicitPath: Option[String],
      isPartial: Boolean, contended: Boolean): String =
    explicitPath.getOrElse {
      if (isPartial) "BENCH_full.partial.json"
      else if (contended) "BENCH_full.contended.json"
      else "BENCH_full.json"
    }

  /** Contention verdict (pure; unit-tested): `ratios` are this sweep's
    * per-query cold medians divided by the COMMITTED artifact's, over
    * every pure query both runs timed. A machine artifact (the r14
    * failure: a sweep on a hot machine) inflates the whole surface
    * nearly uniformly — measured median 1.22× across ~190 queries —
    * while a genuine code regression moves specific queries and barely
    * shifts the 190-query median. So a median ratio > 1.2 means "these
    * absolutes are not comparable to the committed round"; the line
    * still prints and persists to the side file for inspection either
    * way. (An earlier design re-timed 3 sentinel queries at the END of
    * the sweep against their own in-run medians — retired because 15
    * minutes of JVM heap aging inflates sub-second re-times 1.6–2×
    * on a perfectly quiet machine, false-flagging every clean sweep.)
    * Empty ratios (first run, cold pass disabled, partial sweep) never
    * trip — loadavg is the only guard then.
    */
  private[graft] def sentinelContended(ratios: Seq[Double],
      hi: Double = 1.2): Boolean =
    ratios.nonEmpty && median(ratios) > hi

  /** (contended, regressionSuspect) for a full sweep — pure, unit-tested.
    * Egregious pre-existing load alone is contended; a tripped sentinel
    * needs loadavg corroboration (pre-sweep load above half the egregious
    * threshold) to classify as contended, else it is a regression
    * suspect and the honest slow numbers still commit.
    */
  private[graft] def classifySweep(sentinelTripped: Boolean,
      loadavgPre: Double, maxLoad: Double): (Boolean, Boolean) = {
    val contended = loadavgPre > maxLoad ||
      (sentinelTripped && loadavgPre > maxLoad / 2)
    (contended, sentinelTripped && !contended)
  }

  /** Locale-proof fixed-point formatting for every JSON-line emitter
    * (Bench, ScaleSmoke, StandingTables): the f-interpolator honors the
    * default locale, so under a comma-decimal locale `f"$v%.3f"` would
    * emit `0,544` and the committed line stops being JSON.
    */
  private[graft] def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  /** Same, for emitters that want a different precision. */
  private[graft] def jnum(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", v)

  /** A JSON array of query names (names are `[a-z0-9_]`, no escaping). */
  private[graft] def jlist(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** True median (pure; unit-tested): averages the two middle elements
    * for even counts — upper-middle alone biases high for reps=4.
    */
  private[graft] def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val mid = s.length / 2
    if (s.length % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2
  }

  /** Multi-draw spread selection (pure; unit-tested) — VERDICT r16 task 3:
    * rows under a few seconds carry ~2× INTRINSIC cold-run variance with
    * no code change (the r16 archaeology re-measured `pivot_event_values`
    * at 0.24–2.76 s across same-tree sweeps), so a round-over-round diff
    * on a small row is noise read as signal unless the row carries its
    * own spread. Rows whose cold median lands under `thresh` get extra
    * draws in main (below) and commit a [min,max] envelope alongside the
    * median; rows above the threshold move more than their spread when
    * they move for real, and stay single-valued. Returns the
    * (name, (min, max)) entries to publish, preserving input order.
    *
    * The gate reads the median of the FIRST `gateReps` draws — the same
    * basis main uses to decide extra draws — so a borderline row that
    * took extra draws always publishes its envelope, even when the
    * combined median drifts over the threshold (ADVICE r17: gating on
    * the combined median let such a row commit a 5-draw median silently
    * mixed among 3-draw rows, with the annotation flickering round over
    * round).
    */
  private[graft] def spreadEntries(draws: Seq[(String, Seq[Double])],
      thresh: Double,
      gateReps: Int = Int.MaxValue): Seq[(String, (Double, Double))] =
    draws.collect {
      case (n, ts) if ts.nonEmpty && median(ts.take(gateReps)) < thresh =>
        n -> ((ts.min, ts.max))
    }

  /** The "sf" field of a committed BENCH_full.json line — the dir the
    * committed sweep ran against (pure; unit-tested). Used to refuse
    * cross-dir comparisons and artifact overwrites: a dev-loop sweep at
    * sf0.01 is ~10× faster per query than the committed sf0.1 line, so
    * its sentinel ratio reads ~0.1 (never trips the >1.2 guard) and it
    * would silently clobber the round's artifact.
    */
  private[graft] def parseSf(line: String): Option[String] =
    raw""""sf":"([^"]+)"""".r.findFirstMatchIn(line).map(_.group(1))

  /** Normalized form for the sf-dir comparison (unit-tested): a trailing
    * slash, ./ segment, relative spelling, or symlinked alias of the SAME
    * dir in SPARK_GRAFT_SF_DIR must not read as a mismatch — that would
    * misroute the round's REAL sweep to the partial file and leave the
    * committed artifact silently stale. Canonicalizes through the
    * filesystem when the path exists (resolving symlinks and relative
    * spellings); falls back to lexical normalization when it doesn't.
    */
  private[graft] def normPath(p: String): String = {
    val t = scala.util.Try(java.nio.file.Paths.get(p))
    t.flatMap(q => scala.util.Try(q.toRealPath().toString))
      .orElse(t.map(_.toAbsolutePath.normalize.toString))
      .getOrElse(p).stripSuffix("/")
  }

  /** The "cpus" field of a committed BENCH_full.json line (r19: the
    * cross-CPU clobber guard — the r18 driver's 8-core scaling sweep
    * passed the sentinel, because sf0.1 cold medians are JVM-warmth-
    * bound and barely move with core count, and silently overwrote the
    * committed 32-core line). Absent on pre-r19 artifacts → None, which
    * the caller treats as "unknown: compare, don't divert" so one
    * legacy artifact can't wedge the protocol.
    */
  private[graft] def parseCpus(line: String): Option[Int] =
    raw""""cpus":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)

  /** Cross-CPU divert decision (pure; unit-tested): a full sweep whose
    * core count differs from the committed artifact's routes to the
    * partial file — its in-run totals and task-wave shapes are not
    * comparable, even when warmth-bound cold medians fool the sentinel.
    */
  private[graft] def cpusMismatch(committed: Option[Int], now: Int): Boolean =
    committed.exists(_ != now)

  /** queries_cold map of a committed BENCH_full.json line (flat
    * "name":seconds pairs) — tolerant regex extraction, no JSON dep.
    */
  private[graft] def parseColdMap(line: String): Map[String, Double] = {
    val start = line.indexOf("\"queries_cold\":{")
    if (start < 0) return Map.empty
    val body = line.substring(start + "\"queries_cold\":{".length)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    raw""""([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body.substring(0, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** A committed line's [min,max] envelope map under `key` (e.g.
    * `queries_cold_minmax_own`) — same tolerant extraction style as
    * parseColdMap. The full `"key":{` token is matched, so the `_own`
    * variant never aliases the plain one.
    */
  private[graft] def parseMinMaxMap(line: String,
      key: String): Map[String, (Double, Double)] = {
    val tok = "\"" + key + "\":{"
    val start = line.indexOf(tok)
    if (start < 0) return Map.empty
    val body = line.substring(start + tok.length)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    raw""""([a-z0-9_]+)":\[([0-9.]+),([0-9.]+)\]""".r
      .findAllMatchIn(body.substring(0, end))
      .map(m => m.group(1) -> ((m.group(2).toDouble, m.group(3).toDouble)))
      .toMap
  }

  /** Two-sweep envelope union (pure; unit-tested) — VERDICT r17 task 2:
    * a single sweep's [min,max] under-covers cross-sweep machine-state
    * spread (r17: `rfm_segments` and `vocab_growth` moved outside their
    * own envelopes with untouched code), so the PUBLISHED envelope is
    * this sweep's draws unioned with the PREVIOUS committed sweep's own
    * draws. The union reads the previous line's `_own` map — never the
    * published (already-unioned) one — so the window is exactly two
    * sweeps and cannot cascade into an ever-growing band that would
    * stop flagging real moves.
    */
  private[graft] def unionEnvelopes(
      own: Seq[(String, (Double, Double))],
      prevOwn: Map[String, (Double, Double)])
      : Seq[(String, (Double, Double))] =
    own.map { case (n, (lo, hi)) =>
      prevOwn.get(n) match {
        case Some((plo, phi)) => n -> ((math.min(lo, plo), math.max(hi, phi)))
        case None => n -> ((lo, hi))
      }
    }

  /** The registered queries the harness mains never time: both run their
    * own actions inside the query function (one of them a fault-injected
    * retry) and return a few-row report frame — harness shapes, not
    * timeable queries.
    */
  private[graft] val untimed: Set[String] = Set("task_report", "task_report_retry")

  // sweep protocol constants (see the cold pass and the sentinel in main)
  private val maxLoad = 8.0
  private val coldReps = 3
  private val spreadThresh = 3.0
  private val spreadExtra = 2
  private val forkTimeoutS = 600L

  /** One timed execution of a query — the one query timer of Bench,
    * BenchFork and ScaleSmoke. `reset` first drops every cached plan and
    * persisted RDD (the cold protocol); the jobs carry the
    * `bench: <name>` description so event logs map back to the query; a
    * `noop` write forces the full pipeline (a bare `count()` would let
    * Catalyst prune the plan to a metadata scan and time nothing). The
    * harness temp dirs the query queued are purged once the timer stops,
    * whether or not it threw. A query that throws returns None: a crash
    * that ends early must never read as a fast timing.
    */
  private[graft] def timeQuery(spark: SparkSession, name: String,
      dir: String, fn: (SparkSession, String) => DataFrame,
      reset: Boolean): Option[Double] = {
    if (reset) operators.Caching.clearAll(spark)
    spark.sparkContext.setJobDescription(s"bench: $name")
    val t0 = System.nanoTime()
    try {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    } finally {
      spark.sparkContext.setJobDescription(null)
      // the timed DataFrame is dead after the noop write: drop the temp
      // dirs it queued so reps don't stack landing trees (tmpfs RAM) and
      // nothing lingers into a neighbour's timing
      Queries.purgeTempDirs()
    }
  }

  /** A sweep's timings with its failures split out. `failed` lists, in
    * sweep order, every query that failed in ANY pass; such a query is
    * in no pass, so it reaches no map, total, envelope or sentinel ratio.
    */
  private[graft] case class Sweep(inRun: Seq[(String, Double)],
      coldDraws: Seq[(String, Seq[Double])], fork: Seq[(String, Double)],
      failed: Seq[String]) {
    def cold: Seq[(String, Double)] =
      coldDraws.map { case (n, ts) => n -> median(ts) }
  }

  /** [[Sweep]] from the raw passes, None where a draw threw (pure;
    * unit-tested). Every cold or fork name is also an in-run name.
    */
  private[graft] def sweep(inRun: Seq[(String, Option[Double])],
      coldDraws: Seq[(String, Seq[Option[Double]])],
      fork: Seq[(String, Option[Double])]): Sweep = {
    val bad = (inRun.collect { case (n, None) => n } ++
      coldDraws.collect { case (n, ts) if ts.contains(None) => n } ++
      fork.collect { case (n, None) => n }).toSet
    Sweep(inRun.collect { case (n, Some(t)) if !bad(n) => n -> t },
      coldDraws.collect { case (n, ts) if !bad(n) => n -> ts.flatten },
      fork.collect { case (n, Some(t)) if !bad(n) => n -> t },
      inRun.map(_._1).filter(bad))
  }

  /** Runs a sweep's timed passes: `time(name, reset)` times one query in
    * this JVM, `fork` one query in a fresh JVM. Two in-process passes are
    * reported side by side, because in-run numbers are warm-flattered by
    * cache/codegen reuse from earlier queries and swing ~3x with run
    * order:
    *  - in-run: queries back-to-back, session state accumulating — the
    *    historical number, comparable to prior rounds;
    *  - cold: before each timing every cached plan and persisted RDD
    *    (localCheckpoints included) is dropped, so each query pays its
    *    own reads and materializations. JIT/codegen JVM warmth remains —
    *    only a fresh JVM per query would shed it — so "cold" isolates
    *    cache state, which is what moved between rounds. Each cold value
    *    is the MEDIAN of `coldReps` runs (single cold timings
    *    were run-order-sensitive — GC/JIT/page-cache pressure
    *    from the preceding 70 queries inflated outliers up to 3.7×;
    *    the median makes the column diffable across rounds).
    *
    * Multi-draw rule: rows whose first-pass cold
    * median is under the spread threshold draw extra samples, and every
    * sub-threshold row commits a [min,max] envelope (queries_cold_minmax)
    * next to its median — the committed artifact then self-annotates which
    * per-query deltas clear the row's own intrinsic variance. Extra draws
    * cost only where rows are cheap by construction (sum of sub-3s
    * medians, not the heavy tail).
    *
    * A query that fails is not run again: its first failure decides its
    * row (listed under `failed`), so its remaining cold reps, extra draws
    * and fork are skipped.
    */
  private[graft] def passes(names: Seq[String], forkNames: Seq[String],
      time: (String, Boolean) => Option[Double],
      fork: String => Option[Double]): Sweep = {
    def draws(n: String, k: Int): Seq[Option[Double]] = {
      val ts = scala.collection.mutable.ArrayBuffer.empty[Option[Double]]
      while (ts.length < k && !ts.contains(None)) ts += time(n, true)
      ts.toSeq
    }
    val inRun = names.map(n => n -> time(n, false))
    val inRunFailed = inRun.collect { case (n, None) => n }.toSet
    val coldDraws = names.filterNot(inRunFailed).map { n =>
      val first = draws(n, coldReps)
      val extra =
        if (!first.contains(None) && median(first.flatten) < spreadThresh)
          draws(n, spreadExtra)
        else Nil
      n -> (first ++ extra)
    }
    val coldFailed = coldDraws.collect { case (n, ts) if ts.contains(None) => n }
    val forked = forkNames.filterNot(n => inRunFailed(n) || coldFailed.contains(n))
    sweep(inRun, coldDraws, forked.map(n => n -> fork(n)))
  }

  /** A sweep's two JSON lines and where the full one goes. `full`
    * (envelopes, fork column, class subtotals, sentinel) is written only
    * to `target`; `compact` is the one stdout line. `sentinelSuspect` is
    * the sentinel's own verdict; the lines' `regression_suspect` is also
    * forced by any failed query.
    */
  private[graft] case class Report(full: String, compact: String,
      target: String, contended: Boolean, sentinelSuspect: Boolean)

  /** Builds the [[Report]] of a sweep (pure; unit-tested).
    * `committedLine` is the committed artifact's line when this sweep
    * may compare against it (same sf dir and core count), else None.
    */
  private[graft] def report(s: Sweep, qClass: String => String,
      committedLine: Option[String], loadavgPre: Double, cpus: Int,
      sfDir: String, explicitTarget: Option[String],
      isPartial: Boolean): Report = {
    val cold = s.cold
    def json(rs: Seq[(String, Double)], decimals: Int = 3): String =
      rs.map { case (k, v) => "\"" + k + "\":" + jnum(v, decimals) }
        .mkString("{", ",", "}")
    // contention sentinel: this sweep's pure-class cold medians against
    // the COMMITTED artifact's (see sentinelContended for why the
    // 190-query median separates machine artifacts from code changes)
    val committedCold = committedLine.map(parseColdMap).getOrElse(Map.empty)
    val sentinelRatios = cold.collect {
      case (n, now) if qClass(n) == "pure" &&
          committedCold.get(n).exists(_ > 0.0) => now / committedCold(n)
    }
    // The sentinel alone cannot distinguish machine contention from a
    // GENUINE uniform code regression (e.g. a session-wide config change
    // slowing most pure queries >1.2×) — diverting the latter would leave
    // the committed baseline silently stale. So a tripped sentinel only
    // classifies as contended when loadavg corroborates external load
    // (pre-sweep 1-min load above half the egregious threshold — our own
    // process hasn't spun up yet, so loadavgPre is external by
    // construction). A tripped sentinel on a QUIET machine is treated as
    // a real regression: the line overwrites BENCH_full.json with the
    // honest slow numbers and carries "regression_suspect":true so the
    // round diff surfaces it (not just stderr). A failed query forces it
    // too: the sweep did not measure the whole surface.
    val (contended, sentinelSuspect) = classifySweep(
      sentinelContended(sentinelRatios), loadavgPre, maxLoad)
    val suspect = sentinelSuspect || s.failed.nonEmpty
    val total = s.inRun.map(_._2).sum
    val totalCold = cold.map(_._2).sum
    // per-class subtotals: the `pure` number is the engine-regression
    // signal to diff round over round; write_demo / stream_harness pay
    // their own (deliberate) I/O and are reported separately
    def byClass(rs: Seq[(String, Double)]): Seq[(String, Double)] =
      rs.groupBy { case (k, _) => qClass(k) }.toSeq.sortBy(_._1)
        .map { case (c, xs) => c -> xs.map(_._2).sum }
    // the [min,max] envelopes of the sub-threshold multi-draw rows, gated
    // on the first-pass median — the exact extra-draw decision in main —
    // so envelope publication and extra draws share one basis
    val spreadPart = {
      val own = spreadEntries(s.coldDraws, spreadThresh, gateReps = coldReps)
      if (own.isEmpty) ""
      else {
        // published envelope = this sweep's draws ∪ previous committed
        // sweep's OWN draws (two-sweep window; see unionEnvelopes). The
        // previous `_own` map is preferred; a pre-r18 artifact only has
        // the published map, which equals its own draws — same thing.
        val prevOwn = committedLine.map { l =>
          val o = parseMinMaxMap(l, "queries_cold_minmax_own")
          if (o.nonEmpty) o else parseMinMaxMap(l, "queries_cold_minmax")
        }.getOrElse(Map.empty)
        def fmt(key: String, es: Seq[(String, (Double, Double))]) =
          es.map { case (k, (lo, hi)) =>
            "\"" + k + "\":[" + jnum(lo) + "," + jnum(hi) + "]"
          }.mkString(s""","$key":{""", ",", "}")
        fmt("queries_cold_minmax", unionEnvelopes(own, prevOwn)) +
          fmt("queries_cold_minmax_own", own)
      }
    }
    val forkPart =
      if (s.fork.isEmpty) ""
      else s""","total_fork":${s.fork.map(_._2).sum},"queries_fork":${json(s.fork)}"""
    val sentinelPart = {
      val med = if (sentinelRatios.isEmpty) 1.0 else median(sentinelRatios)
      s""","sentinel":{"loadavg_pre":$loadavgPre,"vs_committed_median":${jnum(med)},"compared":${sentinelRatios.length},"contended":$contended,"regression_suspect":$suspect}"""
    }
    val failedPart = s""","failed":${jlist(s.failed)}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(s.inRun)},"total_cold":$totalCold,"queries_cold":${json(cold)}$spreadPart$forkPart,"by_class":${json(byClass(s.inRun))},"by_class_cold":${json(byClass(cold))}$sentinelPart$failedPart,"cpus":$cpus,"sf":"$sfDir"}"""
    // routing decided BEFORE the stdout line so its artifact pointer is
    // the file this sweep actually writes (a contended/partial sweep
    // must not point readers at a stale BENCH_full.json)
    val target = fullOutputTarget(explicitTarget, isPartial, contended)
    // The driver's bench parse wants the LAST stdout line to be ONE JSON
    // object whose "queries" map carries a scalar per EVERY timed query
    // (VERDICT r18 task 1 — neither the r17 fat line, which outgrew the
    // driver's stdout tail, nor the r18 flagship-subset compact line
    // satisfied it; PERF_r18 recorded now_bench_ok:false both rounds).
    // So: the fat line goes ONLY to the artifact file, and stdout gets
    // exactly one JSON line — every timed query's cold median (the
    // diffable column of record) at 2 decimals, totals, the failed list,
    // cpus, the artifact pointer, sf. build.sbt pairs this with
    // outputStrategy := StdoutOutput (no sbt "[info] " prefix corrupting
    // the line) and showSuccess := false (no trailing "[success] Total
    // time" after it).
    val compact = s"""{"metric":"total","value":${jnum(total, 2)},"unit":"sec","queries":${json(cold, 2)},"total_cold":${jnum(totalCold, 2)}$failedPart,"cpus":$cpus,"full_artifact":"$target","sf":"$sfDir"}"""
    Report(full, compact, target, contended, sentinelSuspect)
  }

  /** The session Bench and its fork children time in: warehouse and
    * shuffle-local dirs under `wh`, on the tmpfs base the query harness
    * temp dirs use — join_bucketed's table writes and shuffle spill then
    * never touch the data disk, so a write-demo neighbour can't inflate
    * an unrelated pure query's timing (the r8 regression).
    */
  private[graft] def session(cpus: Int, sfDir: String,
      wh: java.nio.file.Path): SparkSession =
    GraftSession.builderFor(s"local[$cpus]", cpus, sfDir)
      .config("spark.sql.warehouse.dir", wh.toUri.toString)
      .config("spark.local.dir", wh.resolve("local").toString)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.intKnob("SPARK_GRAFT_CPUS", sys.env.get, 1)
      .getOrElse(4)
    // 1-min load BEFORE the session spins up: recorded in the JSON line as
    // contention telemetry, and egregious pre-existing load (another
    // process actively churning half the machine) trips the guard even if
    // it stays uniform enough to fool the sentinel
    val loadavgPre = scala.util.Try(java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble).getOrElse(0.0)
    val wh = java.nio.file.Files
      .createTempDirectory(Queries.tempBase, "graft_wh_")
    val spark = session(cpus, sfDir, wh)
    spark.sparkContext.setLogLevel("WARN")

    // warm the session (executor threads, codegen compiler, parquet
    // footers) so the first timed query doesn't absorb startup cost
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // class-sequenced: every pure query is measured before any write-demo
    // or streaming-harness query runs, within class alphabetical — so the
    // pure-class column is mechanically diffable round over round and
    // harness I/O can only trail it, never precede it
    val qClass = SparkEntry.queryClass
    val classOrder = Map("pure" -> 0, "write_demo" -> 1, "stream_harness" -> 2)
    val names = SparkEntry.queries.keys.toSeq.filterNot(untimed)
      .filter(n => only.forall(_.contains(n)))
      .sortBy(n => (classOrder(qClass(n)), n))

    def timeOne(n: String, reset: Boolean): Option[Double] =
      timeQuery(spark, n, sfDir, SparkEntry.queries(n), reset)
    // fresh-JVM true-cold mode: each selected query runs in a forked JVM
    // via BenchFork, shedding the JIT/codegen warmth that the in-process
    // "cold" column necessarily keeps (the r17 instrumented rep read 278 s
    // against a 130–196 s wall series — JIT state is part of the ±2×
    // class, and only a fresh JVM anchors it). The forked time excludes
    // session bootstrap (BenchFork starts its timer after the
    // SparkSession is up). ~10 s JVM+session spin-up per query, so:
    //   SPARK_GRAFT_BENCH_FORK=flagship — fork only the flagship set
    //     (~17 rows, ~5 min) inside the full sweep; the DEFAULT, so the
    //     committed artifact always carries a true-cold column no matter
    //     who runs the sweep (r17 verdict task 3 — an opt-in env var
    //     would silently drop the column from any harness-driven run);
    //   SPARK_GRAFT_BENCH_FORK=1 — fork every query (study mode);
    //   SPARK_GRAFT_BENCH_FORK=0 — no forks (fast dev loops).
    // the DEFAULT only applies to full sweeps: a BENCH_ONLY subset probe
    // routes to the partial artifact, where the true-cold column buys
    // nothing — forking its flagship rows would just tax every dev loop
    // ~10 s+query per row. An EXPLICIT fork env is still honored on
    // subsets (fork studies of single queries are a real workflow).
    val forkMode = sys.env.get("SPARK_GRAFT_BENCH_FORK")
      .getOrElse(if (only.isDefined) "0" else "flagship")
    val forkNames = forkMode match {
      case "0" | "" => Seq.empty[String]
      case "flagship" => names.filter(ScaleSmoke.flagshipSet.contains)
      case _ => names
    }
    def forkOne(n: String): Option[Double] = {
      val java = s"${sys.props("java.home")}/bin/java"
      // ChildJvm carries the add-opens list (mirrors build.sbt /
      // JavaModuleOptions.defaultModuleOptions(): the child is a bare
      // `java`, so nothing injects these for us) and the watchdog — a
      // hung child would otherwise keep stdout open and block the line
      // read forever, wedging the whole bench run; on kill the read
      // unblocks and the query is recorded as failed
      val cmd = Seq(java) ++ ChildJvm.jdk17AddOpens ++ Seq(
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
        "-cp", sys.props("java.class.path"),
        // the child gets the same tmpfs warehouse/local-dir treatment as
        // the parent (fourth arg) — without it fork-mode write_demo
        // queries write spark-warehouse under the repo CWD and spill
        // shuffle to disk, making queries_fork incomparable to the
        // in-run/cold columns
        "graft.BenchFork", n, sfDir, cpus.toString,
        wh.resolve(s"fork_$n").toString)
      val (lines, _) = ChildJvm.run(cmd, Map.empty, forkTimeoutS, s"fork of $n")
      // nanos as a long: locale-proof across the process boundary
      val t = lines.collectFirst {
        case l if l.startsWith("FORK_NANOS ") =>
          l.stripPrefix("FORK_NANOS ").trim.toLong / 1e9
      }
      if (t.isEmpty)
        System.err.println(s"[bench] fork of $n failed (no FORK_NANOS line)")
      t
    }
    val sw = passes(names, forkNames, timeOne, forkOne)
    val committedRaw =
      if (only.isDefined) None
      else scala.util.Try(java.nio.file.Files.readString(
        java.nio.file.Paths.get("BENCH_full.json"))).toOption
    // a full sweep against a DIFFERENT sf dir than the committed
    // artifact's is a dev-loop probe, not the round's sweep: its numbers
    // are incomparable to the committed line (at sf0.01 the sentinel
    // ratio reads ~0.1× and never trips), its envelopes must not union
    // across scales, and it must NOT overwrite the committed artifact —
    // the pre-guard footgun was the verify recipe's own sf0.01 bench
    // step silently clobbering the round's sf0.1 line
    val committedSf = committedRaw.flatMap(parseSf)
    val dirMismatch = committedSf.exists(normPath(_) != normPath(sfDir))
    // cross-CPU guard (r19): a sweep at a different core count than the
    // committed artifact's never compares against it (sentinel +
    // envelope union skipped) and never overwrites it (routing)
    val cpuMismatch = cpusMismatch(committedRaw.flatMap(parseCpus), cpus)
    val r = report(sw, qClass,
      if (dirMismatch || cpuMismatch) None else committedRaw,
      loadavgPre, cpus, sfDir, sys.env.get("SPARK_GRAFT_BENCH_FULL"),
      isPartial = only.isDefined || dirMismatch || cpuMismatch)
    println(r.compact)
    // the driver's BENCH_rN.json keeps only the tail of stdout, which
    // truncates the per-query map past ~70 queries — persist the FULL
    // line to a repo file so every round-over-round diff covers every
    // query (the file rides the driver's end-of-round commit). The
    // target is routed through fullOutputTarget: partial or contended
    // sweeps can never overwrite the committed BENCH_full.json.
    val target = r.target
    if (dirMismatch) System.err.println(
      s"[bench] sf-dir mismatch: committed artifact ran " +
        s"${committedSf.getOrElse("?")}, this sweep ran $sfDir - " +
        (if (sys.env.contains("SPARK_GRAFT_BENCH_FULL"))
          s"explicit SPARK_GRAFT_BENCH_FULL override in effect, writing " +
            s"$target (cross-scale compares still skipped)"
        else s"writing $target, NOT BENCH_full.json"))
    if (cpuMismatch) System.err.println(
      s"[bench] cpus mismatch: committed artifact ran " +
        s"${committedRaw.flatMap(parseCpus).getOrElse(-1)} cores, this " +
        s"sweep ran $cpus - writing $target, NOT BENCH_full.json " +
        s"(cross-CPU compares skipped)")
    if (r.contended) System.err.println(
      s"[bench] contention guard tripped (loadavg_pre=$loadavgPre, " +
        s"pure-class cold medians vs committed artifact inflated) - " +
        s"writing $target, NOT BENCH_full.json")
    if (r.sentinelSuspect) System.err.println(
      s"[bench] REGRESSION SUSPECT: pure-class cold medians >1.2x the " +
        s"committed artifact on a quiet machine (loadavg_pre=$loadavgPre)" +
        s" - committing the slow numbers; see sentinel.regression_suspect" +
        s" in $target")
    if (sw.failed.nonEmpty) System.err.println(
      s"[bench] ${sw.failed.size} queries FAILED, untimed: " +
        s"${sw.failed.mkString(", ")}; see failed in $target")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target), r.full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $target write failed: ${e.getMessage}")
    }
    spark.stop()
    // the wh tree (warehouse + spark.local.dir + fork subtrees) lives on
    // RAM-backed tmpfs: reclaim it now — it can't go through tempDirs,
    // whose purge runs between timings while the session still needs it
    Queries.rmTree(wh.toFile)
  }
}

/** One query in a bare JVM — the child process of Bench's fork mode.
  * Creates the same session Bench uses, times ONE noop-forced execution
  * through [[Bench.timeQuery]] (timer starts after the session is up, so
  * the number is the query, not the bootstrap), prints one
  * `FORK_NANOS <long>` line (locale-proof), exits. A failed query prints
  * nothing — the parent lists it under `failed`.
  */
object BenchFork {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, cpus, whBase) = args
    // own tmpfs subtree (under the parent's wh dir, so the parent's
    // end-of-run cleanup reclaims it even if this JVM dies): warehouse
    // for write_demo managed tables, local for shuffle spill — same
    // I/O isolation as the parent's in-run/cold columns
    val wh = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(whBase))
    val spark = Bench.session(cpus.toInt, sfDir, wh)
    spark.sparkContext.setLogLevel("ERROR")
    Bench.timeQuery(spark, name, sfDir, SparkEntry.queries(name),
      reset = false).foreach(t => println(s"FORK_NANOS ${(t * 1e9).toLong}"))
    spark.stop()
  }
}
