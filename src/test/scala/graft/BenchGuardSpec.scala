package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** The bench contention guard (VERDICT r14 task 1): a partial or
  * contended sweep must never overwrite the committed BENCH_full.json —
  * the r14 round committed a hot-machine sweep whose cold total read
  * 205.5 s against 154.9 s for the same tree measured quiet, polluting
  * the round-over-round signal.
  */
class BenchGuardSpec extends AnyFunSuite with SparkFixture {

  test("full quiet sweep writes the committed artifact") {
    assert(Bench.fullOutputTarget(None, isPartial = false,
      contended = false) == "BENCH_full.json")
  }

  test("partial sweep without explicit path is diverted") {
    assert(Bench.fullOutputTarget(None, isPartial = true,
      contended = false) == "BENCH_full.partial.json")
    // partial AND contended still diverts (partial wins: the line isn't
    // a full-surface measurement either way)
    assert(Bench.fullOutputTarget(None, isPartial = true,
      contended = true) == "BENCH_full.partial.json")
  }

  test("contended full sweep is diverted") {
    assert(Bench.fullOutputTarget(None, isPartial = false,
      contended = true) == "BENCH_full.contended.json")
  }

  test("cross-CPU sweep is diverted off the committed artifact (r19)") {
    val line = """{"metric":"total","value":1.5,"queries":{"a":1.0},""" +
      """"cpus":32,"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseCpus(line).contains(32))
    // a pre-r19 artifact has no cpus field: unknown → never diverts
    assert(Bench.parseCpus("""{"metric":"total","value":1.5}""").isEmpty)
    assert(!Bench.cpusMismatch(None, 8))
    // the r18 failure mode: driver's 8-core scaling sweep vs the
    // committed 32-core line → divert (and routing lands it in the
    // partial file via isPartial)
    assert(Bench.cpusMismatch(Some(32), 8))
    assert(Bench.fullOutputTarget(None,
      isPartial = Bench.cpusMismatch(Some(32), 8),
      contended = false) == "BENCH_full.partial.json")
    // same core count → the round's real sweep still commits
    assert(!Bench.cpusMismatch(Some(32), 32))
  }

  test("parseSf extracts the committed sweep's sf dir") {
    val line = """{"metric":"total","value":1.5,"queries":{"a":1.0},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseSf(line).contains("/root/testdata/sf0.1"))
    // the actual guard composition (the sf0.01 clobber case): the parsed
    // committed sf, normalized, must differ from the dev-loop dir —
    // driving isPartial and the BENCH_full.partial.json route
    assert(Bench.parseSf(line).exists(sf =>
      Bench.normPath(sf) != Bench.normPath("/root/testdata/sf0.01")))
    // and MATCH the committed dir itself, so the round's real sweep at
    // the same dir never diverts
    assert(Bench.parseSf(line).exists(sf =>
      Bench.normPath(sf) == Bench.normPath("/root/testdata/sf0.1")))
    assert(Bench.parseSf("""{"metric":"total","value":1.5}""").isEmpty)
    // the mismatch compare normalizes: spelling variants of the SAME dir
    // must not divert the round's real sweep off the committed artifact
    assert(Bench.normPath("/root/testdata/sf0.1/")
      == Bench.normPath("/root/testdata/sf0.1"))
    assert(Bench.normPath("/root/testdata/./sf0.1")
      == Bench.normPath("/root/testdata/sf0.1"))
    assert(Bench.normPath("/root/testdata/sf0.01")
      != Bench.normPath("/root/testdata/sf0.1"))
    // symlinked aliases of the same existing dir canonicalize together
    val link = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_normpath_link_${ProcessHandle.current().pid()}")
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get("/root/testdata/sf0.1"))
    try assert(Bench.normPath(link.toString)
      == Bench.normPath("/root/testdata/sf0.1"))
    finally java.nio.file.Files.deleteIfExists(link)
  }

  test("explicit path is always honored") {
    for (p <- Seq(true, false); c <- Seq(true, false))
      assert(Bench.fullOutputTarget(Some("/tmp/x.json"), p, c)
        == "/tmp/x.json")
  }

  test("sentinel: uniform inflation vs the committed artifact trips, " +
      "targeted regressions and first runs don't") {
    assert(!Bench.sentinelContended(Nil)) // first run / cold disabled
    assert(!Bench.sentinelContended(Seq(1.0, 1.05, 0.95)))
    // a code regression moves SPECIFIC queries: the wide median holds
    assert(!Bench.sentinelContended(Seq.fill(50)(1.0) ++ Seq(3.0, 4.0)))
    // the r14 failure shape: ~uniform 1.22x median inflation across the
    // surface — a machine artifact, must trip
    assert(Bench.sentinelContended(Seq.fill(50)(1.22) ++ Seq(0.9, 1.0)))
    // a faster round never trips
    assert(!Bench.sentinelContended(Seq.fill(50)(0.7)))
  }

  test("classifySweep: sentinel needs loadavg corroboration to divert; " +
      "quiet-machine uniform slowdowns commit as regression suspects") {
    // quiet machine, sentinel clean: plain commit
    assert(Bench.classifySweep(sentinelTripped = false, 1.0, 8.0)
      == ((false, false)))
    // the r14 failure: sentinel trips WITH elevated external load
    assert(Bench.classifySweep(sentinelTripped = true, 6.5, 8.0)
      == ((true, false)))
    // ADVICE r15: a genuine uniform code regression on a QUIET machine
    // must NOT divert (else the committed baseline goes silently stale) —
    // it commits, flagged regression_suspect
    assert(Bench.classifySweep(sentinelTripped = true, 1.2, 8.0)
      == ((false, true)))
    // egregious pre-existing load alone is contended regardless
    assert(Bench.classifySweep(sentinelTripped = false, 9.0, 8.0)
      == ((true, false)))
  }

  test("initPartitionsFor: small inputs keep the plain-cores layout, " +
      "large inputs get the measured 2x ceiling") {
    val mib = 1L << 20
    // sf0.1 (~17 MB) stays at cores — the r15 floor regression's fix
    assert(GraftSession.initPartitionsFor(32, 18 * mib) == 32)
    assert(GraftSession.initPartitionsFor(32, 0L) == 32)
    // decade dirs (477 MB+) clear the threshold: ceiling engages
    assert(GraftSession.initPartitionsFor(32, 477 * mib) == 64)
    assert(GraftSession.initPartitionsFor(8, 5L << 30) == 16)
    // threshold boundary is inclusive
    assert(GraftSession.initPartitionsFor(4, 256 * mib) == 8)
    assert(GraftSession.initPartitionsFor(4, 256 * mib - 1) == 4)
  }

  test("statePartitionsFor: small inputs cap stateful stores at 8, " +
      "large inputs keep the cores default") {
    val mib = 1L << 20
    val f = graft.streaming.StreamingIngest.statePartitionsFor _
    // sf0.1-sized fixtures: store-commit overhead dominates — cap at 8
    assert(f(32, 18 * mib, 256L << 20) == 8)
    // fewer cores than the cap: never exceed cores
    assert(f(4, 18 * mib, 256L << 20) == 4)
    // at-scale inputs keep the session parallelism (stores are the
    // recovery/parallelism unit — a big stream wants more, not fewer)
    assert(f(32, 1L << 30, 256L << 20) == 32)
    assert(f(32, 256L << 20, 256L << 20) == 32) // boundary inclusive-large
  }

  test("integer knobs: unset keeps the default, malformed values throw " +
      "naming the knob") {
    // the harness integer settings, each with its default; every harness
    // main reads them through GraftSession.intKnob
    val knobs = Seq("SPARK_GRAFT_CPUS" -> 4, "SPARK_GRAFT_SCALE_FACTOR" -> 10,
      "SPARK_GRAFT_SCALE_REPS" -> 1, "SPARK_GRAFT_ST_TIMEOUT_S" -> 900,
      "SPARK_GRAFT_ST_BUILD_TIMEOUT_S" -> 3600)
    val harness = Seq("Bench", "ScaleSmoke", "StandingTables", "Verify")
      .map(f => java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"src/main/scala/graft/$f.scala")))
      .mkString("\n")
    knobs.foreach { case (name, default) =>
      def knob(raw: Option[String]) =
        GraftSession.intKnob(name, Map(name -> raw).apply, 1).getOrElse(default)
      assert(harness.contains(s"""intKnob("$name", sys.env.get"""), name)
      assert(knob(None) === default)
      assert(knob(Some(" 12 ")) === 12)
      Seq("0", "-1", "8x", "").foreach { bad =>
        val e = intercept[IllegalArgumentException](knob(Some(bad)))
        assert(e.getMessage.contains(name), e.getMessage)
      }
    }
  }

  test("engine code reads no environment variable but SPARK_GRAFT_TMPDIR") {
    // an algorithm or sizing choice is a function of the inputs and the
    // session conf, never of a private env override
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val engine = Seq("operators", "functions", "pipeline", "streaming",
      "plans", "sources", "multimodal").flatMap { d =>
      root.resolve(d).toFile.listFiles().filter(_.getName.endsWith(".scala"))
    } ++ Seq("GraftSession", "Queries", "Tables", "SparkEntry")
      .map(f => root.resolve(s"$f.scala").toFile)
    assert(engine.forall(_.isFile))
    val read = """(?:sys\.env|System\.getenv)\b[^\n]*""".r
    val found = engine.flatMap { f =>
      read.findAllIn(java.nio.file.Files.readString(f.toPath))
        .map(m => s"${f.getName}: $m").toSeq
    }
    val (allowed, rest) = found.partition(_.contains("\"SPARK_GRAFT_TMPDIR\""))
    assert(rest.isEmpty, rest.mkString("\n"))
    assert(allowed.size === 1, allowed.mkString("\n"))
  }

  test("bucketsFor: small inputs keep 8 fuller buckets, large inputs " +
      "track cores (the probe's parallelism ceiling)") {
    val mib = 1L << 20
    // sf0.1-sized fixtures: 8 buckets, fewer fuller files
    assert(GraftSession.bucketsFor(32, 18 * mib) == 8)
    // fewer cores than the small cap: never exceed cores
    assert(GraftSession.bucketsFor(4, 18 * mib) == 4)
    // decade dirs: bucket count = probe parallelism = cores (the fixed
    // 8 read 5.3x per 3.33x data at 1000x — BASELINE r16)
    assert(GraftSession.bucketsFor(32, 15L << 30) == 32)
    assert(GraftSession.bucketsFor(32, 256 * mib) == 32) // boundary
  }

  test("inputBytes sums regular files recursively, 0 for missing dirs") {
    val d = java.nio.file.Files.createTempDirectory("graft_ib_")
    try {
      java.nio.file.Files.writeString(d.resolve("a"), "12345")
      val sub = java.nio.file.Files.createDirectories(d.resolve("s"))
      java.nio.file.Files.writeString(sub.resolve("b"), "123")
      assert(GraftSession.inputBytes(d.toString) == 8L)
      assert(GraftSession.inputBytes(d.resolve("nope").toString) == 0L)
    } finally graft.sources.Sinks.rmTree(d.toFile)
  }

  test("median: true median on odd and even counts") {
    assert(Bench.median(Seq(3.0)) == 3.0)
    assert(Bench.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    // even count averages the two middle elements (upper-middle alone
    // biases high)
    assert(Bench.median(Seq(1.0, 2.0, 10.0, 4.0)) == 3.0)
  }

  test("spreadEntries: sub-threshold rows carry [min,max], heavy rows " +
      "and empty draws don't (r16 verdict task 3)") {
    val draws = Seq(
      "tiny" -> Seq(0.3, 2.7, 0.4, 0.5, 0.6),   // the archaeology class
      "heavy" -> Seq(20.0, 21.0, 19.0),          // above threshold: single-valued
      "edge" -> Seq(3.0, 3.0, 3.0),              // median == thresh: excluded
      "empty" -> Seq.empty[Double])
    val es = Bench.spreadEntries(draws, thresh = 3.0)
    assert(es == Seq("tiny" -> ((0.3, 2.7))))
    // input order is preserved across multiple qualifying rows
    val multi = Bench.spreadEntries(Seq(
      "b" -> Seq(1.0, 2.0), "a" -> Seq(0.1, 0.2)), thresh = 3.0)
    assert(multi.map(_._1) == Seq("b", "a"))
  }

  test("spreadEntries gates on the first-pass draws — the extra-draw " +
      "basis — not the combined median (ADVICE r17)") {
    // first 3 draws median 2.9 < 3.0 → took extra draws; the extra draws
    // drag the combined 5-draw median to 3.1 ≥ thresh. One basis means
    // the envelope still publishes (and covers all 5 draws).
    val borderline = Seq("edge" -> Seq(2.9, 2.8, 3.2, 4.0, 3.1))
    assert(Bench.spreadEntries(borderline, thresh = 3.0).isEmpty)
    assert(Bench.spreadEntries(borderline, thresh = 3.0, gateReps = 3) ==
      Seq("edge" -> ((2.8, 4.0))))
    // and a row whose first pass is ABOVE threshold never publishes,
    // regardless of later draws
    val heavy = Seq("heavy" -> Seq(3.5, 3.6, 3.4, 0.1))
    assert(Bench.spreadEntries(heavy, thresh = 3.0, gateReps = 3).isEmpty)
  }

  test("parseMinMaxMap reads the keyed envelope map and never aliases " +
      "the _own variant with the plain one") {
    val line = """{"queries_cold_minmax":{"a_b":[0.1,0.9],"c":[1.0,2.0]}""" +
      ""","queries_cold_minmax_own":{"a_b":[0.2,0.8]},"sf":"x"}"""
    assert(Bench.parseMinMaxMap(line, "queries_cold_minmax") ==
      Map("a_b" -> ((0.1, 0.9)), "c" -> ((1.0, 2.0))))
    assert(Bench.parseMinMaxMap(line, "queries_cold_minmax_own") ==
      Map("a_b" -> ((0.2, 0.8))))
    assert(Bench.parseMinMaxMap("{}", "queries_cold_minmax").isEmpty)
  }

  test("unionEnvelopes widens to cover the previous sweep's own draws " +
      "(two-sweep window, r17 verdict task 2)") {
    val own = Seq("a" -> ((1.0, 2.0)), "b" -> ((0.5, 0.7)))
    val prev = Map("a" -> ((1.5, 3.0)), "zz" -> ((9.0, 9.9)))
    // a: widened up to prev max; b: no prior row, stays own; prev-only
    // rows are NOT resurrected (a row must qualify in THIS sweep)
    assert(Bench.unionEnvelopes(own, prev) ==
      Seq("a" -> ((1.0, 3.0)), "b" -> ((0.5, 0.7))))
  }

  test("StandingTables.parseReps reads a child's scale line: rep order, " +
      "bare single-rep names, prefix-safe query matching") {
    val line = """{"metric":"scale300x","queries":{"span_dedup#2":28.810,""" +
      """"span_dedup#1":28.453,"span_dedup_x#1":9.9},"base":"b"}"""
    assert(StandingTables.parseReps(Seq("noise", line), "span_dedup") ==
      Seq(28.453, 28.810))
    val single = """{"metric":"scale1000x","queries":{"q1_pricing":61.2}}"""
    assert(StandingTables.parseReps(Seq(single), "q1_pricing") == Seq(61.2))
    assert(StandingTables.parseReps(Seq("no json here"), "q").isEmpty)
    // a query that threw is listed under "failed" with no reps; its
    // neighbours still parse
    val failed = """{"metric":"scale30x","queries":{"p#1":1.5,"p#2":1.7},""" +
      """"failed":["q"],"base":"b"}"""
    assert(StandingTables.parseReps(Seq(failed), "q").isEmpty)
    assert(StandingTables.parseReps(Seq(failed), "p") == Seq(1.5, 1.7))
  }

  test("timeQuery: a query that throws gives no timing and leaves no " +
      "temp dir queued") {
    var made: String = null
    val atPlan: (SparkSession, String) => DataFrame = (_, _) => {
      made = Queries.tempDir("graft_boom_")
      throw new IllegalStateException("boom")
    }
    assert(Bench.timeQuery(spark, "boom", sf, atPlan, reset = true).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(made)))
    // a failure inside the forced execution is caught the same way
    val atRun: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).select(raise_error(lit("boom")))
    assert(Bench.timeQuery(spark, "boom", sf, atRun, reset = false).isEmpty)
    assert(Bench.timeQuery(spark, "ok", sf, (s, _) => s.range(3).toDF(),
      reset = false).exists(_ >= 0.0))
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      == null)
  }

  test("a query that fails in any pass is listed under failed, timed " +
      "nowhere, and forces regression_suspect") {
    val s = Bench.sweep(
      inRun = Seq("a" -> Some(1.0), "b" -> Some(2.0), "c" -> Some(4.0)),
      coldDraws = Seq(
        "a" -> Seq(Some(0.5), Some(0.7), Some(0.6)),
        "b" -> Seq(Some(1.0), None, Some(1.0)),
        "c" -> Seq(Some(5.0), Some(5.0), Some(5.0))),
      fork = Seq("a" -> Some(0.9), "b" -> Some(0.1)))
    assert(s.failed == Seq("b"))
    // the committed line knows b: neither its cold median nor its
    // envelope may be compared or carried forward
    val committed = """{"queries_cold":{"a":0.6,"b":9.0,"c":5.0},""" +
      """"queries_cold_minmax_own":{"b":[0.1,9.0]},"cpus":4,"sf":"sf"}"""
    val r = Bench.report(s, _ => "pure", Some(committed), loadavgPre = 0.0,
      cpus = 4, sfDir = "sf", explicitTarget = None, isPartial = false)
    for (line <- Seq(r.full, r.compact)) {
      assert(line.contains(""""failed":["b"]"""), line)
      assert(!line.contains(""""b":"""), line)
    }
    assert(r.full.contains(""""value":5.0,"""))
    assert(Bench.parseColdMap(r.full) == Map("a" -> 0.6, "c" -> 5.0))
    assert(r.full.contains(""""total_fork":0.9,"queries_fork":{"a":0.900}"""))
    assert(r.full.contains(""""by_class":{"pure":5.000}"""))
    assert(r.full.contains(""""compared":2,"""))
    assert(r.full.contains(""""regression_suspect":true"""))
    assert(r.compact.contains(""""queries":{"a":0.60,"c":5.00}"""))
    // the sentinel itself is clean: only the failure forced the flag
    assert(!r.sentinelSuspect && !r.contended)
    assert(r.target == "BENCH_full.json")
    // nothing failed: the key is present and empty, nothing is forced
    val clean = Bench.report(
      Bench.sweep(Seq("a" -> Some(1.0)), Seq("a" -> Seq(Some(1.0))), Nil),
      _ => "pure", None, 0.0, 4, "sf", None, isPartial = true)
    for (line <- Seq(clean.full, clean.compact))
      assert(line.contains(""""failed":[]"""), line)
    assert(clean.full.contains(""""regression_suspect":false"""))
  }

  test("passes: a query that failed is not run again") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    // a fails in-run; b fails on its second cold draw; c is healthy
    val coldSeen = scala.collection.mutable.Map.empty[String, Int]
    def time(n: String, reset: Boolean): Option[Double] = {
      calls += s"$n:${if (reset) "cold" else "inrun"}"
      if (!reset) Option.when(n != "a")(1.0)
      else {
        coldSeen(n) = coldSeen.getOrElse(n, 0) + 1
        Option.when(!(n == "b" && coldSeen(n) == 2))(1.0)
      }
    }
    def fork(n: String): Option[Double] = { calls += s"$n:fork"; Some(1.0) }
    val s = Bench.passes(Seq("a", "b", "c"), Seq("a", "b", "c"), time, fork)
    assert(s.failed == Seq("a", "b"))
    assert(calls.count(_.startsWith("a:")) == 1)
    assert(calls.filter(_.startsWith("b:")) == Seq("b:inrun", "b:cold", "b:cold"))
    // c: one in-run, three cold reps, two extra draws (sub-threshold), fork
    assert(calls.count(_ == "c:cold") == 5 && calls.contains("c:fork"))
    assert(s.coldDraws == Seq("c" -> Seq.fill(5)(1.0)))
  }

  test("jnum formats with '.' decimals independent of default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.jnum(0.544) == "0.544")
      assert(Bench.jnum(1234.5) == "1234.500")
      assert(Bench.jnum(0.5444, 2) == "0.54")
      assert(Bench.jnum(0.98765, 4) == "0.9877")
    } finally java.util.Locale.setDefault(prev)
  }

  test("parseColdMap extracts the committed cold medians") {
    val line = """{"metric":"total","value":1.5,"queries":{"a_b":1.0},""" +
      ""","total_cold":2.0,"queries_cold":{"a_b":0.544,"c_d9":4.158},""" +
      """"by_class":{"pure":1.0}}"""
    val m = Bench.parseColdMap(line)
    assert(m == Map("a_b" -> 0.544, "c_d9" -> 4.158))
    assert(Bench.parseColdMap("{}").isEmpty)
    assert(Bench.parseColdMap("""{"queries_cold":{}}""").isEmpty)
  }

  test("every registered query has oracle SQL, and every bench class " +
      "name is a registered query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    // a misspelt name would silently bench its harness as `pure`
    assert((SparkEntry.writeDemo ++ SparkEntry.streamHarness) --
      SparkEntry.queries.keySet === Set.empty[String])
    assert((SparkEntry.writeDemo & SparkEntry.streamHarness) === Set.empty[String])
  }
}
