package graft

/** One-command regeneration of BASELINE.md's standing decade tables
  * (VERDICT r17 tasks 4+5): the per-round ritual — flagship set × two
  * decades (300×, 1000×) × two execution bases (single 48 GB JVM;
  * `local-cluster[4,8,12288]` multi-process) × REPS, chunked into
  * short-lived JVMs — was a hand-driven sequence of env-var incantations
  * with transcription risk. This main orchestrates it: ONE child JVM per
  * (decade, basis, query) runs ScaleSmoke under the protocol env, the
  * parent parses each child's scale JSON line, and the output is the
  * markdown rows ready to paste into BASELINE.md plus one JSON line per
  * decade carrying per-row [min,max] envelopes (task 4: decade drift
  * judgments become machine-checkable, like the sf0.1 bench envelopes).
  *
  * One-query-per-child is not just chunking for the harness timeout: the
  * protocol's comparability rests on it (BASELINE r17 standing-1000×
  * reading 2 — a long-lived JVM's aged heap inflates later rows, so
  * chunked fresh-JVM runs are the basis of record for the sj column).
  *
  * Knobs (all optional): SPARK_GRAFT_ST_DECADES="300,1000",
  * SPARK_GRAFT_ST_BASES="sj,mp", SPARK_GRAFT_ST_ONLY=comma-list
  * (default: ScaleSmoke.flagshipSet), SPARK_GRAFT_ST_TIMEOUT_S per-child
  * watchdog (default 900). Decade dirs default to the pinned
  * /dev/shm/graft_scale{N} locations; a missing/mismatched dir is built
  * by the first child that touches it (ScaleSmoke's marker logic).
  *
  * Run under tmux, not a time-capped shell: the full sweep is hours of
  * measurement by construction.
  */
object StandingTables {

  private case class Basis(key: String, master: Option[String],
      driverMem: String, reps: Int => Int)

  /** sj: fresh 48 GB JVMs, REPS=2 — the chunked single-JVM protocol.
    * mp: 4×8-core 12 GiB executors, REPS=3 at 300× / 2 at 1000× (the
    * 1000× reps cost minutes each; r16/r17 quoted r1/r2 there).
    */
  private val bases = Seq(
    Basis("sj", None, "48g", _ => 2),
    Basis("mp", Some("local-cluster[4,8,12288]"), "8g",
      f => if (f >= 1000) 2 else 3))

  /** Child stdout → the rep timings of `query` (parsed from ScaleSmoke's
    * scale{N}x JSON line; reps print as name#1..name#N, a single rep as
    * the bare name). A query that threw is listed under the line's
    * "failed" key with no reps, so it parses to none. Pure; unit-tested.
    */
  private[graft] def parseReps(lines: Seq[String], query: String)
      : Seq[Double] = {
    val line = lines.reverse.find(_.contains("\"metric\":\"scale"))
      .getOrElse(return Seq.empty)
    val re = ("\"" + java.util.regex.Pattern.quote(query) +
      "(?:#([0-9]+))?\":([0-9.]+)").r
    re.findAllMatchIn(line)
      .map(m => (Option(m.group(1)).map(_.toInt).getOrElse(1), m.group(2).toDouble))
      .toSeq.sortBy(_._1).map(_._2)
  }

  private def runChild(query: String, factor: Int, basis: Basis,
      reps: Int, scaleDir: String, base: String, timeoutS: Long)
      : Seq[Double] = {
    val java = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(java) ++ ChildJvm.jdk17AddOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Xmx${basis.driverMem}",
      "-cp", sys.props("java.class.path"),
      "graft.ScaleSmoke", base)
    // basis-defining vars are SET OR REMOVED explicitly — the parent may
    // be running from the exact shell whose hand-driven incantations this
    // main replaces, and an inherited SPARK_GRAFT_MASTER would silently
    // turn every "sj" row into an mp measurement. SPARK_GRAFT_EXTRA_CONF
    // stays inherited on purpose: it is the documented instrumentation
    // passthrough.
    val env = Map[String, Option[String]](
      "SPARK_GRAFT_SCALE_DIR" -> Some(scaleDir),
      "SPARK_GRAFT_SCALE_FACTOR" -> Some(factor.toString),
      "SPARK_GRAFT_SCALE_ONLY" -> Some(query),
      "SPARK_GRAFT_SCALE_REPS" -> Some(reps.toString),
      // local-cluster's executor launcher resolves its classpath through
      // the scala-version-suffixed dir name
      "SPARK_SCALA_VERSION" -> basis.master.map(_ => "2.13"),
      "SPARK_GRAFT_MASTER" -> basis.master)
    val (lines, exit) = ChildJvm.run(cmd, env, timeoutS,
      s"$query@${factor}x/${basis.key}")
    val ts = parseReps(lines, query)
    if (ts.isEmpty) {
      System.err.println(
        s"[standing] $query@${factor}x/${basis.key} produced no timings " +
          s"(exit=$exit); last output: " +
          lines.takeRight(3).mkString(" | "))
    }
    ts
  }

  /** Ensure the pinned decade dir is built BEFORE the timed children
    * run: a cold or stamp-mismatched dir would otherwise be amplified
    * inside the first timed child, blowing its watchdog mid-build with
    * no marker written — and every subsequent child would re-pay the
    * multi-GB rebuild and die the same way. The build child gets its
    * own generous timeout and its timings are discarded.
    */
  private def ensureDir(factor: Int, scaleDir: String, base: String,
      buildTimeoutS: Long): Unit = {
    val marker = new java.io.File(scaleDir, "_graft_scale_build")
    val stamp = s"base=$base factor=$factor"
    val built = marker.exists() &&
      scala.util.Try(java.nio.file.Files.readString(marker.toPath).trim)
        .getOrElse("") == stamp
    if (built) return
    System.err.println(s"[standing] $scaleDir not built for '$stamp' — " +
      s"building it first (timeout $buildTimeoutS s)")
    val ts = runChild("q1_pricing", factor, bases.head, 1, scaleDir, base,
      buildTimeoutS)
    // check the marker CONTENT, not mere existence: a stale marker from a
    // previous build shape survives a killed rebuild (ScaleSmoke only
    // writes the marker after a COMPLETE build, and never deletes a stale
    // one first), and existence alone would report that failure as success
    val rebuilt =
      scala.util.Try(java.nio.file.Files.readString(marker.toPath).trim)
        .getOrElse("") == stamp
    require(rebuilt,
      s"decade-dir build failed for $scaleDir (marker missing or stale " +
        s"after build child; wanted '$stamp'; timings=$ts)")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val decades = sys.env.getOrElse("SPARK_GRAFT_ST_DECADES", "300,1000")
      .split(",").map(_.trim.toInt).toSeq
    val basisKeys = sys.env.getOrElse("SPARK_GRAFT_ST_BASES", "sj,mp")
      .split(",").map(_.trim).toSet
    val queries = sys.env.get("SPARK_GRAFT_ST_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(ScaleSmoke.flagshipSet.toSeq.sorted)
    val timeoutS = GraftSession
      .intKnob("SPARK_GRAFT_ST_TIMEOUT_S", sys.env.get, 1).getOrElse(900).toLong
    val activeBases = bases.filter(b => basisKeys.contains(b.key))
    if (activeBases.exists(_.master.isDefined)) {
      // same jar resolution ScaleSmoke's local-cluster path uses: an
      // explicit SPARK_GRAFT_APP_JAR satisfies the preflight too
      val explicitRaw = sys.env.get("SPARK_GRAFT_APP_JAR")
      val explicit = explicitRaw.filter(p => new java.io.File(p).isFile)
      // a SET-but-unusable explicit jar must fail here, not pass the
      // preflight via the dir-scan fallback: the mp children use the env
      // var verbatim, so they would all die at session creation — after
      // hours of sj cells already ran
      require(explicitRaw.isEmpty || explicit.isDefined,
        s"SPARK_GRAFT_APP_JAR=${explicitRaw.get} is not a file — the mp " +
          s"children would inherit and fail on it; fix or unset it")
      val jarDir = new java.io.File("target/scala-2.13")
      val hasJar = explicit.isDefined || Option(jarDir.listFiles())
        .exists(_.exists(_.getName.endsWith(".jar")))
      require(hasJar, "mp basis needs the app jar — run `sbt package` " +
        "first (or point SPARK_GRAFT_APP_JAR at one)")
    }
    val buildTimeoutS = GraftSession
      .intKnob("SPARK_GRAFT_ST_BUILD_TIMEOUT_S", sys.env.get, 1)
      .getOrElse(3600).toLong
    for (factor <- decades) {
      val scaleDir = sys.env.getOrElse(s"SPARK_GRAFT_ST_DIR_$factor",
        s"/dev/shm/graft_scale$factor")
      ensureDir(factor, scaleDir, base, buildTimeoutS)
      // rows accumulate as (query -> basisKey -> reps)
      val rows = queries.map { q =>
        q -> activeBases.map { b =>
          val reps = b.reps(factor)
          val t0 = System.nanoTime()
          val ts = runChild(q, factor, b, reps, scaleDir, base, timeoutS)
          System.err.println(f"[standing] $q@${factor}x/${b.key}: " +
            ts.map(Bench.jnum).mkString(" / ") +
            f" (child wall ${(System.nanoTime() - t0) / 1e9}%.0f s)")
          b.key -> ts
        }
      }
      // markdown rows, BASELINE standing-table format + envelope columns
      val hdrBases = activeBases.map(b =>
        s"${b.key} r1..rN | ${b.key} [min,max]").mkString(" | ")
      println(s"\n| query @${factor}× | $hdrBases |")
      println("|---" * (1 + 2 * activeBases.size) + "|")
      rows.foreach { case (q, perBasis) =>
        val cells = perBasis.map { case (_, ts) =>
          if (ts.isEmpty) "FAILED | —"
          else ts.map(Bench.jnum).mkString(" / ") +
            s" | [${Bench.jnum(ts.min)},${Bench.jnum(ts.max)}]"
        }.mkString(" | ")
        println(s"| $q | $cells |")
      }
      // the machine-checkable record (one line per decade)
      val js = rows.map { case (q, perBasis) =>
        val inner = perBasis.map { case (k, ts) =>
          s""""$k":[${ts.map(Bench.jnum).mkString(",")}]"""
        }.mkString(",")
        s""""$q":{$inner}"""
      }.mkString(",")
      println(s"""{"metric":"standing${factor}x","rows":{$js},"base":"$base"}""")
    }
  }
}
