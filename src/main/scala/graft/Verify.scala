package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is skipped so the rest still dump, then named at the end and
  * the run exits nonzero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.intKnob("SPARK_GRAFT_CPUS", sys.env.get, 1)
      .getOrElse(4).toString
    // managed-table queries (join_bucketed, resume harness) write through
    // the warehouse: keep it on the harness tmpfs, not the repo CWD
    val wh = Files.createTempDirectory(Queries.tempBase, "graft_wh_")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", wh.toUri.toString)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(GraftSession.contractConfs)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=a,b restricts the dump (driver unset)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // reclaim the tmpfs warehouse tree now that the session is closed
    // (it can't ride tempDirs — purgeTempDirs runs mid-dump)
    Queries.rmTree(wh.toFile)
    // render-parity gate (VERDICT r14 task 4): the class of bug the
    // driver's hash catches but schema/value compares miss — two engines
    // MATERIALIZING the same value differently (the r13 embedding_health
    // red: DECIMAL(38,0) renders exact via pyarrow, float64 via DuckDB)
    // — re-enters with every new wide-type query, so the sweep runs
    // HERE, after every dump, not as a manually-invoked script. All
    // parquet dumps above are already on disk before this can exit, so
    // a trip costs nothing downstream; an environment that cannot run
    // the sweep (no python3/duckdb, script absent) warns and passes —
    // only a CLEAN sweep reporting a real divergence fails Verify.
    // SPARK_GRAFT_RENDER_PARITY=0 opts out for dev loops.
    var renderFailed = false
    if (sys.env.get("SPARK_GRAFT_RENDER_PARITY").forall(_ != "0")) {
      val script = Paths.get("tools/render_parity.py")
      if (Files.exists(script)) {
        try {
          val p = new ProcessBuilder("python3", script.toString,
            outDir, sfDir).redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes())
          p.waitFor()
          System.err.println(out)
          if (p.exitValue() != 0 && out.contains("FAIL ")) {
            System.err.println(
              "[verify] RENDER PARITY FAILED — a registered query's " +
                "rendered frame diverges from its oracle frame (see FAIL " +
                "lines above); the driver's hash gate would red-flag it")
            renderFailed = true
          } else if (p.exitValue() != 0) {
            System.err.println("[verify] render-parity sweep could not " +
              "run cleanly (non-FAIL failure above) — skipping the gate")
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[verify] render-parity sweep unavailable: ${e.getMessage}")
        }
      } else System.err.println(
        "[verify] tools/render_parity.py not found — render gate skipped")
    }
    if (failed.nonEmpty) System.err.println(
      s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    if (failed.nonEmpty || renderFailed) sys.exit(1)
  }
}
