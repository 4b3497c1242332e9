package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke: run the flagship queries on an N×-unioned copy of the sf0.1
  * tables (N = SPARK_GRAFT_SCALE_FACTOR, default 10 — ~6M-row lineitem,
  * 1M events, 50k docs; 30 triples that) to observe plan behavior
  * one or more orders of magnitude up — shuffle sizing, AQE coalescing, and the
  * near-dup pipelines' growth curves. Ids are re-keyed per replica so
  * keyed operators see distinct entities, not 10 copies of one.
  */
object ScaleSmoke {

  /** The STANDING decade-probe set (BASELINE.md's maintained 30×/100×/
    * 300×/1000× tables): the linear scan/sort controls, every query the
    * r12–r16 scale reworks touched, the sort-spill class, and the
    * linear star-edge dedup consumers. `SPARK_GRAFT_SCALE_ONLY=flagship`
    * expands to this list so a decade sweep is one env var per
    * round, not a hand-maintained query string. The fourth decade
    * (factor 1000: 600M-row lineitem, 15 GB input) fits /dev/shm and
    * both bases on this box; see BASELINE r16 for its protocol notes
    * (mp page-cache rep spikes, raw-path span rows).
    */
  val flagshipSet: Set[String] = Set(
    "q1_pricing", "etl_cast_rename", "ann_topk", "oov_rate",
    "asof_packed", "stream_asof_enrich", "weighted_median",
    "rfm_segments", "novelty_ngrams", "sliding_percentile", "span_dedup",
    "triangle_parts", "q5_region_revenue", "dedup_stats",
    "dedup_clusters", "dedup_levenshtein_clusters", "containment_stats")

  /** The decade-harness SparkSession: tmpfs-or-disk spill base sized to
    * the decade, leak-proof local dir, and the `SPARK_GRAFT_MASTER`
    * local-cluster override with app-jar shipping. The shutdown hook
    * reclaims the local dir.
    *
    * Shuffle/sort spill goes to tmpfs when it can actually hold the
    * spill: at the 300× decade the external sorts spill tens of GB, and
    * a slow backing disk absorbs that at pathological throughput
    * (measured: triangle_parts 297→112 s at 300× from the spill
    * destination alone) — a cluster's local SSDs are the production
    * analogue. SPARK_GRAFT_SPILL_DIR overrides; otherwise /dev/shm is
    * used only with headroom PROPORTIONAL to the decade (Queries
    * .tempBase's 4 GiB floor is sized for harness landing residue, not
    * shuffle spill — a modest shm would ENOSPC mid-run or eat the RAM
    * the spill was meant to relieve), else the system tmpdir.
    */
  private def scaleSession(cpus: Int, factor: Int): SparkSession = {
    val spillBase = sys.env.get("SPARK_GRAFT_SPILL_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(Queries.shmWithHeadroom(math.max(8L, factor.toLong / 4) << 30))
      .getOrElse(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(spillBase)
    val local = java.nio.file.Files
      .createTempDirectory(spillBase, "graft_scale_local_")
    // Spark removes its inner spark-* trees on stop but not this parent:
    // reclaim it on exit (shutdown hook covers the killed-run case that
    // leaked a dozen empty dirs into /dev/shm across r13-r14)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => Queries.rmTree(local.toFile)))
    // SPARK_GRAFT_MASTER overrides the single-JVM local[k] master — the
    // r15 verdict's open question was whether 300×-decade tail rows are
    // plan behavior or artifacts of ONE 48 GB JVM aging across reps; a
    // real cluster resets per-executor heaps by construction, and master
    // local-cluster[4,8,12288] measures that basis on this box. Executors
    // are real child processes that fetch the app jar from the driver, so
    // this path needs `sbt package` first and SPARK_GRAFT_APP_JAR (or the
    // default target/scala-2.13 jar) on disk.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = GraftSession.builder(master, cpus)
      .config("spark.local.dir", local.toString)
    val b1 = if (master.startsWith("local-cluster")) {
      val jar = sys.env.getOrElse("SPARK_GRAFT_APP_JAR", {
        val dir = java.nio.file.Paths.get("target/scala-2.13")
        val s = java.nio.file.Files.list(dir)
        try s.filter(_.toString.endsWith(".jar")).findFirst()
          .orElseThrow(() => new IllegalStateException(
            s"local-cluster master needs the app jar — run `sbt package` " +
              s"(looked in $dir)")).toString
        finally s.close()
      })
      // worker memory is the [n,cores,MB] third field; leave the executor
      // 1 GiB under it for non-heap overhead so the worker can place it
      val workerMb = master.replaceAll("[^0-9,]", "").split(",")(2).toLong
      b0.config("spark.jars", jar)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM",
            s"${math.max(1024L, workerMb - 1024L)}m"))
    } else b0
    val spark = b1.config(extraConf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs applied last —
    * the A/B instrument for session-level confs the harness doesn't
    * model (e.g. spark.sql.files.maxPartitionBytes for the q5 per-task
    * group-cardinality experiment, r16 verdict task 1, or Spark's
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` to
    * replace the input-conditional AQE ceiling). Study knob, not a
    * production path: values land verbatim in the session.
    */
  private def extraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.nonEmpty))
      .flatMap(kv => kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    // SPARK_GRAFT_SCALE_DIR pins the amplified-table location and reuses
    // it when already built — iterating on one query no longer pays the
    // multi-GB rebuild each run
    val pinned = sys.env.get("SPARK_GRAFT_SCALE_DIR")
    val out = pinned.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_scale_").toString)
    val factor = GraftSession
      .intKnob("SPARK_GRAFT_SCALE_FACTOR", sys.env.get, 1).getOrElse(10)
    // reuse only a COMPLETE build OF THIS SHAPE: the marker (written after
    // the last table commits) records base+factor, so a pinned dir built
    // at 10× is rebuilt — not silently reused — when a 30× run asks for
    // it. Pre-marker dirs (or interrupted builds) always rebuild.
    val marker = new java.io.File(out, "_graft_scale_build")
    val stamp = s"base=$base factor=$factor"
    val rebuild = pinned.forall { _ =>
      !marker.exists() ||
        scala.util.Try(java.nio.file.Files.readString(marker.toPath).trim)
          .getOrElse("") != stamp
    }
    val cpus = GraftSession.intKnob("SPARK_GRAFT_CPUS", sys.env.get, 1)
      .getOrElse(32)
    val spark = scaleSession(cpus, factor)
    def amplify(name: String, keyCols: Map[String, Long]): Unit = {
      val src = Tables.table(spark, base, name)
      val copies = (0 until factor).map { r =>
        keyCols.foldLeft(src) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(r * stride))
        }
      }.reduce(_ unionByName _)
      copies.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    if (rebuild) {
      // strides larger than any real key range keep replicas disjoint
      amplify("lineitem", Map("l_orderkey" -> 10000000L))
      amplify("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
      amplify("customer", Map("c_custkey" -> 1000000L))
      amplify("events", Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      amplify("documents", Map("doc_id" -> 1000000L))
      amplify("embeddings", Map("vec_id" -> 1000000L))
      Seq("region", "nation", "supplier", "part").foreach { t =>
        Tables.table(spark, base, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
      }
      java.nio.file.Files.writeString(marker.toPath, stamp + "\n")
      ()
    }
    // input-conditional AQE ceiling (r16): the amplified dir now exists,
    // so size it and apply the same rule Bench uses at session build —
    // a runtime SQL conf, settable post-build. Decade dirs (477 MB+)
    // always clear the small-input threshold, keeping the measured
    // 2×-cores ceiling the r15 A/B chose there. An extra-conf ceiling
    // still wins, as every extra conf does.
    val ceiling = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    if (!extraConf.contains(ceiling))
      spark.conf.set(ceiling, GraftSession.initPartitionsFor(
        cpus, GraftSession.inputBytes(out)).toString)

    // the full registered surface (SPARK_GRAFT_SCALE_ONLY restricts for
    // iteration)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(v => if (v.trim == "flagship") flagshipSet
                else v.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.filterNot(Bench.untimed).sorted
      .filter(n => only.forall(_.contains(n)))
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm
    // SPARK_GRAFT_SCALE_REPS=N times each query N times in THIS JVM and
    // reports every rep: single fresh-JVM probes at the 300× decade swing
    // ±30-50% (page-cache / JIT / first-run state), so arm comparisons
    // need in-JVM repeats where those confounds are shared
    val reps = GraftSession.intKnob("SPARK_GRAFT_SCALE_REPS", sys.env.get, 1)
      .getOrElse(1)
    // cold per rep (same reset as Bench's cold pass): accumulated
    // checkpoint/cache state from earlier queries otherwise evicts the
    // current query's own caches at 30× and inflates it up to 4× — the
    // run-order artifact class every round has had to re-measure
    // isolated; clearing makes scale rows diffable directly
    val timed = names.map { name =>
      name -> (1 to reps).map(_ => Bench.timeQuery(spark, name, out,
        SparkEntry.queries(name), reset = true))
    }
    // a query with any failed rep is listed under "failed" and keeps no
    // reps: an evidence table must not commit a phantom fast rep
    val failed = timed.collect { case (n, ts) if ts.contains(None) => n }
    val qs = timed.collect { case (name, ts) if !ts.contains(None) =>
      ts.flatten.zipWithIndex.map { case (t, i) =>
        val k = if (reps == 1) name else s"$name#${i + 1}"
        "\"" + k + "\":" + Bench.jnum(t)
      }
    }.flatten.mkString("{", ",", "}")
    println(s"""{"metric":"scale${factor}x","queries":$qs,"failed":${Bench.jlist(failed)},"base":"$base","master":"${spark.sparkContext.master}"}""")
    spark.stop()
  }
}
