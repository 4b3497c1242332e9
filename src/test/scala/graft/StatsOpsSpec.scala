package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Stats, TimeSeries}
import graft.pipeline.TxPublish

/** Unit coverage for the eleventh r11 batch: Gini (E54), Kaplan-Meier
  * (E55), seasonal residuals (E56), transactional publish (E57), rolling
  * correlation (E58).
  */
class StatsOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("gini: uniform is 0, concentrated is (n-1)/n-scaled, hand value") {
    val df = Seq(
      ("u", 1L, 10L), ("u", 2L, 10L), ("u", 3L, 10L), // uniform
      ("c", 1L, 0L), ("c", 2L, 0L), ("c", 3L, 30L) // all in one hand
    ).toDF("g", "k", "x")
    val out = Stats.gini(df, col("g"), col("k"), col("x"))
      .orderBy("g").collect()
    // concentrated: (2*(3*30) - 4*30) / (3*30) = 60/90
    assert(out.map(r => (r.getString(0), r.getDouble(2))).toSeq ===
      Seq(("c", 60.0 / 90.0), ("u", 0.0)))
  }

  test("kaplanMeier: hand-computed curve with censoring") {
    // durations: 1 death, 2 censored, two deaths at 3, 5 censored
    val df = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (5L, 0))
      .toDF("t", "event")
    val out = Stats.kaplanMeier(df, col("t"), col("event"))
      .orderBy("t").collect()
    assert(out.length === 2)
    val s1 = 1.0 - 1.0 / 5.0 // t=1: 5 at risk, 1 death
    val s3 = s1 * (1.0 - 2.0 / 3.0) // t=3: 3 at risk (1 died, 1 censored)
    assert(out(0).getLong(0) === 1L && out(0).getLong(1) === 1L &&
      out(0).getLong(2) === 5L && out(0).getDouble(3) === s1)
    assert(out(1).getLong(0) === 3L && out(1).getLong(1) === 2L &&
      out(1).getLong(2) === 3L && out(1).getDouble(3) === s3)
  }

  test("kaplanMeier: no censoring reduces to the empirical survivor") {
    val df = Seq((1L, 1), (2L, 1), (2L, 1), (4L, 1)).toDF("t", "event")
    val out = Stats.kaplanMeier(df, col("t"), col("event"))
      .orderBy("t").collect().map(_.getDouble(3))
    assert(out.toSeq === Seq(3.0 / 4.0, 3.0 / 4.0 * (1.0 / 3.0), 0.0))
  }

  test("seasonalResiduals: same-weekday baseline, full-window gate") {
    // day % 7 classes; dow 0 days: 0, 7, 14, 21 with counts 10, 10, 10, 40
    val rows = Seq(0L -> 10, 7L -> 10, 14L -> 10, 21L -> 40)
      .flatMap { case (d, n) => (1 to n).map(i =>
        (d * 86400000000L + i * 1000L, 1L)) }
    val ev = rows.toDF("us", "pad")
      .select(timestamp_micros(col("us")).as("ts"))
    val out = TimeSeries.seasonalResiduals(ev, col("ts"), lookback = 2)
      .orderBy("day_bucket").collect()
    // only days 14 and 21 have 2 prior same-dow days
    assert(out.map(_.getLong(0)).toSeq === Seq(14L, 21L))
    val d21 = out(1)
    assert(d21.getLong(3) === 20L) // sum of prior two
    assert(d21.getDouble(4) === (40.0 * 2) / 20.0)
    assert(d21.getLong(5) === 1L) // 4x the baseline → anomaly
    assert(out(0).getLong(5) === 0L)
  }

  test("rollingCorr: identical series correlate at 1.0 per window") {
    val rows = (0 until 10).flatMap { d =>
      (0 until d + 1).flatMap(i => Seq(
        (d * 86400000000L + i * 2000L, "view"),
        (d * 86400000000L + i * 2000L + 1000L, "purchase")))
    }
    val ev = rows.toDF("us", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
    val out = TimeSeries.rollingCorr(ev, col("ts"), col("event_type"),
        "view", "purchase", windowDays = 5)
      .orderBy("day_bucket").collect()
    assert(out.length === 6) // days 4..9 have full 5-row windows
    assert(out.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-12))
  }

  test("asOfNearest: direction choice, backward tie-break, same-t, no-match") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L),
      (3L, 7L, 103L)).toDF("k", "t", "id")
    val right = Seq((1L, 7L), (1L, 12L), (2L, 5L), (1L, 28L))
      .toDF("k", "rt")
    val out = AsOfJoin.asOfNearest(left, col("k"), col("t"),
        right, col("k"), col("rt"), Seq("rt" -> col("rt")))
      .orderBy("id").collect()
    // id 100 at t=10: rights 7 (d3) vs 12 (d2) → forward
    assert(out(0).getLong(3) === 12L && out(0).getString(5) === "f" &&
      out(0).getLong(4) === 2L)
    // id 101 at t=20: rights 12 (d8) vs 28 (d8) → tie → backward
    assert(out(1).getLong(3) === 12L && out(1).getString(5) === "b" &&
      out(1).getLong(4) === -8L)
    // id 102 at t=5 with a right AT t=5 → backward, dt 0
    assert(out(2).getLong(3) === 5L && out(2).getString(5) === "b" &&
      out(2).getLong(4) === 0L)
    // id 103: key 3 has no rights → null payload, dir, dt
    assert(out(3).isNullAt(3) && out(3).isNullAt(4) && out(3).isNullAt(5))
  }

  test("skyline2d: dominance, x-ties, duplicate points both survive") {
    import graft.operators.Skyline
    val df = Seq(
      ("g", 1L, 1L, 5), ("g", 2L, 3L, 3), ("g", 3L, 3L, 4), // 3 dominated by 2
      ("g", 4L, 5L, 1), ("g", 5L, 5L, 1), // duplicates — both stay
      ("g", 6L, 6L, 1), // dominated by 4/5 (same y, larger x)
      ("g", 7L, 2L, 5) // dominated by id 1 (same y, larger x)
    ).toDF("g", "id", "x", "y")
    val out = Skyline.skyline2d(df, col("g"), col("x"), col("y"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 2L, 4L, 5L))
  }

  test("skyline2d rejects fractional x types (range-frame contract)") {
    import graft.operators.Skyline
    val df = Seq(("g", 1.49, 3), ("g", 1.50, 2)).toDF("g", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Skyline.skyline2d(df, col("g"), col("x"), col("y"))
    }
    assert(e.getMessage.contains("integer-typed x"))
    // decimal scale 0 (exact whole numbers) is accepted
    val ok = df.withColumn("x", (col("x") * 100).cast("decimal(20,0)"))
    assert(Skyline.skyline2d(ok, col("g"), col("x"), col("y"))
      .count() === 2L)
  }

  test("mahalanobisCensus: off-ellipse point flags, on-trend extremes don't") {
    import graft.operators.Stats
    // tight y≈x trend plus one on-trend extension and one off-trend point
    val base = (1 to 20).map(i => ("g", i.toDouble, i.toLong))
    val onTrend = ("g", 25.0, 25L) // large but ON the correlation line
    val offTrend = ("g", 10.0, 30L) // moderate x, wildly off-trend y
    val df = (base :+ onTrend :+ offTrend).toDF("g", "x", "y")
    val out = Stats.mahalanobisCensus(df, col("g"), col("x"), col("y"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 22L)
    assert(out.head.getLong(2) === 1L) // exactly the off-trend point
  }

  test("annTopKIndexed over a parquet round-trip equals the in-memory path") {
    import graft.operators.IvfIndex
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cent = IvfIndex.refine(e, nCells = 8, rounds = 1,
      orderedMeans = true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_").toString
    try {
      cent.write.parquet(s"$dir/centroids")
      IvfIndex.assign(e, cent).write.parquet(s"$dir/corpus")
      val q = e.where(col("id") < 5)
      val mem = IvfIndex.annTopKWith(q, e, k = 3, nprobe = 2, cent)
        .orderBy("query_id", "rank").collect()
      val disk = IvfIndex.annTopKIndexed(q,
          spark.read.parquet(s"$dir/corpus"), k = 3, nprobe = 2,
          spark.read.parquet(s"$dir/centroids"))
        .orderBy("query_id", "rank").collect()
      assert(mem.map(_.toSeq).toSeq === disk.map(_.toSeq).toSeq)
    } finally graft.sources.Sinks.rmTree(new java.io.File(dir))
  }

  test("txPublish: readers never see a torn version (fault injection)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_txpub_spec_").toString
    try {
      val t1v1 = Seq((1L, "a")).toDF("k", "v")
      val t2v1 = Seq((1L, 10L)).toDF("k", "n")
      TxPublish.publish(Map("t1" -> t1v1, "t2" -> t2v1), base, 1L)
      assert(TxPublish.currentVersion(base) === Some(1L))
      // crash window: t1's v2 lands but the commit never happens
      Seq((2L, "b")).toDF("k", "v").write
        .parquet(s"$base/t1/v=2")
      assert(TxPublish.currentVersion(base) === Some(1L))
      assert(TxPublish.read(spark, base, "t1")
        .head.getString(1) === "a") // still v1
      assert(TxPublish.read(spark, base, "t2").head.getLong(1) === 10L)
      // the re-publish overwrites the orphan and commits atomically
      TxPublish.publish(Map(
        "t1" -> Seq((2L, "b")).toDF("k", "v"),
        "t2" -> Seq((2L, 20L)).toDF("k", "n")), base, 2L)
      assert(TxPublish.read(spark, base, "t1").head.getString(1) === "b")
      assert(TxPublish.read(spark, base, "t2").head.getLong(1) === 20L)
    } finally graft.sources.Sinks.rmTree(new java.io.File(base))
  }

  test("weightedSystematic: hand grid, hit conservation, PPS multiplicity") {
    import graft.operators.Sampling
    // weights 5,1,1,1,1,1 (total 10), k=5 → step 2, grid {0,2,4,6,8}
    val df = Seq((1L, 5L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "w")
    val out = Sampling.weightedSystematic(df, Seq("id"), col("w"), 5L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 3L), (3L, 1L), (5L, 1L)))
    assert(out.map(_._2).sum === 5L) // exactly k when step divides total
  }

  test("weightedSystematic: draws scale with weight on the real corpus") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      col("n_chars"))
    val out = Sampling.weightedSystematic(docs, Seq("doc_id"),
      col("n_chars"), 50L)
    val hits = out.agg(sum("n_hits")).head.getLong(0)
    assert(hits >= 45L && hits <= 50L) // ≤ k, and near k
  }

  test("runningByRange equals the window rank and running sums across " +
      "range boundaries") {
    import graft.operators.Ranks
    import org.apache.spark.sql.expressions.Window
    // 3 wide groups, enough rows that each spans several range partitions
    val df = (1 to 3).flatMap(g => (1 to 400).map(i =>
      (s"g$g", (i * 37) % 401, i, (i * 13 % 7 + 1).toLong)))
      .toDF("g", "x", "tie", "w")
    // null groups form their own window partition: none may be dropped
    val withNulls = df.union((1 to 300).map(i =>
      (null: String, (i * 11) % 301, i, 2L)).toDF("g", "x", "tie", "w"))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("g", "x", "tie", "rk", "rk_total", "cw", "cw_total")
        .collect().map(r => (Option(r.getString(0)), r.getInt(1),
          r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .sortBy(t => (t._1.getOrElse(""), t._2, t._3)).toSeq
    for ((in, group) <- Seq(df -> Seq("g"), withNulls -> Seq("g"),
        df -> Nil)) {
      val two = Ranks.running(in, group, Seq("x", "tie"),
        Seq("rk" -> lit(1L), "cw" -> col("w")))
      val part = Window.partitionBy(group.map(col): _*)
      val ord = part.orderBy(col("x"), col("tie"))
      val win = in
        .withColumn("rk", row_number().over(ord).cast("long"))
        .withColumn("rk_total", count(lit(1)).over(part))
        .withColumn("cw", sum(col("w")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cw_total", sum(col("w")).over(part))
      assert(rows(two) === rows(win), s"group=$group")
    }
  }

  test("bitemporal stateAt: corrections visible per tx view, valid cut") {
    import graft.operators.Bitemporal
    // key 1: recorded 'a' (valid 10, tx 1), corrected to 'b' (valid 10,
    // tx 2), later version 'c' (valid 20, tx 3)
    val df = Seq((1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"), (1L, 20L, 3L, "c"))
      .toDF("k", "vf", "tx", "v")
    def at(va: Long, ta: Long): Seq[(Long, String)] =
      Bitemporal.stateAt(df, col("k"), col("vf"), col("tx"),
          Seq("v" -> col("v")), lit(va), lit(ta))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(at(15L, 1L) === Seq((1L, "a"))) // what we believed at tx 1
    assert(at(15L, 2L) === Seq((1L, "b"))) // the correction, same valid
    assert(at(25L, 3L) === Seq((1L, "c"))) // the newer valid version
    assert(at(5L, 3L) === Seq.empty) // before any valid time
  }

  test("dq_check: duplicate (rule, column) pairs each keep their own count") {
    import graft.pipeline.Pipeline
    // two `min` thresholds on ONE column — the positional rule_idx
    // attribution case: a (rule, column)-keyed join would collapse or
    // cross-assign these counts
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [
        {"type": "dq_check", "fail": true, "rules": [
          {"rule": "min", "column": "o_totalprice", "value": "1000"},
          {"rule": "min", "column": "o_totalprice", "value": "100000"}
        ]}
      ]
    }""")
    val ord = Tables.orders(spark, sf)
    def below(t: Double) =
      ord.where(col("o_totalprice") < t).count()
    val (lo, hi) = (below(1000.0), below(100000.0))
    assert(lo !== hi) // fixture must actually distinguish the two rules
    val e = intercept[Pipeline.DqViolationException](
      Pipeline.plan(spark, cfg))
    val minCounts = e.counts.collect {
      case (r, n) if r.rule == "min" => r.value.get -> n
    }
    assert(minCounts.toSet === Set("1000" -> lo, "100000" -> hi))
  }

  test("dq_check config step gates the load: fail throws with counts") {
    import graft.pipeline.Pipeline
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [
        {"type": "dq_check", "fail": true, "rules": [
          {"rule": "not_null", "column": "o_custkey"},
          {"rule": "unique", "column": "o_custkey"}
        ]}
      ]
    }""")
    val e = intercept[Pipeline.DqViolationException](
      Pipeline.plan(spark, cfg))
    assert(e.counts.exists { case (r, n) => r.rule == "unique" && n > 0 })
    assert(e.getMessage.contains("unique(o_custkey)"))
    // the same rules without fail pass the frame through
    val cfg2 = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "filters": [
        {"type": "dq_check", "rules": [
          {"rule": "unique", "column": "o_orderkey"},
          {"rule": "fk", "column": "o_custkey",
           "ref_path": "$sf/customer.parquet", "ref_column": "c_custkey"}
        ], "fail": true}
      ]
    }""")
    assert(Pipeline.plan(spark, cfg2).count() ===
      Tables.orders(spark, sf).count())
  }

  test("powerIterate recovers the dominant eigenvector of a known matrix") {
    import graft.operators.Spectral
    // diag(4, 1) scaled: dominant direction is e0, eigenvalue 4s
    val s = 1000L
    val g = Array(4L * s, 0L, 0L, 1L * s)
    val (x, m) = Spectral.powerIterate(g, 2, iters = 30)
    assert(math.abs(x(0)) === 1.0) // L-inf normalized dominant axis
    assert(math.abs(x(1)) < 1e-12)
    assert(math.abs(m - 4000.0) < 1e-9)
  }

  test("gramQuantized is partitioning-invariant (integer sums)") {
    import graft.operators.Spectral
    val e = Tables.embeddings(spark, sf).limit(200)
    def cells(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      Spectral.gramQuantized(df, "embedding", 1L << 20)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    assert(cells(e.repartition(1)) === cells(e.repartition(13)))
  }

  test("txPublish: reading an unpublished base fails loudly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_txpub_spec2_").toString
    try intercept[IllegalStateException] {
      TxPublish.read(spark, base, "t1")
    } finally graft.sources.Sinks.rmTree(new java.io.File(base))
  }
}
