package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Allocation, Basket, MatView, SweepLine, Funnel}

/** Unit coverage for the ninth r11 batch: sweep-line concurrency (E46),
  * largest-remainder allocation (E47), transition matrix (E48), basket
  * rules (E49), and incremental MV maintenance (E53).
  */
class AnalyticsOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("sweep-line maxConcurrency: hand-built overlap, day carry-in") {
    // day 0 (µs day = 86400000000): [10,100], [50,200], [150,300] → peak 2
    // an interval spanning into day 1: [day0 80000000000, day1 10000000000]
    // day 1: carried interval + [day1 5e9, day1 9e9] overlap → peak 2
    val d = 86400000000L
    val iv = Seq(
      (10L, 100L), (50L, 200L), (150L, 300L),
      (80000000000L, d + 10000000000L),
      (d + 5000000000L, d + 9000000000L)).toDF("s", "e")
    val out = SweepLine.maxConcurrency(iv, col("s"), col("e"))
      .orderBy("day_bucket").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 2L), (1L, 2L)))
  }

  test("sweep-line: all-negative-delta day reports its carry-in plateau") {
    // one interval opens on day 0 and closes early on day 1; day 1's only
    // endpoint is the close (delta -1). The day-1 max must be the
    // morning plateau (1 interval open), not the post-close trough (0).
    val d = 86400000000L
    val iv = Seq((10L, d + 10000000000L)).toDF("s", "e")
    val out = SweepLine.maxConcurrency(iv, col("s"), col("e"))
      .orderBy("day_bucket").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 1L), (1L, 1L)))
  }

  test("sweep-line: simultaneous start/end at one timestamp nets first") {
    // [0,100] ends at 100 (delta at 101), [101,200] starts at 101:
    // net at t=101 is 0 → concurrency never exceeds 1
    val iv = Seq((0L, 100L), (101L, 200L)).toDF("s", "e")
    val out = SweepLine.maxConcurrency(iv, col("s"), col("e")).collect()
    assert(out.map(_.getLong(1)).max === 1L)
  }

  test("largestRemainder: exact budget conservation and remainder order") {
    // budget 10 over weights 1,1,1 → 3,3,3 base, remainder 1 each,
    // leftover 1 goes to lowest ord
    val df = Seq((1L, 1, 1L), (1L, 2, 1L), (1L, 3, 1L))
      .toDF("k", "ord", "w").withColumn("budget", lit(10L))
    val out = Allocation.largestRemainder(df, col("k"), col("ord"),
        col("w"), col("budget"))
      .orderBy("ord").select("allocated", "bumped").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(4L, 3L, 3L))
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 0L, 0L))
  }

  test("largestRemainder: every order's rebate sums exactly at sf") {
    val got = Queries.allocateRebate(spark, sf)
    val bad = got.groupBy("l_orderkey")
      .agg(first("budget_c").as("b"), sum("allocated_c").as("a"))
      .where(col("b") =!= col("a")).count()
    assert(bad === 0L)
    assert(got.count() > 0L)
  }

  test("transitions: hand-built sequence counts and probabilities") {
    // user 1: a,b,a,c → (a,b),(b,a),(a,c); user 2: a,b → (a,b)
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "c"),
      (2L, 5L, "a"), (2L, 6L, "b"))
      .toDF("u", "t", "et")
      .withColumn("ts", timestamp_micros(col("t")))
    val out = Funnel.transitions(ev, col("u"), col("et"), col("ts"),
        col("t")).orderBy("from_type", "to_type").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "a", 1L)))
    val pa = out.filter(_.getString(0) == "a").map(_.getDouble(3))
    assert(pa.toSeq === Seq(2.0 / 3.0, 1.0 / 3.0))
  }

  test("basket pairRules: hand-built baskets, support/confidence/lift") {
    // baskets: {x,y,z}, {x,y}, {x,z}, {y} → n=4, x:3 y:3 z:2,
    // xy:2 xz:2 yz:1
    val df = Seq((1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y"),
      (3, "x"), (3, "z"), (4, "y")).toDF("bk", "it")
    val out = Basket.pairRules(df, col("bk"), col("it"), 2L)
      .orderBy("item_a", "item_b").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq(("x", "y", 2L), ("x", "z", 2L)))
    val xy = out.head
    assert(xy.getDouble(5) === 2.0 / 3.0) // confidence
    assert(xy.getDouble(6) === (2.0 * 4.0) / (3.0 * 3.0)) // lift
  }

  test("basket pairRules: duplicate (basket,item) rows collapse") {
    val df = Seq((1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y"))
      .toDF("bk", "it")
    val out = Basket.pairRules(df, col("bk"), col("it"), 1L).collect()
    assert(out.length === 1 && out.head.getLong(2) === 2L)
  }

  test("basket bitmap and generic paths agree on the brand fixture") {
    val baskets = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("bk"), col("p_brand").as("it"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item_a", "item_b").collect().map(_.toSeq).toSeq
    val bitmap = Basket.pairRules(baskets, col("bk"), col("it"), 2L)
    val generic = Basket.pairRulesGeneric(baskets, col("bk"), col("it"), 2L)
    assert(canon(bitmap) === canon(generic))
    // the brand domain (25) must actually take the bitmap path: the
    // fact agg sits behind the localCheckpoint, so assert via the
    // ABSENCE of the generic path's array explode in the final plan
    // and the presence of bit_or in the pre-checkpoint logical build
    assert(!bitmap.queryExecution.executedPlan.toString.contains("collect_set"))
    // output schema of the bitmap path must carry the item names, not idx
    assert(bitmap.columns.toSeq === Seq("item_a", "item_b", "n_ab", "n_a",
      "n_b", "confidence", "lift"))
  }

  test("matview: incremental maintenance equals full recompute") {
    val fact = Seq((0L, "1.00"), (0L, "2.50"), (1L, "4.00"), (2L, "0.25"))
      .toDF("day_bucket", "r")
      .withColumn("rev", col("r").cast("decimal(18,2)")).drop("r")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mv_spec_").toString
    try {
      val out = MatView.buildThenMaintain(spark,
          fact.where(col("day_bucket") < 1),
          fact.where(col("day_bucket") >= 1), dir)
        .orderBy("day_bucket").collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSeq ===
        Seq((0L, 2L, 3.5), (1L, 1L, 4.0), (2L, 1L, 0.25)))
      // the stored generation only holds pre-delta days
      val stored = spark.read.parquet(dir)
      assert(stored.agg(max("day_bucket")).head.getLong(0) === 0L)
    } finally graft.sources.Sinks.rmTree(new java.io.File(dir))
  }

  test("pseudonym: deterministic, salt-sensitive, join-consistent") {
    import graft.operators.Privacy
    val a = Seq(1L, 2L, 3L).toDF("k")
      .select(col("k"), Privacy.pseudonym(col("k"), "s1").as("p"))
    val b = Seq(3L, 2L, 9L).toDF("k")
      .select(col("k"), Privacy.pseudonym(col("k"), "s1").as("p"))
    // equal keys map to equal pseudonyms across frames (referential
    // integrity), distinct keys to distinct pseudonyms
    assert(a.join(b, "p").where(a("k") =!= b("k")).count() === 0L)
    assert(a.join(b, "p").count() === 2L)
    val b2 = Seq(1L).toDF("k")
      .select(Privacy.pseudonym(col("k"), "s2").as("p"))
    assert(a.join(b2, "p").count() === 0L) // different salt, disjoint space
    assert(a.select("p").head.getString(0).length === 16) // 64-bit hex
    intercept[IllegalArgumentException] {
      Privacy.pseudonym(col("k"), "s", bits = 63)
    }
  }

  test("compactPartitions collapses each leaf to one file, content intact") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact_spec_").toString
    try {
      val df = spark.range(2000)
        .select(col("id"), pmod(col("id"), lit(3L)).as("day"))
      // explicit count — AQE would coalesce the tiny shuffle to one task
      // and de-fragment the fixture
      df.repartition(8, col("day"), pmod(col("id"), lit(8L)))
        .write.partitionBy("day").parquet(s"$dir/frag")
      def leafCounts(p: String): Map[String, Int] =
        new java.io.File(p).listFiles().filter(_.getName.startsWith("day="))
          .map(d => d.getName ->
            d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      assert(leafCounts(s"$dir/frag").values.forall(_ >= 2),
        s"fixture must be fragmented: ${leafCounts(s"$dir/frag")}")
      val frag = spark.read.parquet(s"$dir/frag")
      Sinks.compactPartitions(frag, "day", s"$dir/compact")
      assert(leafCounts(s"$dir/compact").values.forall(_ === 1),
        s"each leaf must hold one file: ${leafCounts(s"$dir/compact")}")
      val back = spark.read.parquet(s"$dir/compact")
      assert(back.count() === 2000L)
      assert(back.select(sum(col("id"))).head.getLong(0) ===
        df.select(sum(col("id"))).head.getLong(0))
    } finally graft.sources.Sinks.rmTree(new java.io.File(dir))
  }

  test("matview delta pass prunes old days at the scan") {
    // the maintenance premise: the delta aggregation's scan must carry a
    // pushed-down day filter, not rescan history
    val cut = to_timestamp(lit("1997-01-01"))
    val delta = Tables.lineitem(spark, sf).where(col("l_shipdate") >= cut)
      .select(call_function("div", unix_micros(col("l_shipdate")),
        lit(86400000000L)).as("day_bucket"),
        col("l_extendedprice").cast("decimal(18,2)").as("rev"))
    val plan = MatView.dailyPartials(delta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate,"),
      s"delta scan must push the date filter:\n$plan")
  }
}
