package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TimePartitioning
import graft.operators.TimePartitioning._

/** Reference semantics: `TimestampPartitioning.java` (unit seconds 55-56,
  * utcPartition 68-71, unix units 89-106, skew split 273-289); test intent
  * mirrors the reference's `TestTimestampPartitioning.java`.
  */
class TimePartitioningSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("hour/day bucket of a timestamp column matches epochSeconds/unit") {
    // 2024-01-01T01:30:00Z = 1704072600s
    val df = Seq("2024-01-01 01:30:00").toDF("s")
      .select(to_timestamp($"s").as("ts"))
    val row = df.select(
      TimePartitioning.bucket($"ts", Hour).as("h"), TimePartitioning.bucket($"ts", Day).as("d")).head()
    assert(row.getLong(0) === 1704072600L / 3600)
    assert(row.getLong(1) === 1704072600L / 86400)
  }

  test("long column honors unix_timestamp_unit sec/milli/micro/nano") {
    val t = 1704072600L
    val df = Seq((t, t * 1000, t * 1000000L, t * 1000000000L))
      .toDF("sec", "milli", "micro", "nano")
    val row = df.select(
      bucketOfLong($"sec", Sec, Hour),
      bucketOfLong($"milli", Milli, Hour),
      bucketOfLong($"micro", Micro, Hour),
      bucketOfLong($"nano", Nano, Hour)).head()
    (0 until 4).foreach(i => assert(row.getLong(i) === t / 3600))
  }

  test("pre-1970 timestamps truncate toward zero like the reference's Java /") {
    // 1969-12-31 23:00:00Z = -3600 s → -3600/3600 = -1 (Java truncation)
    val df = Seq("1969-12-31 23:00:00", "1969-12-31 23:59:59").toDF("s")
      .select(to_timestamp($"s").as("ts"))
    val buckets = df.select(TimePartitioning.bucket($"ts", Hour))
      .collect().map(_.getLong(0))
    assert(buckets(0) === -1L)
    assert(buckets(1) === 0L) // -1 s / 3600 truncates to 0, as in Java
  }

  test("bucket() rejects long columns at analysis time (no silent seconds cast)") {
    // the round-9 failure mode: raw parquet nano-epochs arrive as LONG
    // under nanosAsLong=true; a blind cast would bucket them as seconds
    val df = Seq(1704072600000000000L).toDF("ts")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(TimePartitioning.bucket($"ts", Hour)).collect()
    }
    assert(e.getMessage.contains("bucketOfLong"))
    // date and string stay accepted (cast path unchanged)
    val ok = Seq("2024-01-01 01:30:00").toDF("s")
      .select(TimePartitioning.bucket($"s", Hour)).head().getLong(0)
    assert(ok === 1704072600L / 3600)
  }

  test("unit parsing matches the reference's config errors") {
    assert(BucketUnit.of("hour") === Hour)
    assert(BucketUnit.of("day") === Day)
    assertThrows[IllegalArgumentException](BucketUnit.of("week"))
    assert(UnixUnit.of("milli") === Milli)
    assertThrows[IllegalArgumentException](UnixUnit.of("minutes"))
  }

  test("salted two-stage aggregation is split-invariant (map_side_partition_split)") {
    val ev = Tables.events(spark, sf)
    def agg(split: Int) = TimePartitioning.aggregateByBucketSalted(
      ev, TimePartitioning.bucket($"ts", Hour), $"event_id", split,
      partial = Seq(count(lit(1)).as("pn"),
        sum($"value".cast("decimal(18,2)")).as("ps")),
      finalAggs = Seq(sum($"pn").as("n"),
        sum($"ps").cast("double").as("sv")))
      .orderBy($"bucket").collect().toSeq
    assert(agg(1) === agg(4))
    assert(agg(4) === agg(16))
  }

  test("skew salt multiplies reduce-side groups without changing results") {
    val ev = Tables.events(spark, sf)
    val buckets = ev.select(TimePartitioning.bucket($"ts", Day).as("b"))
      .distinct().count()
    val salted = ev.select(TimePartitioning.bucket($"ts", Day).as("b"),
        TimePartitioning.salt($"event_id", 4).as("s"))
      .distinct().count()
    // a hot day-bucket is split across up to 4 partial-agg groups
    assert(salted > buckets)
    assert(salted <= buckets * 4)
  }

  test("autoSplit scales with the hottest bucket and never drops below 1") {
    import spark.implicits._
    val skewed = (1L to 1000L).map(i => (if (i <= 900) 0L else i, i))
      .toDF("b", "v")
    // hottest bucket holds 900 rows; 100-row partial target -> 9 splits
    assert(TimePartitioning.autoSplit(skewed, $"b", 100L) === 9)
    // uniform tiny data stays unsalted
    assert(TimePartitioning.autoSplit(skewed, $"v", 100L) === 1)
    assert(TimePartitioning.autoSplit(skewed.limit(0), $"b", 100L) === 1)
    // the auto-picked split produces identical results to unsalted agg
    val split = TimePartitioning.autoSplit(skewed, $"b", 100L)
    val salted = TimePartitioning.aggregateByBucketSalted(skewed, $"b", $"v",
        split, partial = Seq(sum($"v").as("ps")),
        finalAggs = Seq(sum($"ps").as("s")))
      .orderBy($"bucket").collect().toSeq
    val plain = skewed.groupBy($"b".as("bucket")).agg(sum($"v").as("s"))
      .orderBy($"bucket").collect().toSeq
    assert(salted === plain)
  }

  test("partitioned write produces one directory per bucket (reduce-side output)") {
    val out = java.nio.file.Files.createTempDirectory("graft_part_").toString
    val ev = Tables.events(spark, sf)
    graft.sources.Sinks.write(ev, out,
      bucket = Some(TimePartitioning.bucket($"ts", Day)), reducers = Some(4))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket=")).sorted
    val expected = ev.select(TimePartitioning.bucket($"ts", Day).as("b")).distinct()
      .collect().map(r => s"bucket=${r.getLong(0)}").sorted
    assert(dirs.toSeq === expected.toSeq)
    // round-trip row count survives
    assert(spark.read.parquet(out).count() === ev.count())
  }
}
