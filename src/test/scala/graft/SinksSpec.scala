package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TimePartitioning
import graft.sources.Sinks
import graft.streaming.StreamingIngest

class SinksSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("csv and jsonl sinks round-trip rows") {
    val df = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice").limit(100)
    val c = tmp("graft_csv_"); val j = tmp("graft_json_")
    Sinks.csv(df, c); Sinks.jsonl(df, j)
    assert(spark.read.option("header", "true").csv(c).count() === 100)
    assert(spark.read.json(j).count() === 100)
  }

  test("bucketed sink writes one directory per time bucket in any format") {
    val out = tmp("graft_sink_")
    Sinks.write(Tables.orders(spark, sf), out, format = "json",
      bucket = Some(TimePartitioning.bucket($"o_orderdate", TimePartitioning.Day)),
      reducers = Some(2))
    val dirs = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(dirs.nonEmpty)
    assert(spark.read.json(out).count() === Tables.orders(spark, sf).count())
  }

  test("composite partitioning lands a (day, status) layout in one " +
      "compound-key shuffle — each leaf co-located in one file") {
    val out = tmp("graft_comp_")
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "partitioning": {"type": "composite", "column": "o_orderdate",
        "unit": "day", "second_column": "o_orderstatus"},
      "reducers": 8
    }""")
    graft.pipeline.Pipeline.run(spark, cfg, out)
    // two-level layout: bucket=<day>/o_orderstatus=<s>/
    val buckets = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    val leaves = buckets.flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("o_orderstatus="))
    assert(leaves.nonEmpty)
    // the shuffle is on the FULL compound key, so every leaf's rows sit in
    // ONE reducer task → exactly one data file per leaf (unsalted)
    leaves.foreach { leaf =>
      val files = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${leaf.getName} has ${files.length} files — leaf not co-located")
    }
    // nothing lost or misplaced: readback equals source on the compound key
    val back = spark.read.parquet(out)
      .groupBy($"bucket".cast("long").as("bucket"), $"o_orderstatus").count()
    val want = Tables.orders(spark, sf)
      .groupBy(TimePartitioning.bucket($"o_orderdate", TimePartitioning.Day)
        .as("bucket"), $"o_orderstatus").count()
    assert(back.as[(Long, String, Long)].collect().toSet ===
      want.as[(Long, String, Long)].collect().toSet)
    // second_column is required for the composite type
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline.bucketCols(Tables.orders(spark, sf),
        cfg.partitioning.get.copy(secondColumn = None))
    }
    assert(e.getMessage.contains("second_column"))
  }

  test("composite + map_side_partition_split compose: leaves bounded by " +
      "the split factor, content identical to the unsalted layout") {
    // the r8 open interaction case: a compound (day, status) layout WITH
    // hot-bucket salting. The shuffle key is (bucket, status, salt), so a
    // leaf's rows spread over at most `split` reducer tasks — never more
    // files than that per leaf — while the directory layout and the row
    // content stay exactly the unsalted result.
    val split = 3
    val out = tmp("graft_comp_salt_")
    val cfg = graft.pipeline.ConfigJson.parse(s"""{
      "in": {"path": "$sf/orders.parquet"},
      "partitioning": {"type": "composite", "column": "o_orderdate",
        "unit": "day", "second_column": "o_orderstatus",
        "map_side_partition_split": $split},
      "reducers": 8
    }""")
    graft.pipeline.Pipeline.run(spark, cfg, out)
    val leaves = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("o_orderstatus="))
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      val files = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty && files.length <= split,
        s"${leaf.getName}: ${files.length} files for split=$split")
    }
    // salt widens parallelism only — the landed rows are the source rows
    val back = spark.read.parquet(out)
      .groupBy($"bucket".cast("long").as("bucket"), $"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("s"))
    val want = Tables.orders(spark, sf)
      .groupBy(TimePartitioning.bucket($"o_orderdate", TimePartitioning.Day)
        .as("bucket"), $"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("s"))
    assert(back.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq)
  }

  test("splitHotBuckets spreads a hot bucket of identical duplicate rows") {
    // the r5 verdict's case: a hot bucket made of verbatim duplicates. The
    // old all-column row-hash salt collided every duplicate onto ONE salt
    // (and paid an xxhash64 over full row content per row); the
    // partition-id salt must land them in multiple reducer files.
    val out = tmp("graft_salt_")
    val df = spark.range(4000).repartition(8)
      .select(lit("same-document-text").as("txt"))
    Sinks.write(df, out, bucket = Some(lit(100L)), reducers = Some(16),
      splitHotBuckets = 4)
    val files = new java.io.File(out, "bucket=100").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2,
      s"identical-row hot bucket stayed in ${files.length} file(s)")
    assert(spark.read.parquet(out).count() === 4000)
  }

  test("saltOn id column spreads a hot bucket from one input partition") {
    val out = tmp("graft_salt_id_")
    val df = spark.range(2000).select($"id", lit("dup").as("txt")).coalesce(1)
    Sinks.write(df, out, bucket = Some(lit(1L)), reducers = Some(8),
      splitHotBuckets = 4, saltOn = Some($"id"))
    val files = new java.io.File(out, "bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2,
      s"id-salted hot bucket stayed in ${files.length} file(s)")
    assert(spark.read.parquet(out).count() === 2000)
  }

  /** 40,000 rows in 8 map partitions: bucket 0 holds half of them, the
    * other half spreads over 30 cold buckets. The payload is hex, which
    * the shuffle codec barely compresses, so the shuffle's bytes stay
    * close to the plan's size estimate.
    */
  private def hotInput = spark.range(0, 40000, 1, 8).select($"id",
    when($"id" % 2 === 0, 0L).otherwise($"id" % 60).as("b"),
    substring(sha2($"id".cast("string"), 256), 1, 16).as("payload"))

  private def filesPerBucket(out: String): Map[Long, Int] =
    new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName.stripPrefix("bucket=").toLong ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  private def landed(out: String): Seq[String] =
    spark.read.parquet(out)
      .select($"bucket".cast("long"), $"id", $"b", $"payload")
      .collect().map(_.toString).sorted.toSeq

  test("splitHotBuckets without reducers rebalances on the bucket key: " +
      "one file per bucket until a bucket outgrows a 1/N share") {
    val split = 4
    val salted = tmp("graft_salted_")
    Sinks.write(hotInput, salted, bucket = Some($"b"), reducers = Some(8),
      splitHotBuckets = split)
    val want = landed(salted)
    val saltedFiles = filesPerBucket(salted).values.sum

    // (a) default advisory size: the whole write is far below it, so AQE
    // coalesces and splits nothing — every bucket is exactly one file
    val plain = tmp("graft_rebalance_")
    Sinks.write(hotInput, plain, bucket = Some($"b"), splitHotBuckets = split)
    val plainFiles = filesPerBucket(plain)
    assert(plainFiles.size === 31)
    assert(plainFiles.values.forall(_ == 1), plainFiles)
    assert(landed(plain) === want)

    // (b) advisory size below the write's 1/N share: the share caps it, so
    // only the partition holding the hot bucket splits, into at most ~N
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    val small = tmp("graft_rebalance_small_")
    try Sinks.write(hotInput, small, bucket = Some($"b"),
      splitHotBuckets = split)
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val smallFiles = filesPerBucket(small)
    assert(smallFiles.size === 31)
    assert(smallFiles(0L) >= 2 && smallFiles(0L) <= split, smallFiles)
    assert(smallFiles.values.forall(_ <= split), smallFiles)
    assert(smallFiles.values.sum < saltedFiles,
      s"rebalanced ${smallFiles.values.sum} files, salted $saltedFiles")
    assert(landed(small) === want)
  }

  test("splitHotBuckets must be at least 1") {
    val e = intercept[IllegalArgumentException] {
      Sinks.write(hotInput, tmp("graft_split0_"), bucket = Some($"b"),
        splitHotBuckets = 0)
    }
    assert(e.getMessage.contains("splitHotBuckets must be >= 1, got 0"))
  }

  test("watermark drops events later than the lateness bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[Long](spark)
    val stream = input.toDS().toDF("sec")
      .select(timestamp_seconds($"sec").as("ts"),
        lit("x").as("event_type"), lit(1.0).as("value"))
    val q = StreamingIngest.hourlyCounts(stream, watermark = "2 hours")
      .writeStream.format("memory").queryName("graft_wm_test")
      .outputMode("append").start()
    try {
      // events in hour-0 and hour-1, plus one at hour 5 that advances the
      // watermark to 3:00 → windows 0 and 1 close and are emitted
      input.addData(600L, 4200L, 5L * 3600L)
      q.processAllAvailable()
      val emitted1 = spark.table("graft_wm_test").count()
      assert(emitted1 === 2)
      // a late event inside already-closed hour-0 must be dropped
      input.addData(1200L)
      q.processAllAvailable()
      assert(spark.table("graft_wm_test").count() === emitted1)
      // closing hour-5 later must NOT include the dropped event
      input.addData(8L * 3600L)
      q.processAllAvailable()
      val rows = spark.table("graft_wm_test")
        .select($"hour_start", $"n").collect()
        .map(r => r.getTimestamp(0).toInstant.getEpochSecond / 3600 -> r.getLong(1))
        .toMap
      assert(rows(0L) === 1L) // hour-0 counted only the on-time event
      assert(rows(5L) === 1L)
    } finally q.stop()
  }
}
