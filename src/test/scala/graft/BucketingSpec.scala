package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bucketed tables: pre-shuffled storage so repeated fact-fact joins on the
  * bucket key plan WITHOUT an exchange — the storage-level answer to the
  * reference's fixed reducer partitioning, and SURVEY §5's co-located join
  * rule. (At 100 TB this turns every recurring join/agg on the bucket key
  * from a full shuffle into a local merge.)
  */
class BucketingSpec extends AnyFunSuite with SparkFixture {

  test("join of two tables bucketed on the key plans no shuffle exchange") {
    // the in-memory catalog is fresh per JVM but spark-warehouse dirs
    // persist on disk — clear both layers
    Seq("li_b", "ord_b")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    // disable broadcast so the co-located (bucket-aligned) join shape is
    // what gets planned — at real scale neither side broadcasts anyway
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"), max(col("o_totalprice")).as("t"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      plan.take(1500))
    // the point of bucketing: no shuffle before the join OR the aggregation
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2500))
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("packed as-of probe against a bucketed dim: only the probe side shuffles or sorts") {
    import spark.implicits._
    graft.sources.Sinks.dropManagedTable(spark, "asof_dim_b_spec")
    val dim = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"))
    graft.operators.AsOfJoin
      .packDim(dim, $"user_id", $"t_us", Seq("event_id" -> $"event_id"))
      .repartition(8, col("_k"))
      .write.bucketBy(8, "_k").sortBy("_k")
      .mode("overwrite").saveAsTable("asof_dim_b_spec")
    val probe = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prevOrd = spark.conf.get(ordKey)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(ordKey, "true") // safe: one file per bucket by layout
    try {
      val out = graft.operators.AsOfJoin.asOfPacked(
        probe, col("user_id"), col("pt"), spark.table("asof_dim_b_spec"))
      out.collect()
      // AQE's toString appends the pre-adaptive "Initial Plan" section,
      // which double-counts nodes — assert on the FINAL plan section only
      val plan = out.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      // the streaming-microbatch contract: ONE exchange and ONE sort —
      // both on the probe side; the bucketed+sorted dim scan feeds the
      // join directly ("only the microbatch moves")
      def count(p: String) = plan.sliding(p.length).count(_ == p)
      assert(count("Exchange hashpartitioning") === 1, plan.take(2500))
      assert(count("Sort [") === 1, plan.take(2500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set(ordKey, prevOrd)
      spark.sql("DROP TABLE IF EXISTS asof_dim_b_spec")
    }
  }

  test("bucketed fp store: the incremental-dedup anti-join shuffles only the batch side") {
    import spark.implicits._
    graft.sources.Sinks.dropManagedTable(spark, "fp_store_plan_spec")
    // the store as incrementalDedupSinkBucketed lays it out: bucketed on
    // fp, batch_id as a plain column, bucket count == shuffle partitions
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.documents(spark, sf)
      .select(md5(col("text")).as("fp"), lit(0L).as("batch_id"))
      .write.bucketBy(buckets, "fp")
      .mode("overwrite").saveAsTable("fp_store_plan_spec")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Tables.documents(spark, sf).limit(500)
        .select(md5(col("text")).as("fp"), col("doc_id").as("id"))
        .groupBy($"fp").agg(min($"id").as("keep_id"))
      val corpus = spark.table("fp_store_plan_spec")
        .where($"batch_id" < 1L).select($"fp")
      val fresh = batch.join(corpus, Seq("fp"), "left_anti")
      fresh.collect()
      val plan = fresh.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      def count(p: String) = plan.sliding(p.length).count(_ == p)
      // ONE exchange: the batch's own fp agg — the corpus side reads
      // hash-partitioned off the bucketed scan ("only the batch moves")
      assert(count("Exchange hashpartitioning") === 1, plan.take(2500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS fp_store_plan_spec")
    }
  }

  test("bucketed snapshot diff: the full-outer reconciliation join plans no exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Queries.snapshotDiffBucketed(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2500))
      // same answer as the ad-hoc diff
      val adhoc = Queries.snapshotDiff(spark, sf).collect()(0)
      val bucketed = df.collect()(0)
      assert(adhoc === bucketed)
    } finally spark.conf
      .set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("asofEnrichSink auto-sizes its dim bucket count via bucketsFor") {
    // r16 ADVICE: the streaming dim must size like the batch twin
    // (asofPackedQ) — fixture-sized dims get few fuller buckets, not a
    // hardcoded 32 near-empty ones; the explicit parameter still overrides.
    import org.apache.spark.sql.catalyst.TableIdentifier
    val landing = java.nio.file.Files.createTempDirectory("graft_aes_in_")
    val outDir = java.nio.file.Files.createTempDirectory("graft_aes_out_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_aes_ck_")
    val dim = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"))
    val probe = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    probe.write.mode("overwrite").parquet(landing.toString)
    val stream = spark.readStream.schema(probe.schema)
      .parquet(landing.toString)
    try {
      graft.streaming.StreamingIngest.asofEnrichSink(stream, dim,
          "user_id", "pt", col("user_id"), col("t_us"),
          Seq("click_event_id" -> col("event_id")),
          outDir.toString, ckpt.toString, dimTable = "aes_dim_auto_spec")
        .awaitTermination()
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier("aes_dim_auto_spec"))
      val expected = GraftSession.bucketsFor(
        spark.sparkContext.defaultParallelism,
        dim.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong)
      assert(meta.bucketSpec.map(_.numBuckets).contains(expected),
        s"bucketSpec=${meta.bucketSpec}")
      // fixture session: 4 cores, tiny dim → the small-input branch
      assert(expected == math.min(spark.sparkContext.defaultParallelism, 8))
      assert(spark.read.parquet(s"$outDir/batch_id=0").count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS aes_dim_auto_spec")
      Seq(landing, outDir, ckpt)
        .foreach(p => graft.sources.Sinks.rmTree(p.toFile))
    }
  }
}
