package graft

import org.apache.spark.sql.functions._

/** Study main for the r16 verdict's task-1 experiment: q5's decade curve
  * (3.2× per 3× data at 300×, 4.0× per 3.33× at 1000× on the clean
  * multi-process basis) has a credible cause — the 45M→150M-group
  * per-order hash aggregate's per-task working set outgrowing every cache
  * level on a fixed 32-core box — but no experiment isolating per-task
  * group cardinality, the variable that decides whether a real cluster
  * (more tasks, same total data, SMALLER per-task key sets) flattens it.
  *
  * Arms (each rep cold-reset, ScaleSmoke's protocol; REPS via
  * SPARK_GRAFT_SCALE_REPS):
  *   - `plain`    — the registered q5 plan over the decade dir's parquet
  *                  scan. Scan-task size (and so per-task distinct
  *                  l_orderkeys in the partial agg) is steered from the
  *                  outside via SPARK_GRAFT_EXTRA_CONF=
  *                  "spark.sql.files.maxPartitionBytes=…" — halving it
  *                  doubles tasks and halves each task's key set.
  *   - `percust`  — q5 up to the per-customer aggregate (adds the orders
  *                  join + per-cust agg to `perorder`) — splits the join
  *                  tail the first decomposition exposed.
  *   - `perorder` — ONLY the per-order aggregate ([[Queries.q5PerOrder]]
  *                  noop-forced: scan → partial agg → exchange → final
  *                  agg). The 300× stage forensics put ~60% of q5's wall
  *                  here; timing it alone attributes arm deltas to the
  *                  stage instead of inferring through the join tail.
  *   - `bucketed` — q5 with lineitem PRE-BUCKETED on l_orderkey (the
  *                  E16/E34b layout): the per-order agg plans with ZERO
  *                  exchange and ONE agg level, per-task keys = total /
  *                  buckets. The one-time layout write is timed
  *                  separately (`layout_write`) — production amortizes it
  *                  across every orderkey-grouped consumer of the table.
  *   - `perorder_bucketed` — the isolated aggregate over that layout.
  *
  * The managed table lands in the session warehouse — point it at tmpfs
  * via SPARK_GRAFT_EXTRA_CONF="spark.sql.warehouse.dir=/dev/shm/…" so a
  * 15 GB layout doesn't hit the sandbox's pathological backing disk.
  * Bucket count: SPARK_GRAFT_Q5_BUCKETS, default `cores` (the
  * GraftSession.bucketsFor large-input rule).
  */
object Q5Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/dev/shm/graft_scale1000")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "1000").toInt
    val arms = sys.env.getOrElse("SPARK_GRAFT_Q5_ARMS", "plain,perorder")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = ScaleSmoke.scaleSession(cpus, factor)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS",
        GraftSession.initPartitionsFor(
          cpus, GraftSession.inputBytes(dir)).toString))
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm
    def cold(): Unit = operators.Caching.clearAll(spark)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def time(label: String, resetFirst: Boolean = true)(f: => Unit): Unit = {
      if (resetFirst) cold()
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime - t0) / 1e9
      results += label -> dt
      println(f"Q5PROBE $label%-28s $dt%8.2f s")
    }
    val bucketTable = "q5_li_b_probe"
    lazy val builtBuckets: Int = {
      val buckets = sys.env.get("SPARK_GRAFT_Q5_BUCKETS").map(_.toInt)
        .getOrElse(GraftSession.bucketsFor(
          spark.sparkContext.defaultParallelism,
          GraftSession.inputBytes(dir)))
      graft.sources.Sinks.dropManagedTable(spark, bucketTable)
      time("layout_write") {
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
          .repartition(buckets, col("l_orderkey"))
          .write.bucketBy(buckets, "l_orderkey")
          .mode("overwrite").saveAsTable(bucketTable)
      }
      buckets
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (arm <- arms; r <- 1 to reps) arm match {
      case "plain" =>
        time(s"plain#$r") {
          noop(Queries.q5RegionRevenue(spark, dir)) }
      case "perorder" =>
        time(s"perorder#$r") {
          noop(Queries.q5PerOrder(Tables.lineitem(spark, dir))) }
      case "percust" =>
        time(s"percust#$r") {
          noop(Queries.q5PerCust(spark, dir, Tables.lineitem(spark, dir))) }
      case "bucketed" =>
        val b = builtBuckets
        time(s"bucketed(b=$b)#$r") {
          noop(Queries.q5PlanOver(spark, dir, spark.table(bucketTable))) }
      case "perorder_bucketed" =>
        val b = builtBuckets
        time(s"perorder_bucketed(b=$b)#$r") {
          noop(Queries.q5PerOrder(spark.table(bucketTable))) }
      case other =>
        System.err.println(s"[q5probe] unknown arm: $other")
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + Bench.jnum(v) }
      .mkString("{", ",", "}")
    val conf = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .getOrElse("default")
    println(s"""{"metric":"q5probe","queries":$qs,"dir":"$dir","maxPartitionBytes":"$conf","master":"${spark.sparkContext.master}"}""")
    graft.sources.Sinks.dropManagedTable(spark, bucketTable)
    spark.stop()
  }
}
