package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Output sinks — the reference's output-plugin stage (reducer-side output
  * in `EmbulkPartitioningMapReduce.java:186`, task-side in
  * `EmbulkMapReduce.java`). Each format is a Spark DataSource writer; graft
  * standardizes partitioned layout and file sizing.
  *
  * Every output file costs its directory, the file and its `.crc`, each with
  * a permission change. In a session built by `GraftSession.builder`,
  * `file:` paths go through [[NioLocalFileSystem]], which makes that change
  * in-process; the stock local filesystem forks a `chmod` for each (97 for
  * a 30-bucket write), so without it a partitioned write's time grows with
  * its file count rather than its rows. The output's names and modes are
  * the same either way.
  */
object Sinks {

  /** Write with optional bucket-directory partitioning — the partitioned
    * load's output contract (one directory per key). The shuffle key is
    * the FULL bucket key: `bucket` plus `extraBuckets`, the further
    * (name, expr) partition levels under it (the composite (time, column)
    * layout a curated corpus usually lands in — day + source), so rows
    * co-locate per leaf directory.
    *
    * `splitHotBuckets` = N > 1 is the reference's `map_side_partition_split`
    * skew mitigation (`TimestampPartitioning.java:273-289`,
    * `key=(bucket<<16)|rr`): a hot bucket may spread over up to N reducer
    * tasks, while `partitionBy` still lands every row in its bucket
    * directory. It takes one of two shapes:
    *  - `reducers` unset (and no `saltOn`): one rebalance on the bucket
    *    key, whose advisory partition size is the larger of the session's
    *    `spark.sql.adaptive.advisoryPartitionSizeInBytes` and the write's
    *    estimated size / N. AQE coalesces the cold buckets into balanced
    *    tasks and splits only a partition above that size; no partition
    *    holds more than the whole write, so a hot bucket lands in at most
    *    about N tasks and every other bucket in one. The N-way spread is
    *    decided from runtime sizes, not applied to every bucket.
    *  - `reducers` set, or `saltOn` given: the static salt. The shuffle
    *    key becomes (bucket key, salt) over exactly `reducers` tasks
    *    (Spark's rebalance cannot take both a partition count and an
    *    advisory size), so EVERY bucket spreads over up to N tasks. Salt
    *    source:
    *    - `saltOn = Some(col)`: hash only that cheap stable column (a
    *      unique id), so duplicates spread too, provided the column is
    *      distinct-per-row.
    *    - default: hash `spark_partition_id()` — O(1) per row, touches no
    *      data columns; duplicate rows spread at input-partition
    *      granularity, the per-mapper spreading the reference's
    *      round-robin counter gives. Stable under task retry as long as
    *      the upstream partitioning is deterministic, which holds for the
    *      file-scan pipelines this sink serves.
    */
  def write(df: DataFrame, path: String, format: String = "parquet",
      bucket: Option[Column] = None, reducers: Option[Int] = None,
      maxRecordsPerFile: Long = 5000000L,
      options: Map[String, String] = Map.empty,
      splitHotBuckets: Int = 1,
      saltOn: Option[Column] = None,
      extraBuckets: Seq[(String, Column)] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    require(splitHotBuckets >= 1,
      s"splitHotBuckets must be >= 1, got $splitHotBuckets")
    val (frame, partCols) = bucket match {
      case Some(b) =>
        val named = ("bucket" -> b) +: extraBuckets
        val withB = named.foldLeft(df) { case (d, (n, c)) =>
          d.withColumn(n, c)
        }
        val names = named.map(_._1)
        val shuffled = reducers match {
          case None if splitHotBuckets > 1 && saltOn.isEmpty =>
            rebalance(withB, names, splitHotBuckets)
          case _ =>
            val keyCols = names.map(col)
            val shuffleKeys =
              if (splitHotBuckets > 1)
                keyCols :+ graft.operators.TimePartitioning.salt(
                  saltOn.getOrElse(spark_partition_id()), splitHotBuckets)
              else keyCols
            reducers match {
              case Some(n) => withB.repartition(n, shuffleKeys: _*)
              case None => withB.repartition(shuffleKeys: _*)
            }
        }
        (shuffled, names)
      case None => (df, Nil)
    }
    val w = frame.write.format(format)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(options)
      .mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).save(path)
  }

  /** One `RebalancePartitions` on the columns `keys` whose advisory
    * partition size is max(session advisory size, estimated size / `split`),
    * so AQE splits only a partition larger than a 1/`split` share of the
    * write. The keys are the analyzed plan's own output attributes: the
    * logical node is built below the Column API, where an unresolved
    * column would fail at run time.
    */
  private def rebalance(df: DataFrame, keys: Seq[String],
      split: Int): DataFrame = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val attrs = keys.map(k => plan.output.find(_.name == k).get)
    val sessionSize = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val share = df.queryExecution.optimizedPlan.stats.sizeInBytes / split
    val advisory = share.max(BigInt(sessionSize)).min(BigInt(Long.MaxValue)).toLong
    ColumnBridge.ofRows(spark, RebalancePartitions(attrs, plan,
      optNumPartitions = None, optAdvisoryPartitionSize = Some(advisory)))
  }

  /** Drop a managed table AND its warehouse directory. The in-memory
    * catalog is fresh per JVM but `spark-warehouse/<table>` dirs persist
    * on disk, so `DROP TABLE IF EXISTS` alone leaves stale files that a
    * later `saveAsTable` with the same name trips over — every bucketed-
    * table site needs both layers cleared.
    */
  def dropManagedTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // resolve via Hadoop Path, not raw URI.getPath: the conf value may be
    // a file: URI or a bare relative path (the default `spark-warehouse`),
    // and raw getPath on the latter is null/CWD-ambiguous
    val wh = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath).getAbsoluteFile
    val d = new java.io.File(wh, table)
    if (d.exists()) rmTree(d)
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rmTree)
    }
    f.delete(); ()
  }

  def parquet(df: DataFrame, path: String, bucket: Option[Column] = None): Unit =
    write(df, path, "parquet", bucket)

  def csv(df: DataFrame, path: String, header: Boolean = true): Unit =
    write(df, path, "csv", options = Map("header" -> header.toString))

  def jsonl(df: DataFrame, path: String): Unit =
    write(df, path, "json")

  /** Small-file compaction: rewrite a hive-partitioned parquet layout so
    * each partition directory holds ONE file (up to `maxRecordsPerFile`).
    *
    * The small-file problem is THE operational tax of long-lived
    * partitioned tables at scale — every incremental append (streaming
    * microbatches, per-task reducer outputs, the reference's per-attempt
    * files) multiplies per-leaf file counts, and scan planning, footer
    * reads, and NameNode/object-store metadata all pay per FILE, not per
    * byte. Compaction is a pure layout rewrite: `repartition(partCol)`
    * puts every leaf's rows in exactly one task (collisions just mean one
    * task writes several leaves — still one file each), `partitionBy`
    * re-lands the identical directory contract, and content is
    * byte-preserved (the caller's oracle can prove it: same rows, same
    * values, fewer files). At 100 TB the unit of compaction is the
    * partition, so stale leaves can be rewritten incrementally — pass a
    * pre-filtered frame for that.
    */
  def compactPartitions(df: DataFrame, partCol: String, outPath: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(org.apache.spark.sql.functions.col(partCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCol)
      .parquet(outPath)
}
