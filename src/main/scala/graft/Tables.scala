package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the driver's parquet table layout (`TESTDATA.md`):
  * `<dir>/<table>.parquet`. The reference's input-task surface
  * (`EmbulkInputFormat.java:37`) maps to Spark's file-source split planning —
  * a scan here is already split into per-file(-range) tasks.
  */
object Tables {
  /** One table, through [[graft.sources.Sources.parquet]]: a driver table is
    * one file (or a directory of files), so its schema comes from the one
    * footer Spark's inference would read, without the Spark job that
    * inference runs. Any other layout is Spark's own read.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; with `spark.sql.legacy.parquet.nanosAsLong=true` it
    * arrives as a long we convert to a µs timestamp (the engine's canonical
    * precision; the synthetic data is exact at µs). DuckDB reads the same
    * column as a µs TIMESTAMP, so both engines see identical values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        timestamp_micros(call_function("div", col("ts"), lit(1000L))))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
