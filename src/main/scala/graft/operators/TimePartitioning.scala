package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Analysis-time guard for [[TimePartitioning.bucket]]: pass-through for
  * timestamp-like inputs, analysis ERROR for numeric ones. Without it a
  * long column (e.g. raw parquet nano-epochs under `nanosAsLong=true`)
  * silently rides `cast("timestamp")`'s interpret-as-SECONDS semantics and
  * every row garbage-buckets — the failure mode that red-flagged
  * ResumableWriteSpec in round 9. Identity in both eval and codegen, so it
  * costs nothing inside whole-stage codegen.
  */
case class RequireTimestampLike(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | TimestampNTZType | DateType | StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"TimePartitioning.bucket requires a timestamp-like column " +
      s"(timestamp, timestamp_ntz, date, or castable string); got " +
      s"${other.simpleString}. For unix-time long columns use " +
      s"bucketOfLong with an explicit unit (sec/milli/micro/nano) — a " +
      s"blind cast would interpret the long as SECONDS.")
  }
  override protected def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression)
      : RequireTimestampLike = copy(child = newChild)
}

/** Time-bucket partitioning — the reference's only built-in partitioner
  * (`TimestampPartitioning.java`), re-expressed as integer Catalyst
  * expressions on the shuffle key so the whole path stays in whole-stage
  * codegen and AQE can see/rebalance the shuffle.
  *
  * Semantics matched:
  *  - unit hour=3600s / day=86400s, bucket = epochSeconds / unit
  *    (`TimestampPartitioning.java:55-56,68-71`) — UTC only, like
  *    `TimestampPartitioning.java:128-131`;
  *  - long columns interpreted via unix_timestamp_unit ∈ {sec,milli,micro,
  *    nano}: toSeconds = v / unit (`TimestampPartitioning.java:89-106`);
  *  - `map_side_partition_split` skew mitigation: the reference round-robins
  *    each hot bucket across N reducer keys (`key=(bucket<<16)|rr`,
  *    `TimestampPartitioning.java:273-289`). For aggregation the salt is a
  *    deterministic row-hash mod N and aggregation is two-stage (partial per
  *    (bucket,salt), final per bucket) — associative aggs make the result
  *    split-invariant. The partitioned write (`Sinks.write`) rebalances on
  *    the bucket key when no reducer count is fixed, so AQE splits only a
  *    bucket above a 1/N share of the write; with a fixed count it salts
  *    every bucket N ways with [[salt]].
  *
  * All arithmetic is 64-bit integer division (`div`), never floating point,
  * so bucket ids are exact and cross-engine reproducible.
  */
object TimePartitioning {

  sealed abstract class BucketUnit(val seconds: Long)
  case object Hour extends BucketUnit(3600L)
  case object Day extends BucketUnit(86400L)
  object BucketUnit {
    def of(s: String): BucketUnit = s match {
      case "hour" => Hour
      case "day"  => Day
      case other  => throw new IllegalArgumentException(
        s"Unknown unit '$other'. Supported units are hour and day")
    }
  }

  /** `TimestampPartitioning.java:89-106`: factor to seconds. */
  sealed abstract class UnixUnit(val perSecond: Long)
  case object Sec extends UnixUnit(1L)
  case object Milli extends UnixUnit(1000L)
  case object Micro extends UnixUnit(1000000L)
  case object Nano extends UnixUnit(1000000000L)
  object UnixUnit {
    def of(s: String): UnixUnit = s match {
      case "sec" => Sec; case "milli" => Milli
      case "micro" => Micro; case "nano" => Nano
      case other => throw new IllegalArgumentException(
        s"Unknown unix_timestamp_unit '$other'. Supported units are sec, milli, micro, and nano")
    }
  }

  /** Exact 64-bit integer division (SQL `div` / IntegralDivide) — never
    * floating point, so bucket ids are exact and cross-engine reproducible.
    * Truncates toward zero, exactly like the reference's Java `/`
    * (`TimestampPartitioning.java:68-71`) and DuckDB's `//`, so pre-1970
    * timestamps bucket identically in all three.
    */
  private def floorDiv(a: Column, b: Long): Column =
    call_function("div", a, lit(b))

  /** Bucket id for a timestamp column: epochSeconds div unit. The cast
    * makes NTZ inputs work too (interpreted in the session zone — UTC per
    * the engine contract, `TimestampPartitioning.java:128-131`).
    */
  def bucket(ts: Column, unit: BucketUnit): Column = {
    val guarded = ColumnBridge.column(
      RequireTimestampLike(ColumnBridge.expression(ts)))
    floorDiv(unix_micros(guarded.cast("timestamp")),
      unit.seconds * 1000000L).cast("long")
  }

  /** Bucket id for a long unix-time column in the given unit. */
  def bucketOfLong(v: Column, unixUnit: UnixUnit, unit: BucketUnit): Column =
    floorDiv(floorDiv(v, unixUnit.perSecond), unit.seconds).cast("long")

  /** Deterministic salt in [0, split) — the Spark-shaped analogue of the
    * reference's `(bucket<<16)|roundRobin` (`TimestampPartitioning.java:286`).
    * Hash-based rather than round-robin so it is stable under re-execution
    * (Spark tasks can retry; a stateful counter would not be idempotent).
    */
  def salt(row: Column, split: Int): Column =
    pmod(xxhash64(row), lit(split.toLong))

  /** Partitioned aggregation: one shuffle on the bucket expr, map-side
    * partial agg = the reference's combiner. `aggs` must be associative.
    */
  def aggregateByBucket(df: DataFrame, bucketCol: Column,
      aggs: Seq[Column]): DataFrame =
    df.groupBy(bucketCol.as("bucket")).agg(aggs.head, aggs.tail: _*)

  /** Pick the skew split factor from the data instead of a static knob: one
    * map-side-combined count per bucket (the cheapest possible statistic —
    * its shuffle rows are one counter per bucket per task), then
    * `split = ceil(maxBucketRows / targetRowsPerPartial)`. AQE splits
    * skewed *join* partitions at runtime, but same-key aggregation rows
    * must meet in one task unless the agg is staged — which is exactly
    * what [[aggregateByBucketSalted]] does with this factor. The
    * reference's `map_side_partition_split` is the same idea as a
    * hand-tuned config (`TimestampPartitioning.java:45`).
    */
  def autoSplit(df: DataFrame, bucketCol: Column,
      targetRowsPerPartial: Long = 2000000L): Int = {
    val mx = df.groupBy(bucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    math.max(1L, (mx + targetRowsPerPartial - 1) / targetRowsPerPartial).toInt
  }

  /** Skew-split variant of [[aggregateByBucket]]: partial agg per
    * (bucket, salt) then final agg per bucket. With `split = 1` this planwise
    * degenerates to the single-stage agg; results are identical for any
    * split because partials are merged with the matching combiner.
    */
  def aggregateByBucketSalted(df: DataFrame, bucketCol: Column,
      saltSrc: Column, split: Int,
      partial: Seq[Column], finalAggs: Seq[Column]): DataFrame = {
    val staged = df
      .groupBy(bucketCol.as("bucket"), salt(saltSrc, split).as("_salt"))
      .agg(partial.head, partial.tail: _*)
      .drop("_salt")
    staged.groupBy(col("bucket")).agg(finalAggs.head, finalAggs.tail: _*)
  }
}
