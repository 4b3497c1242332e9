package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Per-group running sums — `sum(m) OVER (PARTITION BY group ORDER BY
  * order ROWS UNBOUNDED PRECEDING)` and `sum(m) OVER (PARTITION BY
  * group)` — without ever sorting one group in one task. Ranks, global
  * prefix sums, shard positions and ntile bands are all this scan:
  * a rank is the running sum of `lit(1L)`, an exclusive prior is the
  * running sum minus the row's own weight.
  *
  * A per-group window concentrates each group's FULL sort in a single
  * task — fine for many small groups, a wall for few wide ones (5 market
  * segments × 30M customers each, a handful of languages over a web
  * corpus, or the one group of a global prefix sum). The two-level form:
  *
  *   1. range-partition on (group ++ order): each task holds a contiguous
  *      slice of every group it sees, and all tasks sort in parallel;
  *   2. running sums per (partition, group) slice, materialized once
  *      (the layout feeds both the slice collect and the result);
  *   3. ONE bounded collect of the per-slice sums. Ranges are contiguous,
  *      so a group spans consecutive partitions and each internal
  *      partition boundary splits at most one group: there are at most
  *      |groups| + |partitions| − 1 slices, never |partitions × groups|;
  *   4. one in-memory scan of the collected slices, in partition order,
  *      into exclusive offsets and per-group totals;
  *   5. a broadcast of those rows joined back on (partition, group).
  *
  * The join matches the group NULL-SAFELY (`<=>`): a window's PARTITION
  * BY puts nulls in their own partition, so a null group must meet its
  * offset row — an equi-join would silently drop every null-group row.
  *
  * `order` must be a TOTAL order within each group (include a unique
  * tie-break key): equal keys split across a range boundary would
  * otherwise take partition-order-dependent running sums. Measures are
  * non-null long (or narrower integral) columns, so every partial sum is
  * exact. The collect grows with the group count, never with the data;
  * a caller with corpus-scale group cardinality wants the plain
  * per-group window, which already parallelizes many small groups.
  */
object Ranks {

  /** The default group bound of [[running]]: the slice collect and its
    * broadcast stay a few MB.
    */
  val MaxGroups: Int = 1 << 16

  /** `df` plus, for each `(name, measure)`, column `name` = the inclusive
    * running sum of `measure` in `order` within its group and
    * `name_total` = the group's total. `None` when the input has more
    * than `maxGroups` distinct groups: the slice collect stops at
    * `maxGroups + shuffle partitions` rows, nothing is broadcast, and the
    * materialized layout stays registered for the caller to release.
    */
  def runningByRange(df: DataFrame, group: Seq[String], order: Seq[String],
      measures: Seq[(String, Column)], maxGroups: Int): Option[DataFrame] = {
    require(measures.nonEmpty, "runningByRange: no measures")
    val spark = df.sparkSession
    val gs = group.indices
    val outs = measures.flatMap { case (m, _) => Seq(m, s"${m}_total") }
    requireFree("runningByRange", df,
      Seq("_pid", "_opid") ++ gs.map(i => s"_og$i") ++
        measures.indices.map(i => s"_off$i") ++ outs)
    val wLocal = Window.partitionBy(col("_pid") +: group.map(col): _*)
      .orderBy(order.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val parts = df.repartitionByRange((group ++ order).map(col): _*)
      .withColumn("_pid", spark_partition_id())
      .select(col("*") +: measures.map { case (m, c) =>
        sum(c).over(wLocal).as(m) }: _*)
      .localCheckpoint()
    val cap = maxGroups + spark.sessionState.conf.numShufflePartitions
    val sums = measures.map { case (_, c) => sum(c) }
    val slices = parts.groupBy(col("_pid") +: group.map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .limit(cap + 1).collect()
    val byGroup = slices.toSeq.groupBy(r => gs.map(i => r.get(1 + i)))
    if (slices.length > cap || byGroup.size > maxGroups) return None
    val sumsAt = measures.indices.map(1 + group.size + _)
    val offRows = byGroup.values.toSeq.flatMap { rows =>
      // range partitioning: ascending pid = ascending position in order
      val sorted = rows.sortBy(_.getInt(0))
      val totals = sumsAt.map(j => sorted.map(_.getLong(j)).sum)
      val acc = Array.fill(measures.size)(0L)
      sorted.map { r =>
        val row = Row.fromSeq((r.getInt(0) +: gs.map(i => r.get(1 + i))) ++
          measures.indices.flatMap(k => Seq(acc(k), totals(k))))
        sumsAt.zipWithIndex.foreach { case (j, k) => acc(k) += r.getLong(j) }
        row
      }
    }
    val offSchema = StructType(
      StructField("_opid", IntegerType, nullable = false) +:
        gs.map(i => StructField(s"_og$i", df.schema(group(i)).dataType)) ++:
        measures.zipWithIndex.flatMap { case ((m, _), k) => Seq(
          StructField(s"_off$k", LongType, nullable = false),
          StructField(s"${m}_total", LongType, nullable = false)) })
    val offs = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    val slice = gs.foldLeft(col("_pid") === col("_opid")) { (c, i) =>
      c && col(group(i)) <=> col(s"_og$i") }
    Some(parts.join(broadcast(offs), slice)
      .select(df.columns.toIndexedSeq.map(col) ++
        measures.zipWithIndex.flatMap { case ((m, _), k) => Seq(
          (col(m) + col(s"_off$k")).as(m), col(s"${m}_total")) }: _*))
  }

  /** [[runningByRange]] for callers whose groups are few by construction
    * (a global scan, segments, sources): more than [[MaxGroups]] groups
    * is an error, not a fallback.
    */
  def running(df: DataFrame, group: Seq[String], order: Seq[String],
      measures: Seq[(String, Column)]): DataFrame =
    runningByRange(df, group, order, measures, MaxGroups).getOrElse(
      throw new IllegalStateException(s"running: more than $MaxGroups " +
        s"groups of (${group.mkString(", ")}) — use a per-group window"))

  /** Rejects input columns that an operator would overwrite or drop. */
  private[operators] def requireFree(op: String, df: DataFrame,
      names: Seq[String]): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op: input columns collide with internal/output names: " +
        s"${clash.mkString(", ")} — rename them")
  }
}
