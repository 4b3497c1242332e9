package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for additive aggregates.
  *
  * The 100 TB premise: a daily rollup over an append-only fact must not
  * rescan history when a new partition lands. Additive aggregates (count,
  * sum — and via [[graft.operators.Sketches]] / HLL, approx distincts)
  * compose from PARTIAL STATES: store per-day partials once, then fold
  * `new partials ∪ stored partials` — the delta pass scans ONLY the new
  * partitions (filter pushdown does the pruning), and the merge shuffles
  * the |days|-sized partial frame, never the fact.
  *
  * Partials here are (count, exact decimal sum) per group — the same
  * map-side-combine shapes Spark's own HashAggregate uses, made durable.
  */
object MatView {

  /** One partial-state row per `day_bucket`: row count + decimal(18,2)
    * revenue sum. Additive: any union of disjoint slices' partials
    * folds to the full answer with [[merge]].
    */
  def dailyPartials(fact: DataFrame): DataFrame =
    fact.groupBy(col("day_bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("rev")).as("rev_sum"))

  /** Fold partial frames (already written/stored + fresh delta) into the
    * final view. Decimal sums re-add exactly; the shuffle carries only
    * |days| × |stored generations| rows.
    */
  def merge(partials: DataFrame): DataFrame =
    partials.groupBy(col("day_bucket"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("rev_sum")).as("rev_sum"))

  /** The full demo pass: build the view's stored generation from the
    * `old` slice, write it to `mvDir` (the durable partial store), then
    * maintain it with the `delta` slice — reading the stored generation
    * back rather than re-aggregating old data. Returns the merged view.
    */
  def buildThenMaintain(spark: SparkSession, old: DataFrame,
      delta: DataFrame, mvDir: String): DataFrame = {
    dailyPartials(old).write.mode("overwrite").parquet(mvDir)
    val stored = graft.sources.Sources.parquet(spark, mvDir)
    merge(stored.unionByName(dailyPartials(delta)))
  }
}
