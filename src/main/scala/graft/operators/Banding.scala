package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality banding — exact `ntile(n) OVER (PARTITION BY stratum ORDER BY
  * keys)` without a per-stratum single-task sort.
  *
  * The composable window formulation plans one task per stratum value that
  * sorts the stratum's ENTIRE row set — fine when strata are many and
  * small, a stalled multi-TB stage when they are few and huge (languages
  * over a web corpus: a handful of strata covering 100 TB). This operator
  * takes the global rank and the stratum size from the two-level range
  * scan [[Ranks.runningByRange]] (rank = running sum of 1, n = its group
  * total); the band falls out of the closed-form ntile bucket arithmetic.
  *
  * Bucket arithmetic (SQL-standard ntile, bucket sizes differ by ≤ 1,
  * larger buckets first): with n rows and b buckets, q = n div b,
  * r = n mod b, the first r buckets hold q+1 rows. A rank in the
  * `r*(q+1)` head maps to `(rank-1) div (q+1) + 1`, the tail to
  * `r + (rank - r*(q+1) - 1) div q + 1`. When n < b, q = 0 and every rank
  * sits in the head (r = n), so the q-division branch never evaluates —
  * each row gets its own band, exactly the window semantics.
  *
  * The output equals the single-window formulation row-for-row when
  * `orderCols` totally orders each stratum, so the DuckDB ntile window
  * doubles as this operator's oracle.
  *
  * The few-large-strata premise is ENFORCED, not assumed: `maxStrata` is
  * the scan's group bound, which rides on the slice collect the scan needs
  * anyway — no separate cardinality probe executing the upstream pipeline
  * once extra. Past it, high-cardinality strata route to the plain window
  * formulation, the right plan for that shape (many strata parallelize
  * across window tasks).
  *
  * Storage: the scan's materialized layout is released before returning
  * ([[Caching.releasing]]) instead of renting storage memory for the
  * session lifetime; the banded result is eagerly checkpointed.
  */
object Banding {

  def ntileByStratum(df: DataFrame, stratumCol: String,
      orderCols: Seq[String], buckets: Int,
      out: String = "band", maxStrata: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    Ranks.requireFree("ntileByStratum", df, Seq(out))
    val b = lit(buckets.toLong)
    val rank = col("_rank")
    val n = col("_rank_total")
    val q = call_function("div", n, b)
    val r = n % b
    val head = r * (q + lit(1L))
    val band = when(rank <= head,
        call_function("div", rank - 1L, q + 1L) + 1L)
      .otherwise(r + call_function("div", rank - head - 1L, q) + 1L)
    Caching.releasing(
      Ranks.runningByRange(df, Seq(stratumCol), orderCols,
          Seq("_rank" -> lit(1L)), maxStrata)
        .map(_.select(df.columns.toIndexedSeq.map(col) :+ band.as(out): _*)))
      .getOrElse(df.withColumn(out, ntile(buckets).over(
        Window.partitionBy(col(stratumCol))
          .orderBy(orderCols.map(col(_).asc): _*)).cast("long")))
  }
}
