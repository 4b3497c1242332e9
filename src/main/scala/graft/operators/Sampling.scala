package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation.
  *
  * Random `sample()` is irreproducible across runs/engines; these operators
  * hash row *content* instead, so the same row is kept everywhere, every
  * time — the property a 100 TB pipeline needs for resumable/incremental
  * runs. Sampling is a stateless map over the scan: no shuffle, no driver
  * state, and the md5 basis replays in any engine.
  */
object Sampling {

  /** First hex nibble of md5(key) as an integer in [0, 16). */
  def hashNibble(key: Column): Column =
    conv(substring(md5(key), 1, 1), 16, 10).cast("int")

  /** Keep a row iff hashNibble(key) < cutoff — i.e. an exact cutoff/16
    * content-deterministic sample.
    */
  def hashSample(df: DataFrame, key: Column, cutoff: Column): DataFrame =
    df.where(hashNibble(key) < cutoff)

  /** Stratified variant: per-stratum cutoffs (stratum value → keep x/16),
    * default for strata not listed. Rates stay exact n/16 fractions so the
    * sample is replayable; finer rates = more nibbles.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
      cutoffs: Seq[(String, Int)], default: Int): DataFrame = {
    val cutoff = cutoffs.foldRight(lit(default): Column) {
      case ((value, c), els) => when(stratum === value, lit(c)).otherwise(els)
    }
    hashSample(df, key, cutoff)
  }

  /** Temperature-flattened source mixture: draw `totalN` rows with
    * per-source quotas ∝ `isqrt(count_s)` (the α = 0.5 temperature that
    * keeps big sources from drowning small ones — the standard
    * multi-corpus mixing move), WITHOUT floating-point apportionment:
    * quotas come from integer largest-remainder division, so the split is
    * bit-reproducible in any engine. A quota larger than its source keeps
    * the whole source (sampling is without replacement; output may then
    * be < totalN).
    *
    * Scale shape: the quota table is DIMENSION-sized (one row per
    * source) — its windows and the one `max(quota)` driver scalar are
    * O(sources), never corpus work. The corpus-side cut heap-prunes
    * through [[graft.plans.TopKPerKey]] at the max quota BELOW the
    * shuffle, then ranks only the ≤ maxQuota × sources survivors.
    */
  def temperatureMixture(df: DataFrame, srcCol: String, idCol: String,
      hash: Column, totalN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = col(srcCol)
    val w = df.groupBy(src).agg(count(lit(1)).as("cnt"))
      .withColumn("wt", floor(sqrt(col("cnt"))).cast("long"))
    val tot = w.agg(sum(col("wt")).as("W"))
    val app = w.crossJoin(broadcast(tot))
      .withColumn("base",
        call_function("div", lit(totalN) * col("wt"), col("W")))
      .withColumn("rem", (lit(totalN) * col("wt")) % col("W"))
    val sumBase = app.agg(sum(col("base")).as("SB"))
    // single-task window over the dimension-sized frame (documented above)
    val quotas = app.crossJoin(broadcast(sumBase))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, src.asc)))
      .withColumn("quota", col("base") +
        when(col("rk") <= lit(totalN) - col("SB"), 1L).otherwise(0L))
      .select(src, col("quota"))
    val maxQ = quotas.agg(max(col("quota"))).head().getLong(0)
    val keyed = df.select(col(idCol), src, hash.as("_h"))
    val pruned = graft.plans.TopKPerKey.topK(keyed, Seq(srcCol),
      order = Seq("_h" -> "asc", idCol -> "asc"), k = maxQ.toInt)
    pruned
      .withColumn("rn", row_number().over(
        Window.partitionBy(src).orderBy(col("_h").asc, col(idCol).asc)))
      .join(broadcast(quotas), srcCol)
      .where(col("rn") <= col("quota"))
      .select(col(idCol), src)
  }

  /** Weighted SYSTEMATIC sampling (probability-proportional-to-size):
    * lay the units out on the cumulative-weight line in `orderKeys`
    * order and take one unit at every `step = ⌈total/k⌉` weight units —
    * each unit's inclusion count is exactly the number of grid points in
    * its [prior, prior+w) interval, so E[hits] = w/step ∝ weight, with
    * the classic systematic-sampling variance reduction over independent
    * PPS draws — and, unlike them, fully DETERMINISTIC (no RNG: the grid
    * phase is fixed at 0).
    *
    * All arithmetic is non-negative 64-bit integer — ⌈prior/step⌉ via
    * div(prior+step−1, step), so truncating (Spark `div`) and flooring
    * (DuckDB `//`) division agree. The cumulative line and its total are
    * the one-group [[Ranks.runningByRange]] scan. Rows with w ≥ step
    * can be sampled multiple times (`n_hits` > 1) — the standard PPS
    * convention for oversized units.
    */
  def weightedSystematic(df: DataFrame, orderKeys: Seq[String],
      weight: Column, k: Long): DataFrame = {
    require(k > 0, "k must be positive")
    val keyCols = orderKeys.map(col)
    val narrow = df.select(keyCols :+ weight.cast("long").as("_w"): _*)
    Ranks.running(narrow, Nil, orderKeys, Seq("_cum" -> col("_w")))
      .withColumn("_prior", col("_cum") - col("_w"))
      .withColumn("_step",
        call_function("div", col("_cum_total") + lit(k - 1), lit(k)))
      .withColumn("_first", call_function("div",
        col("_prior") + col("_step") - 1, col("_step")) * col("_step"))
      .where(col("_first") < col("_prior") + col("_w"))
      .withColumn("n_hits", call_function("div",
        col("_prior") + col("_w") - 1, col("_step"))
        - call_function("div",
          col("_prior") + col("_step") - 1, col("_step")) + 1)
      .select(keyCols ++ Seq(col("_w").as("weight"), col("n_hits")): _*)
  }
}
