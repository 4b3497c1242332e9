package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Final training-data export: a deterministic global shuffle of the
  * corpus plus balanced shard assignment — the step between a curated
  * corpus and the files a trainer's data loader reads. Training wants the
  * corpus in pseudo-random order (no source/time runs) and split into
  * equal shards; both must be reproducible from a seed across reruns and
  * engines.
  *
  * Shuffled order = sort by `md5(seed || ':' || id)` (id tie-break):
  * seeded, deterministic, and replayable cross-engine — the DuckDB oracle
  * computes the identical bytes. (A Spark-only deployment can swap in
  * `xxhash64` for cheaper keys; the operator's structure doesn't change.)
  *
  * Shard = global rank in shuffled order, round-robin mod `nShards` —
  * EXACT balance (sizes differ by ≤ 1), unlike hash-mod sharding whose
  * skew is only bounded in expectation. The global rank never sorts
  * globally: it is the one-group [[Ranks.runningByRange]] scan over the
  * shuffle key, independent of partition boundaries, so the oracle's
  * single-window formulation is the exact spec.
  */
object TrainExport {

  /** Shuffle `df` by `seed` and assign balanced shards. Output: all input
    * columns plus `shuffle_pos` (0-based position in the shuffled order)
    * and `shard` (0 until nShards).
    */
  def shuffleShard(df: DataFrame, idCol: String, seed: Long,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    Ranks.requireFree("shuffleShard", df, Seq("_sk"))
    val keyed = df.withColumn("_sk",
      md5(concat(lit(s"$seed:"), col(idCol).cast("string"))))
    Ranks.running(keyed, Nil, Seq("_sk", idCol), Seq("_pos" -> lit(1L)))
      .withColumn("shuffle_pos", col("_pos") - 1L)
      .withColumn("shard", pmod(col("shuffle_pos"), lit(nShards.toLong)))
      .drop("_sk", "_pos", "_pos_total")
  }
}
