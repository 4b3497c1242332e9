package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-scoped cache lifecycle.
  *
  * Several operators reuse a heavy intermediate frame (shingle tables, LSH
  * band tables, score cross-joins) on more than one side of a self-join, and
  * caching it is the difference between computing that subtree once or 2-4
  * times. But a bare `.cache()` pins the frame in the session's storage
  * memory *forever* — in a long-lived service session every dedup call
  * would permanently rent executor memory, and later queries pay the
  * eviction churn (measured in round 3: a plain scan+agg ran 2.3 s isolated
  * vs 6.3 s after the dedup family had populated the cache).
  *
  * `withCached` scopes the cache to the operator call: the inputs are
  * cached, the operator's *result* is eagerly materialized via
  * `localCheckpoint` (so every consumer of the cached inputs has already
  * run), and the inputs are unpersisted before the result is returned. The
  * only residual memory is the checkpointed result itself — output-sized
  * (pair lists, signatures), not corpus-sized — and that is released by the
  * ContextCleaner when the result frame goes out of scope.
  */
object Caching {

  /** Cache `frames` for the duration of `body`, eagerly materialize the
    * result, then unpersist the inputs. `body` must be the *only* consumer
    * of the cached frames — anything lazily derived from them that escapes
    * `body` un-materialized would recompute from scratch.
    */
  def withCached(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    frames.foreach(_.cache())
    try body.localCheckpoint(true)
    finally frames.foreach(_.unpersist(false))
  }

  /** Run `body`, eagerly checkpoint the frame it returns, then unpersist
    * every RDD that `body` registered — checkpoints included, which
    * `Dataset.unpersist` cannot free. The one residual is the result's own
    * checkpoint, released by the ContextCleaner. A `None` body releases
    * its intermediates and materializes nothing. Assumes no concurrent
    * persist call races `body` (queries build plans one at a time).
    */
  def releasing(body: => Option[DataFrame]): Option[DataFrame] = {
    val sc = SparkSession.active.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    val registered = sc.getPersistentRDDs.keySet.diff(before)
    try out.map(_.localCheckpoint(true))
    finally registered.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Drop every cached frame and persisted RDD of the session, blocking —
    * the cold reset between timed queries.
    */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
