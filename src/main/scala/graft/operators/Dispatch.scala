package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The verbatim-duplicate collapse seam. Web corpora are dominated by
  * verbatim copies, and every pair generator and window build of the
  * dedup, similarity and span families pays per copy — so each one first
  * asks [[collapse]] whether running over one representative per content
  * group is worth it, and takes either its raw branch or its collapsed
  * branch. Both branches produce identical results; the decision picks
  * performance only.
  *
  * The probe is one scalar agg: a row count plus an HLL++ distinct
  * estimate of `xxhash64(key)` (rsd 0.02, a few KB of registers per
  * task, merged map-side — no distinct-key exchange, so a dup-free corpus
  * never shuffles its text or vectors just to pick a branch). xxhash64
  * never returns NULL, so a NULL key counts in both n and d̂. Every
  * decision prints one stderr line,
  * `[span-dispatch] <op>: collapse|raw (n=<rows>, d~=<estimate>)`, so a
  * verify or bench run records which branch it exercised.
  */
object Dispatch {

  /** HLL++ relative standard deviation of every probe. */
  private val rsd = 0.02

  /** Default margin: collapse pays at any real duplication, so this is
    * the estimator-noise floor (5σ of `rsd`). An exact `n == d̂` test
    * would misroute every dup-free corpus (d̂ ≈ n ± 2% virtually never
    * equals n). Corpora within ~rsd of the margin may take either
    * branch; at ~margin× duplication the two branches cost about the
    * same by construction.
    */
  private[graft] val margin = 1.1

  /** The decision from (row count, approximate distinct count): collapse
    * when the measured duplication factor n / d̂ clears `margin`. An
    * empty input has nothing to collapse and takes the raw branch.
    */
  private[graft] def worthIt(n: Long, dApprox: Long,
      margin: Double): Boolean =
    n > 0 && n >= margin * dApprox

  /** Probe `frame`'s duplication on `key`, log the branch, and return
    * whether `op` should collapse.
    */
  private[graft] def collapse(op: String, frame: DataFrame, key: Seq[Column],
      margin: Double): Boolean = {
    val r = frame.agg(count(lit(1)).as("n"),
      approx_count_distinct(xxhash64(key: _*), rsd).as("d")).head()
    val (n, d) = (r.getLong(0), r.getLong(1))
    val worth = worthIt(n, d, margin)
    System.err.println(s"[span-dispatch] $op: " +
      (if (worth) "collapse" else "raw") + s" (n=$n, d~=$d)")
    worth
  }

  /** One representative per content group. `members` is (gk, id): the
    * group key of every row; `rows` is (id, payload…); `groups` maps
    * each gk to its min id `rid`, and `reps` is the rows of those ids.
    */
  private[operators] final class Groups private[Dispatch] (rows: DataFrame,
      members: DataFrame) {
    val groups: DataFrame =
      members.groupBy(col("gk")).agg(min(col("id")).as("rid"))
    val reps: DataFrame = rows.join(groups.select(col("rid").as("id")), "id")

    /** Rep pairs (id_a, id_b, `scoreCol`) expanded to every cross-group
      * member pair, each carrying its rep pair's score — exact because
      * the score is a function of the group's shared content.
      */
    def expand(repPairs: DataFrame, scoreCol: String): DataFrame = {
      val gkOf = groups.select(col("rid"), col("gk"))
      repPairs
        .join(gkOf.select(col("rid").as("id_a"), col("gk").as("gk_a")), "id_a")
        .join(gkOf.select(col("rid").as("id_b"), col("gk").as("gk_b")), "id_b")
        .join(members.select(col("gk").as("gk_a"), col("id").as("ma")), "gk_a")
        .join(members.select(col("gk").as("gk_b"), col("id").as("mb")), "gk_b")
        .select(least(col("ma"), col("mb")).as("id_a"),
          greatest(col("ma"), col("mb")).as("id_b"), col(scoreCol))
    }

    /** (gk, id_a, id_b): every intra-group member pair, id_a < id_b. */
    def intraPairs: DataFrame =
      members.select(col("gk"), col("id").as("id_a"))
        .join(members.select(col("gk"), col("id").as("id_b")), "gk")
        .where(col("id_a") < col("id_b"))

    /** (gk, id, rid): every non-representative member with its rep — the
      * star edges that connect a group for component assignment.
      */
    def stars: DataFrame =
      members.join(groups, "gk").where(col("id") =!= col("rid"))
  }

  /** Run a collapsed branch: `members` is cached for the call only, the
    * result is materialized eagerly, and the cache is released before
    * returning (see [[Caching.withCached]]).
    */
  private[operators] def overGroups(rows: DataFrame, members: DataFrame)(
      body: Groups => DataFrame): DataFrame =
    Caching.withCached(members)(body(new Groups(rows, members)))
}
