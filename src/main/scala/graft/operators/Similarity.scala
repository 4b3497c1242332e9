package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2 L5/L6).
  *
  * Numeric contract (SURVEY §6): floats are widened to double, each product
  * is exact, and the sum is a *left fold* (`aggregate`), so the value is
  * bit-identical to the DuckDB oracle's `list_reduce` fold — any comparison
  * margin above ~1e-15 relative is then safe, including top-k rank cuts.
  *
  * Scale path: brute force is O(Q·N) and is kept as the correctness
  * baseline; [[lshCosinePairs]]/[[annTopKLsh]] bucket vectors by Rademacher
  * hyperplane sign-bits (native one-pass kernel) so candidate generation
  * shuffles on (table, bucket) keys and compares only within buckets.
  */
object Similarity {

  /** Left-fold dot product of two array<float/double> columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the native kernel
    * ([[graft.functions.CosineSim]]); bit-identical to
    * `dot(a,b) / (norm(a) * norm(b))` — same fold order, one pass.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** All-pairs cosine ≥ threshold (id_a < id_b). Exact; at scale use
    * [[lshCosinePairs]].
    *
    * Like the text near-dup family (Dedup.overTextGroups), identical
    * vectors collapse to one representative before the quadratic compare —
    * embedding corpora deduplicate exactly when documents do, and every
    * member of an identical-vector group scores the same cosine against
    * everything (intra-group pairs score cosine(v, v), computed once per
    * group — NOT assumed 1.0: the float norm product rounds). The
    * [[Dispatch]] probe skips the collapse on duplicate-free input.
    *
    * The group key is the vector VALUE itself (arrays group and join
    * natively): grouping on a 64-bit vector hash would silently merge two
    * distinct vectors on a hash collision — birthday-probable at the
    * billions-of-rows scale this engine targets — whereas value grouping
    * is collision-free by construction.
    */
  def cosinePairs(vectors: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val v = vectors.select(id.as("id"), vec.as("v"))
    overVectorGroups(v, threshold)(reps => cosinePairsRaw(reps, threshold))
  }

  /** Run a pair generator over distinct vectors only, expanding results
    * back through identical-vector groups — the embedding twin of
    * `Dedup.overTextGroups`, shared by the exact and the LSH generators
    * (verbatim duplicates are quadratic poison for BOTH: all-pairs compute
    * and LSH bucket collisions alike grow as dup_factor²; with the
    * collapse, compute runs on distinct vectors and only the *output*
    * expansion is dup-sized). Adaptive: the [[Dispatch]] probe skips the
    * machinery on duplicate-free input. Intra-group pairs score
    * cosine(v,v) computed once per group, not an assumed 1.0.
    */
  private def overVectorGroups(v: DataFrame, threshold: Double)(
      pairsOfReps: DataFrame => DataFrame): DataFrame =
    // the probe hashes each vector in the scan task: no vector exchange,
    // no cache on the duplicate-free branch (see Dispatch)
    if (!Dispatch.collapse("vector_groups", v, Seq(col("v")), Dispatch.margin))
      pairsOfReps(v)
    else Dispatch.overGroups(v, v.select(col("v").as("gk"), col("id"))) { g =>
      val selfCos = g.reps.select(col("id").as("rid"),
        cosine(col("v"), col("v")).as("cos"))
      g.expand(pairsOfReps(g.reps), "cos").unionByName(g.intraPairs
        .join(g.groups, "gk")
        .join(selfCos, "rid")
        .where(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), col("cos")))
    }

  private def cosinePairsRaw(v: DataFrame, threshold: Double): DataFrame = {
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Brute-force exact top-k cosine neighbors for each query row.
    * `queries`/`corpus` both expose (id, vec). Excludes self-matches by id.
    * Rank ties broken by neighbor id (total order ⇒ deterministic).
    *
    * Orientation matters: the CORPUS streams and the query set
    * broadcasts (the q8 form's shape), so the |q|·|corpus| scored pairs
    * materialize across the corpus partitions — the reverse join pins
    * every pair onto the query side's near-single partition, serializing
    * the kernel scan. TopKPerKey prunes to ≤ k rows per query BELOW the
    * exchange, so the shuffle carries |q|·k rows however large the
    * corpus; the rank window then runs on that bounded frame.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    val top = graft.plans.TopKPerKey.topK(scored, keys = Seq("query_id"),
      order = Seq("cos" -> "desc", "neighbor_id" -> "asc"), k = k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  // ------------------------------------------------------------------ LSH --

  /** `tables` deterministic sign-LSH bucket ids per vector (array<long>):
    * table t packs the sign bits of Rademacher planes
    * [t·nPlanes, (t+1)·nPlanes), weights from splitmix64 constants — see
    * [[graft.functions.LshBuckets]]. A native kernel because the
    * composable per-plane lambda form would put tables×nPlanes
    * higher-order lambdas in one projection (optimizer-hostile).
    */
  def lshBucketTables(vec: Column, nPlanes: Int, tables: Int,
      dims: Int): Column =
    graft.functions.LshFunctions.lshBuckets(vec, nPlanes, tables, dims)

  /** Cosine near-dup pairs at scale: bucket on hyperplane sign signatures,
    * generate candidates within buckets only, exact-verify with [[cosine]].
    * One narrow kernel map computes all `tables` signatures; candidates
    * shuffle as slim (id, id) pairs and re-join vectors for verification —
    * the corpus is never crossed.
    *
    * Recall contract (mirrors `dedup_simhash`'s documented shape): misses
    * are probabilistic, P(miss) = (1 − p^nPlanes)^tables with
    * p = 1 − angle/π per plane. The defaults (6 planes × 128 tables) are
    * sized for this corpus's adversarial regime — its true pairs sit at
    * cosine 0.46-0.60, i.e. ~56-62°, where p ≈ 0.65 and the per-pair miss
    * bound is 3.5e-5 at the measured worst pair (cos 0.4603); measured
    * misses are 0 across sf0.001/0.01/0.1, and the plane constants make
    * that deterministic per corpus. An oracle mismatch on new data is a
    * recall-budget breach, not a scoring bug — the exact verify step means
    * false positives are impossible. At a production near-dup threshold
    * (cosine ≥ 0.9, angle ≤ 26°, p ≥ 0.86) the same machinery needs only
    * ~12 planes × 8-16 tables for miss < 1e-9 at a fraction of the cost.
    */
  def lshCosinePairs(vectors: DataFrame, id: Column, vec: Column,
      threshold: Double, nPlanes: Int = 6, tables: Int = 128,
      dims: Int = 64): DataFrame = {
    val v0 = vectors.select(id.as("id"), vec.as("v"))
    // identical-vector collapse first: verbatim copies share every bucket
    // in every table, so LSH candidates would grow as dup_factor² without it
    overVectorGroups(v0, threshold)(v =>
      lshCosinePairsRaw(v, threshold, nPlanes, tables, dims))
  }

  /** Connectivity-sufficient near-dup EDGE set over the embedding graph —
    * the [[graft.operators.Dedup.minhashEdges]] twin for component
    * assignment: identical components (bit-identical min-label roots) to
    * [[lshCosinePairs]]'s full pair list, but identical-vector groups
    * contribute STAR edges (min-id rep → member, guarded by the same
    * cosine(v,v) ≥ threshold check the clique form applies — a zero
    * vector's NaN self-cosine keeps its copies disconnected there too)
    * and cross-group candidates ONE edge per REP pair. |edges| stays
    * linear in corpus size on duplicate-heavy data where the clique
    * expansion grows as dup_factor².
    */
  def lshCosineEdges(vectors: DataFrame, id: Column, vec: Column,
      threshold: Double, nPlanes: Int = 6, tables: Int = 128,
      dims: Int = 64): DataFrame = {
    val v0 = vectors.select(id.as("id"), vec.as("v"))
    if (!Dispatch.collapse("lsh_cosine_edges", v0, Seq(col("v")),
        Dispatch.margin))
      return lshCosinePairsRaw(v0, threshold, nPlanes, tables, dims)
        .select(col("id_a"), col("id_b"))
    Dispatch.overGroups(v0, v0.select(col("v").as("gk"), col("id"))) { g =>
      val repPairs = lshCosinePairsRaw(g.reps, threshold, nPlanes, tables,
        dims).select(col("id_a"), col("id_b"))
      val selfOk = g.reps
        .where(cosine(col("v"), col("v")) >= threshold)
        .select(col("id").as("rid"))
      repPairs.unionByName(g.stars.join(selfOk, "rid")
        .select(col("rid").as("id_a"), col("id").as("id_b")))
    }
  }

  private def lshCosinePairsRaw(v: DataFrame, threshold: Double,
      nPlanes: Int, tables: Int, dims: Int): DataFrame = {
    val banded = v.select(col("id"),
      posexplode(lshBucketTables(col("v"), nPlanes, tables, dims))
        .as(Seq("tbl", "bucket")))
    // v feeds the two verify joins, banded both self-join sides; both are
    // unpersisted once the verified pairs materialize
    Caching.withCached(v, banded) {
      val candidates = banded.as("a")
        .join(banded.as("b"), Seq("tbl", "bucket"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      candidates
        .join(v.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(v.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          cosine(col("v_a"), col("v_b")).as("cos"))
        .where(col("cos") >= threshold)
    }
  }

  /** ANN top-k via LSH candidate buckets, exact re-rank inside the union of
    * a query's buckets. Falls back to fewer than k results when buckets are
    * sparse — the caller can multi-probe by raising `tables`.
    */
  def annTopKLsh(queries: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 10, tables: Int = 6, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qb = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      posexplode(lshBucketTables(col("vec"), nPlanes, tables, dims))
        .as(Seq("tbl", "bucket")))
    val cb = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
      posexplode(lshBucketTables(col("vec"), nPlanes, tables, dims))
        .as(Seq("tbl", "bucket")))
    val cand = qb.join(cb, Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_vec"), col("neighbor_id"), col("c_vec"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long")).where(col("rank") <= k)
  }
}
