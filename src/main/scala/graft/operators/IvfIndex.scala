package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-style ANN: partition the corpus into coarse cells, search only the
  * query's `nprobe` nearest cells — the scale path where hyperplane LSH
  * recall is too data-independent.
  *
  * Centroid selection is deterministic (the lowest-id `nCells` vectors act
  * as seeds — a k-means iteration can refine them, but seeded assignment
  * alone already gives the partition-pruning shape). At 100 TB: centroids
  * broadcast (~nCells × dims × 8 B), corpus shuffles once on `cell`, and a
  * probe touches `nprobe/nCells` of the data.
  */
object IvfIndex {

  /** Assign each vector to its max-cosine centroid cell (tie → lowest cell
    * id). `centroids` must be small (broadcast); returns (id, vec, cell).
    *
    * The argmax runs as two narrow HashAggregates over (id, cell, aff)
    * triples — a `max(struct)` formulation would silently demote to
    * SortAggregate (struct buffers aren't hash-aggregable, see
    * Compaction.scala), and a window would sort. The equality re-join on
    * the max is exact: the max is one of the compared double values, so
    * no epsilon is involved. The wide `vec` column never rides through
    * the ×nCells cross join — it joins back once at the end.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    // the ×nCells affinity cross-join feeds both the max agg and the
    // equality re-join — cached for this call only (withCached
    // materializes the assignment, then unpersists; a bare cache here
    // would pin one corpus×nCells frame per refine() round)
    val scored = vectors.select(col("id"), col("vec"))
      .crossJoin(broadcast(centroids.select(
        col("id").as("cell"), col("vec").as("c_vec"))))
      .select(col("id"), col("cell"),
        Similarity.cosine(col("vec"), col("c_vec")).as("aff"))
    Caching.withCached(scored) {
      val best = scored.groupBy(col("id")).agg(max(col("aff")).as("best"))
      val cellOf = scored.join(best, "id")
        .where(col("aff") === col("best"))
        .groupBy(col("id")).agg(min(col("cell")).as("cell"))
      vectors.select(col("id"), col("vec")).join(cellOf, "id")
    }
  }

  /** Deterministic coarse centroids: the `nCells` lowest-id vectors. */
  def seedCentroids(vectors: DataFrame, nCells: Int): DataFrame =
    vectors.select(col("id"), col("vec")).orderBy(col("id")).limit(nCells)

  /** Deterministic Lloyd (k-means) refinement of the seed centroids:
    * `rounds` iterations of assign → per-cell dimension means. Cells keep
    * their seed ids; a cell that loses every member keeps its previous
    * centroid. Refinement only moves cell *boundaries* — in-cell search
    * stays exact — but balanced cells mean balanced probe work at scale.
    * Each round is two shuffles (assignment agg + mean agg) over
    * (cell, dim, value) triples; `localCheckpoint` truncates the
    * per-round lineage.
    *
    * `orderedMeans = false` (production): means via `avg()` — O(1) agg
    * state, map-side partial aggregation, the only shape that holds at
    * corpus scale. Its accumulation ORDER is partitioning-dependent, so
    * two runs (or two engines) can differ in the last ulp — irrelevant to
    * clustering quality, fatal to a bit-exact replay: a one-ulp centroid
    * difference can flip a discrete argmax assignment downstream.
    * `orderedMeans = true` (oracle-gated demo): each (cell, dim) mean is
    * a sequential left fold over the members in id order — bit-identical
    * to any engine folding the same values in the same order (the DuckDB
    * oracle does exactly that) at the cost of O(cell members) agg state,
    * which is fine at demo scale and wrong at 100 TB.
    */
  def refine(vectors: DataFrame, nCells: Int, rounds: Int,
      orderedMeans: Boolean = false): DataFrame = {
    // widen to double once so refined means coalesce type-cleanly
    var cent = seedCentroids(vectors, nCells)
      .select(col("id"), transform(col("vec"), x => x.cast("double")).as("vec"))
      .localCheckpoint()
    for (_ <- 0 until rounds) {
      val assigned = assign(vectors, cent)
        .select(col("cell"), col("id"), posexplode(col("vec")).as(Seq("dim", "v")))
      val dimMeans =
        if (orderedMeans)
          assigned.groupBy(col("cell"), col("dim"))
            .agg(array_sort(collect_list(
              struct(col("id"), col("v").cast("double").as("v")))).as("vs"))
            .select(col("cell"), col("dim"),
              (aggregate(col("vs"), lit(0.0d),
                (a, s) => a + s.getField("v")) /
                size(col("vs")).cast("double")).as("m"))
        else
          assigned.groupBy(col("cell"), col("dim"))
            .agg(avg(col("v")).as("m"))
      val means = dimMeans
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("sm"))
        .select(col("cell").as("id"),
          transform(col("sm"), s => s.getField("m")).as("mean_vec"))
      cent = cent.join(means, Seq("id"), "left")
        .select(col("id"), coalesce(col("mean_vec"), col("vec")).as("vec"))
        .localCheckpoint()
    }
    cent
  }

  /** Each query's `nprobe` max-affinity cells (ties → lowest cell id).
    * Centroids broadcast; the per-query top-nprobe is a window over the
    * ×nCells affinity frame — nCells is small by construction, so each
    * query contributes nCells rows and the window partitions are tiny.
    */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qCells = queries.select(col("id").as("query_id"), col("vec").as("q_vec"))
      .crossJoin(broadcast(centroids.select(
        col("id").as("cell"), col("vec").as("c_vec"))))
      .select(col("query_id"), col("q_vec"), col("cell"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("aff"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("aff").desc, col("cell").asc)
    qCells.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cell"))
  }

  /** kNN label propagation at corpus scale: each query row takes the
    * `labelCol` of its max-cosine neighbor (ties → lowest neighbor id)
    * among its IVF cell candidates. This is the large-unlabeled-set
    * regime: unlike a broadcast-query crossJoin (only viable when the
    * query set is tiny), candidates come from a `cell` equi-join, so BOTH
    * sides may be corpus-sized.
    *
    * The centroid set is collected (nCells × dims scalars —
    * AQE-statistic-sized driver traffic by the IVF premise) and handed to
    * the native [[graft.functions.IvfNearestCell]] /
    * [[graft.functions.IvfProbeCells]] kernels as a plan reference
    * object, so cell assignment and probe selection are narrow codegen'd
    * projections — one kernel call over the matrix per row, no centroid
    * join at all, and — unlike the window formulation in `annTopK` — no
    * per-query shuffle to pick probe cells. (The r8 first cut inlined the
    * centroids as literal vectors inside an `array_max(struct(…))` tree;
    * that blew the codegen size limits once the projection shared a stage
    * with the join and dropped the corpus scan to interpreted eval —
    * 3.8 ms/row at the 100× probe. The kernels are the fix.) The whole
    * plan is: two narrow scans → one equi-join on `cell` → bounded-heap
    * TopKPerKey argmax, where each map partition emits at most one row
    * per query into the final exchange, never corpus×query scores.
    *
    * Tie semantics replicate `assign`/`probeCells` exactly: max affinity
    * with ties to the lowest cell id; probes ordered (aff desc, cell asc).
    *
    * Returns (query_id, neighbor_id, cos, pred_label). A query whose
    * probed cells are all empty gets no row — labeling recall is the
    * probe recall, exactly the IVF contract.
    */
  def knnLabel(queries: DataFrame, labeled: DataFrame, labelCol: String,
      nCells: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val centroids = seedCentroids(labeled, nCells)
    val isFloat = centroids.schema("vec").dataType
      .asInstanceOf[ArrayType].elementType == FloatType
    val rows = centroids.collect()
    val cellIds = rows.map(_.getLong(0))
    // float→double per element is exact, so the kernels' double matrix is
    // bit-equivalent to folding over the original floats
    val cents: Array[Array[Double]] = rows.map { r =>
      if (isFloat) r.getSeq[Float](1).map(_.toDouble).toArray
      else r.getSeq[Double](1).toArray
    }
    val indexed = labeled.select(col("id"), col("vec"), col(labelCol),
      graft.functions.IvfFunctions.nearestCell(col("vec"), cents, cellIds)
        .as("cell"))
    val probes = queries.select(col("id").as("query_id"),
      col("vec").as("q_vec"),
      explode(graft.functions.IvfFunctions.probeCells(col("vec"), cents,
        cellIds, nprobe)).as("cell"))
    val scored = probes.join(indexed, "cell")
      .select(col("query_id"), col("id").as("neighbor_id"),
        Similarity.cosine(col("q_vec"), col("vec")).as("cos"),
        col(labelCol).as("pred_label"))
    graft.plans.TopKPerKey.topK(scored, keys = Seq("query_id"),
      order = Seq("cos" -> "desc", "neighbor_id" -> "asc"), k = 1)
  }

  /** Top-k neighbors searching only each query's `nprobe` best cells. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int, nprobe: Int): DataFrame =
    annTopKWith(queries, corpus, k, nprobe, seedCentroids(corpus, nCells))

  /** [[annTopK]] against a caller-supplied centroid set — the entry point
    * for Lloyd-refined indexes ([[refine]]), where balanced cells mean
    * balanced probe work at scale. Same plan shape: centroids broadcast,
    * corpus shuffles once on `cell`, candidates from the cell equi-join.
    */
  def annTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int, centroids: DataFrame): DataFrame =
    annTopKIndexed(queries, assign(corpus, centroids), k, nprobe, centroids)

  /** [[annTopKWith]] against an ALREADY-ASSIGNED corpus (id, vec, cell) —
    * the query side of a PERSISTED index: build + [[assign]] once, land
    * centroids and assignments as parquet, and every later query batch
    * reloads them and pays only probe + candidate scoring (the
    * build-once / query-many lifecycle any production ANN service runs;
    * the float vectors and double centroids round-trip parquet exactly,
    * so results are bit-identical to the in-memory path — oracle-gated).
    */
  def annTopKIndexed(queries: DataFrame, indexed: DataFrame, k: Int,
      nprobe: Int, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = probeCells(queries, centroids, nprobe)

    val cand = probes.join(indexed, "cell")
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("q_vec"),
        col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
