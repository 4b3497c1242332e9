package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting by degree-ordered adjacency
  * intersection — the graph-density / clustering-coefficient census
  * (co-occurrence cliques, near-dup transitivity, community cores).
  *
  * Scale shape: every edge is ORIENTED from its lower-(degree, id)
  * endpoint to the higher, so each vertex's out-adjacency is bounded by
  * ~√(2m) no matter how skewed the degree distribution — a hub with a
  * million neighbors keeps them as IN-edges and its `collect_list` stays
  * small (the reason the canonical a<b orientation is wrong at scale:
  * a low-id hub would collect its whole neighborhood and the wedge join
  * would be quadratic in hub degree). Each triangle {x,y,z} with ranks
  * r(x)<r(y)<r(z) is then found EXACTLY once, at oriented edge (x,y),
  * as z ∈ N⁺(x) ∩ N⁺(y): per-edge sorted-array intersection inside the
  * join projection — the Θ(wedges) pair stream never materializes (41M
  * wedge rows vs 1.9M actual triangles on the sf0.1 co-purchase graph).
  * Shuffles: the distinct-edge agg (map-side collapse of pair
  * instances), two degree joins, one adjacency groupBy, two probe
  * joins — all on vertex/edge keys, nothing quadratic.
  */
object Triangles {

  /** Per-edge triangles over undirected `edges` (two columns, any
    * orientation, self-loops ignored): returns (u, v, ws) rows where
    * (u, v) is the degree-oriented edge and `ws` the sorted third
    * vertices closing a triangle over it — u ranks lowest and v middle
    * of every {u, v, w}, so per-vertex attribution explodes ONLY actual
    * triangles.
    *
    * `maxBroadcastEdges` gates the degree/adjacency broadcast on the
    * MEASURED distinct-edge count (the count is ~free: the edge frame is
    * already eagerly checkpointed). The adjacency frame holds one entry
    * per oriented EDGE — Σ out-degrees = m, only its per-ROW width is
    * √(2m)-bounded — so an unconditional broadcast hint is an
    * executor-OOM at real graph scale; below the bound (default 4M
    * edges ≈ tens of MB) the broadcast keeps the edge stream from
    * shuffling at all, which measures ~1.6× faster on the bench graph.
    * This is the same runtime-statistic dispatch the library uses in
    * `Dedup.clusters` (driver union-find vs iterative) and
    * `overTextGroups` (dup-collapse on/off).
    */
  def triangleEdges(edges: DataFrame, aCol: Column, bCol: Column,
      maxBroadcastEdges: Long = 4000000L): DataFrame = {
    // the distinct-edge frame feeds the degree agg, both orientation
    // joins and the measured-size broadcast gate: materialized once via
    // localCheckpoint, NOT Dataset.persist — the cache manager's columnar
    // CachedBatches measured 1.9× on the whole sf0.1 census. Lazy
    // per-edge contract (tests/profiling entry): the checkpoint is freed
    // by the ContextCleaner; vertexTriangles releases it deterministically
    val e = edges
      .select(least(aCol, bCol).as("a"), greatest(aCol, bCol).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val small = e.count() <= maxBroadcastEdges
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient a→b when (d(a), a) < (d(b), b); ties impossible on the id.
    // Above the edge bound every probe is a plain key equi-join
    // (co-partitioned hash shuffles on a/b/u/v, AQE free to convert a
    // measured-small side) — nothing quadratic, nothing pinned to one
    // executor's memory.
    val o = e
      .join(hint(deg.select(col("v").as("a"), col("d").as("da"))), "a")
      .join(hint(deg.select(col("v").as("b"), col("d").as("db"))), "b")
      .select(
        when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"))
    val adj = o.groupBy(col("u").as("w0"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    o
      .join(hint(adj.select(col("w0").as("u"), col("nbrs").as("nu"))),
        Seq("u"))
      .join(hint(adj.select(col("w0").as("v"), col("nbrs").as("nv"))),
        Seq("v"), "left")
      .select(col("u"), col("v"),
        // nu/nv are sorted-distinct (sort_array over distinct oriented
        // edges), so the codegen merge walk IS sort_array∘array_intersect
        // — minus the boxed HashSet array_intersect builds per edge and
        // the redundant re-sort of an already-ordered result
        // typedlit keeps containsNull=false — `array().cast(...)` types its
        // elements nullable, which the merge walk's analysis gate rejects
        graft.functions.JaccardFunctions.sortedIntersect(col("nu"),
          coalesce(col("nv"), typedLit(Array.empty[Long]))).as("ws"))
  }

  /** Per-vertex triangle membership counts: for edge (u, v) closing k
    * triangles, u and v each participate in k and every third vertex w
    * in one — a SINGLE narrow role explode per edge (u and v carry k,
    * each w carries 1), one vertex agg; only actual triangles explode.
    *
    * Eager through [[Caching.releasing]]: the vertex-sized agg is
    * materialized so the edge-sized checkpoint behind it is released HERE
    * instead of renting storage memory for the session lifetime — the
    * census is a one-shot scan, and the 300× probes measured in-JVM rep
    * drift consistent with exactly this kind of retained intermediate.
    */
  def vertexTriangles(edges: DataFrame, aCol: Column, bCol: Column,
      maxBroadcastEdges: Long = 4000000L): DataFrame =
    Caching.releasing(Some {
      val k = size(col("ws")).cast("long")
      triangleEdges(edges, aCol, bCol, maxBroadcastEdges)
        .where(size(col("ws")) > 0)
        .select(explode(concat(
          array(struct(col("u").as("part"), k.as("n")),
            struct(col("v").as("part"), k.as("n"))),
          transform(col("ws"),
            w => struct(w.as("part"), lit(1L).as("n"))))).as("r"))
        .groupBy(col("r.part").as("part")).agg(sum(col("r.n")).as("n_tri"))
    }).get
}
