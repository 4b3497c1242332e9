package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{TimeSeries, Triangles}

/** Specs for the E66/E67/E65b batch: degree-oriented triangle counting,
  * prefix-sum CUSUM, and the streaming Count-Min sink.
  */
class TrianglesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // ------------------------------------------------- triangle counting ----

  test("triangles on K4 and a path: known counts, exact-once discovery") {
    // K4 has C(4,3) = 4 triangles; the appended path 4-5-6 adds none
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val te = Triangles.triangleEdges(edges, col("a"), col("b"))
    val total = te.agg(sum(size(col("ws")))).collect()(0).getLong(0)
    assert(total == 4L)
    val pv = Triangles.vertexTriangles(edges, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every K4 vertex sits in C(3,2) = 3 triangles; path vertices in none
    (0L to 3L).foreach(v => assert(pv(v) == 3L))
    assert(!pv.contains(4L) && !pv.contains(6L))
    // vertexTriangles releases its edge checkpoint: only the result's own
    // (ContextCleaner-managed) checkpoint may remain
    val before = spark.sparkContext.getPersistentRDDs.size
    Triangles.vertexTriangles(edges, col("a"), col("b")).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 1, s"leaked $leaked persistent RDDs")
  }

  test("triangle count is orientation-independent: random graph vs naive") {
    // deterministic pseudo-random sparse graph incl. a high-degree hub
    val edges = ((1L to 60L).map(i => (0L, i))
      ++ (1L to 200L).map { i =>
        val a = (i * 7919L) % 50L; val b = (i * 104729L) % 50L; (a, b)
      }.filter { case (a, b) => a != b })
      .toDF("a", "b")
    val total = Triangles.triangleEdges(edges, col("a"), col("b"))
      .agg(sum(size(col("ws")))).collect()(0).getLong(0)
    // naive canonical count over the same distinct undirected edges
    val e = edges.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .where(col("x") =!= col("y")).distinct()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.y") === col("e2.x"))
      .join(e.as("e3"), col("e3.x") === col("e1.x")
        && col("e3.y") === col("e2.y"))
      .count()
    assert(total == naive && total > 0)
  }

  test("degree orientation bounds out-adjacency below the hub degree") {
    // star + clique: hub 0 touches everyone; its OUT-degree must stay
    // small because edges orient toward the higher-(degree, id) end
    val edges = ((1L to 100L).map(i => (0L, i))
      ++ (for { a <- 1L to 10L; b <- 1L to 10L if a < b } yield (a, b)))
      .toDF("a", "b")
    val e = edges.select(col("a"), col("b"))
    val te = Triangles.triangleEdges(e, col("a"), col("b"))
    // hub's out-edges: rows with u = 0; degree(0) = 100 is the max, so
    // the hub never orients outward — its adjacency never collects
    assert(te.where(col("u") === 0L).count() == 0L)
    val total = te.agg(sum(size(col("ws")))).collect()(0).getLong(0)
    // triangles: C(10,2) hub-clique wedges + C(10,3) pure clique
    assert(total == 45L + 120L)
  }

  test("sortedIntersect ≡ sort_array∘array_intersect on sorted-distinct arrays") {
    // the census invariant: nu/nv are sorted-distinct, so the merge walk
    // must reproduce the built-in composition bit-for-bit (incl. empties)
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { _ =>
      val a = rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(20)).sorted
      val b = rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(20)).sorted
      (a, b)
    } ++ Seq((List.empty[Long], List(1L, 2L)), (List(1L, 2L), List.empty[Long]),
      (List.empty[Long], List.empty[Long]))
    val df = rows.toDF("a", "b")
    val diff = df.select(
        graft.functions.JaccardFunctions.sortedIntersect(col("a"), col("b"))
          .as("x"),
        sort_array(array_intersect(col("a"), col("b"))).as("y"))
      .where(col("x") =!= col("y"))
    assert(diff.count() == 0)
    // interpreted (non-codegen) path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.SortedIntersect(
      Literal(Array(1L, 3L, 5L, 9L)), Literal(Array(3L, 4L, 5L, 10L)))
    assert(e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq == Seq(3L, 5L))
  }

  test("sorted-walk expressions reject nullable array elements at analysis") {
    // the merge walks read primitive longs (getLong) and would interpret a
    // null slot as garbage — containsNull=true inputs must fail LOUDLY at
    // analysis time, not diverge silently (r16 ADVICE). Seq[Option[Long]]
    // encodes as array<bigint> with containsNull=true.
    val df = Seq(
      (Seq(Option(1L), Option(3L)), Seq(Option(3L), None))
    ).toDF("a", "b")
    for (f <- Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column](
      graft.functions.JaccardFunctions.sortedIntersect,
      graft.functions.JaccardFunctions.sortedJaccard,
      graft.functions.JaccardFunctions.sortedOverlap)) {
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(f(col("a"), col("b"))).collect()
      }
      assert(err.getMessage.contains("non-nullable elements"), err.getMessage)
    }
    // the happy path is untouched: non-nullable elements still analyze
    val ok = Seq((Seq(1L, 3L), Seq(3L, 4L))).toDF("a", "b")
      .select(graft.functions.JaccardFunctions.sortedIntersect(
        col("a"), col("b")).as("x"))
      .head().getSeq[Long](0)
    assert(ok == Seq(3L))
  }

  // ------------------------------------------------------------- CUSUM ----

  test("cusum matches the sequential recurrence on a shifted series") {
    // regime shift: level 10 for 10 days, then level 20
    val xs = Seq.fill(10)(10L) ++ Seq.fill(10)(20L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("bucket", "x")
    val out = TimeSeries.cusum(df, col("bucket"), col("x"))
      .orderBy(col("bucket")).collect()
    // reference: the textbook recurrence in scaled units y = n*x - T
    val n = xs.size.toLong; val t = xs.sum
    var su = 0L; var sd = 0L
    xs.zip(out).foreach { case (x, row) =>
      val y = n * x - t
      su = math.max(0L, su + y); sd = math.max(0L, sd - y)
      assert(row.getLong(2) == su, s"up at ${row.getLong(0)}")
      assert(row.getLong(3) == sd, s"dn at ${row.getLong(0)}")
    }
    // the upper side must be maximal at the end of the raised regime
    assert(out.last.getLong(2) == out.map(_.getLong(2)).max)
  }

  test("cusum is zero on a constant series") {
    val df = (0L to 20L).map(i => (i, 7L)).toDF("bucket", "x")
    TimeSeries.cusum(df, col("bucket"), col("x")).collect().foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L)
    }
  }

  // ------------------------------------------------- streaming CMS sink ----

  test("summed per-batch partial grids equal the batch sketch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scms_spec_")
    val items = (1 to 30).flatMap(i => Seq.fill(90 / i)(s"w$i"))
    val df = items.toDF("t")
    df.where(length(col("t")) <= 2).write.mode("overwrite")
      .parquet(s"$tmp/landing")
    df.where(length(col("t")) > 2).write.mode("append")
      .parquet(s"$tmp/landing")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("t STRING")
    graft.streaming.StreamingIngest.cmsSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/landing"),
        "t", s"$tmp/cells", checkpointDir = Some(s"$tmp/ckpt"),
        availableNow = true)
      .awaitTermination()
    val summed = spark.read.parquet(s"$tmp/cells")
      .groupBy(col("j"), col("b")).agg(sum(col("cnt")).as("cnt"))
    val whole = graft.operators.CountMin.sketch(df, col("t"))
    assert(summed.exceptAll(whole).isEmpty && whole.exceptAll(summed).isEmpty)
    // more than one batch actually committed (per-file triggers)
    assert(spark.read.parquet(s"$tmp/cells")
      .select(input_file_name()).distinct().count() > 1)
  }
}
