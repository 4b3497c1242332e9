package graft

import org.apache.spark.sql.functions._

/** Throwaway-style stage profiler for the E66 triangle census — kept as a
  * dev main so plan work on the graph family has a measured baseline per
  * stage.
  */
object TriProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time(n: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"TRI $n%-12s ${(System.nanoTime - t0) / 1e9}%6.2f s")
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    time("warm") { spark.range(100000L).selectExpr("sum(id)").collect() }
    val edges = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb")),
        Seq("k"))
      .where(col("pa") < col("pb")).select(col("pa"), col("pb"))
    time("pairs") { edges.write.format("noop").mode("overwrite").save() }
    val e = edges.select(least(col("pa"), col("pb")).as("a"),
        greatest(col("pa"), col("pb")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    time("distinct") { e.write.format("noop").mode("overwrite").save() }
    time("ckpt") { e.localCheckpoint().count(); () }
    val te = operators.Triangles.triangleEdges(edges, col("pa"), col("pb"))
    time("triedges") { te.write.format("noop").mode("overwrite").save() }
    // vertexTriangles is eager (checkpointed vertex agg + edge-cache
    // release), so the construction call is the census — time it whole
    time("vertex") {
      operators.Triangles.vertexTriangles(edges, col("pa"), col("pb"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
