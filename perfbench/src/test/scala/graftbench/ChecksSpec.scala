package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession.builder("local[2]", 2)
    .config("spark.sql.warehouse.dir", "target/checks-warehouse")
    .getOrCreate()
  private lazy val dir = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "checks")
  }

  override def afterAll(): Unit = {
    Fs.rmTree(dir)
    spark.stop()
  }

  test("the output digest ignores row order and file layout") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"t$i"))
    rows.toDF("id", "t").repartition(1).write.parquet(dir.resolve("a").toString)
    rows.reverse.toDF("id", "t").repartition(5).write.parquet(dir.resolve("b").toString)
    rows.updated(7, (8L, "changed")).toDF("id", "t")
      .write.parquet(dir.resolve("c").toString)
    val d = (p: String) => LoadPartitioned.digest(spark, dir.resolve(p))
    assert(d("a") == d("b"))
    assert(d("a") != d("c"))
    assert(d("a").startsWith("200:"))
  }

  test("8-grams are taken over the normalized words") {
    import spark.implicits._
    val g = Seq("One two, THREE four five six seven eight nine", "too short here")
      .toDF("text").select(Workloads.grams(col("text"), 8).as("g"))
      .as[Seq[String]].collect()
    assert(g(0) == Seq("one two three four five six seven eight",
      "two three four five six seven eight nine"))
    assert(g(1).isEmpty)
  }

  test("normalized fingerprints ignore case and punctuation only") {
    import spark.implicits._
    val fp = Seq("Spark joins, fast!", "spark  joins fast", "spark joins slow")
      .toDF("text").select(Workloads.normalizedFingerprint(col("text")))
      .as[String].collect()
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("the input marker rebuilds only on a new stamp") {
    var builds = 0
    val in = dir.resolve("input")
    val build = (p: java.nio.file.Path) => {
      builds += 1; Files.writeString(p.resolve("f"), "x"); ()
    }
    assert(Gen.ensure(in, "seed=1")(build))
    assert(!Gen.ensure(in, "seed=1")(build))
    assert(Gen.ensure(in, "seed=2")(build))
    assert(builds == 2)
  }
}
