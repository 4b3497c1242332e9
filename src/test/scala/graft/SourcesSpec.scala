package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

/** Input sources + malformed-record modes (the semi-structured face of the
  * reference's `stop_on_invalid_record`; split planning is Spark's own —
  * `EmbulkInputFormat.java:37` analogue).
  */
class SourcesSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("_corrupt_record", StringType)))

  private def write(ext: String, lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_")
    java.nio.file.Files.write(dir.resolve(s"data.$ext"),
      lines.mkString("\n").getBytes)
    dir.toString
  }

  test("jsonl permissive keeps corrupt rows marked; dropmalformed removes") {
    val path = write("json", Seq(
      """{"id": 1, "name": "a"}""", """not json at all""",
      """{"id": 3, "name": "c"}"""))
    // Spark disallows querying only the corrupt-record column on raw
    // files; cache first (the documented pattern)
    val perm = Sources.jsonl(spark, path, schema).cache()
    assert(perm.count() === 3)
    assert(perm.where(perm("_corrupt_record").isNotNull).count() === 1)
    perm.unpersist()
    val drop = Sources.jsonl(spark, path, schema, mode = "DROPMALFORMED")
    assert(drop.count() === 2)
  }

  test("csv with header reads typed columns; malformed row dropped on demand") {
    val path = write("csv", Seq("id,name", "1,a", "not_a_long,b", "3,c"))
    val drop = Sources.csv(spark, path,
      StructType(schema.filter(_.name != "_corrupt_record")),
      mode = "DROPMALFORMED")
    // request the data columns: CSV parses lazily per-column, so a bare
    // count() would never hit the malformed long
    assert(drop.select("id", "name").collect().length === 2)
  }

  test("split-size knob reaches the scan (input task sizing)") {
    Sources.withMaxSplitBytes(spark, 1024 * 1024)
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") === "1048576")
    Sources.withMaxSplitBytes(spark, 128L * 1024 * 1024)
  }

  test("schema-evolution read merges drifted parquet drops by name") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_")
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/drop1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(s"$dir/drop2")
    val merged = Sources.parquetEvolving(spark, s"$dir/drop*")
    assert(merged.columns.toSet === Set("id", "name", "score"))
    val rows = merged.orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[Any]("score")))).toSeq
    assert(rows === Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }

  /** A read's schema and sorted rows, or its error's class and condition. */
  private def outcome(read: => DataFrame): Either[String, (StructType, Seq[String])] =
    try {
      val df = read
      Right((df.schema, df.collect().map(_.toString).sorted.toSeq))
    } catch {
      case e: Exception => Left(e.getClass.getName + (e match {
        case t: SparkThrowable => s" ${t.getCondition}"
        case _ => ""
      }))
    }

  /** `Sources.parquet` reads what `spark.read.parquet` reads, and takes
    * the footer fast path exactly when `fast`.
    */
  private def assertParity(path: String, fast: Boolean): Unit = {
    assert(Sources.footerSchema(spark, path).isDefined === fast, path)
    val ours = outcome(Sources.parquet(spark, path))
    assert(ours === outcome(spark.read.parquet(path)), path)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("parquet seam: a Spark-written directory reads from one footer") {
    import spark.implicits._
    val dir = s"${tmp("graft_seam_")}/t"
    spark.range(0, 300, 1, 3)
      .select($"id".cast("int").as("k"), ($"id" % 7).as("g"),
        concat(lit("s"), $"id").as("s"),
        ($"id" / 3).cast("decimal(12,2)").as("d"),
        timestamp_micros($"id" * 1000003L).as("ts"),
        to_timestamp_ntz(timestamp_micros($"id" * 7L)).as("ntz"),
        array(struct($"id".as("a"), lit("x").as("b"))).as("arr"),
        map(lit("m"), $"id").as("mp"))
      .write.parquet(dir)
    // Spark writes `k` REQUIRED; the read makes every column nullable
    assert(Files.list(Paths.get(dir)).toArray.length > 3)
    assertParity(dir, fast = true)
    assert(Sources.parquet(spark, dir).schema.forall(_.nullable))
  }

  test("parquet seam: a pyarrow file without Spark metadata, NTZ inference " +
      "on and off") {
    Seq("orders", "events", "documents").foreach { t =>
      assertParity(s"$sf/$t.parquet", fast = true)
    }
    // `events.ts` is TIMESTAMP(MICROS) not adjusted to UTC: the session's
    // inferTimestampNTZ decides its type, on both reads
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", on) {
        assertParity(s"$sf/events.parquet", fast = true)
      }
    }
  }

  test("parquet seam: TIMESTAMP(NANOS) with nanosAsLong on and off") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional int32 n; }")
    val dir = tmp("graft_nanos_")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(rows.newGroup().append("ts", 1700000000123456789L + i)
        .append("n", i))
    } finally w.close()
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", on) {
        // with it off the conversion fails: the seam leaves the read, and
        // its error, to Spark
        assertParity(dir, fast = on == "true")
      }
    }
  }

  test("parquet seam: partitions, summary files and globs fall back") {
    import spark.implicits._
    val base = tmp("graft_seam_fb_")
    val df = spark.range(0, 40, 1, 2)
      .select($"id", ($"id" % 3).as("p"), concat(lit("v"), $"id").as("v"))
    df.write.partitionBy("p").parquet(s"$base/hive")
    assertParity(s"$base/hive", fast = false)
    df.write.parquet(s"$base/summary")
    val part = Files.list(Paths.get(s"$base/summary")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(part, Paths.get(s"$base/summary/_metadata"))
    assertParity(s"$base/summary", fast = false)
    assertParity(s"$base/summary/part-*", fast = false)
    // a session that merges schemas reads every footer: Spark's own read
    withConf("spark.sql.parquet.mergeSchema", "true") {
      df.write.parquet(s"$base/merge")
      assertParity(s"$base/merge", fast = false)
    }
  }

  test("parquet seam: an empty directory and a missing path raise " +
      "Spark's errors") {
    val empty = tmp("graft_seam_empty_")
    val missing = s"$empty/nothing_here"
    Seq(empty, missing).foreach { p =>
      val ours = outcome(Sources.parquet(spark, p))
      assert(ours.isLeft, p)
      assert(ours === outcome(spark.read.parquet(p)), p)
    }
    assert(outcome(Sources.parquet(spark, empty)).left.toOption.get
      .contains("UNABLE_TO_INFER_SCHEMA"))
  }

  test("every batch parquet read in src/main goes through Sources") {
    // a direct read would plan a schema-inference job on every call; the
    // seam reads one footer instead. readStream is exempt.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val seam = root.resolve("graft/sources/Sources.scala")
    val direct =
      """\.read\s*\.\s*(?:parquet\(|format\([^)]*\)\s*\.\s*load\()""".r
    import scala.jdk.CollectionConverters._
    val found = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != seam)
      .flatMap(f => direct.findAllIn(Files.readString(f))
        .map(m => s"${root.relativize(f)}: $m"))
      .toSeq
    assert(found.isEmpty, found.mkString("\n"))
    assert(direct.findFirstIn(Files.readString(seam)).isDefined)
  }
}
