package graft

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  Sinks}
import graft.streaming.StreamingIngest

/** graft sessions set local file permissions in-process: a write forks no
  * `chmod` and lands the same names and modes as the stock local FS.
  */
class LocalFilesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Executable names of the processes `body` started, one per start, from
    * an in-process JFR recording of `jdk.ProcessStart`.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_proc_", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => new File(e.getString("command").split(" ").head).getName)
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  private def chmods(body: => Unit): Int =
    processStarts(body).count(_ == "chmod")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("out").toString

  /** 30 buckets of 100 rows through the partitioned sink, with the
    * hot-bucket split the partitioned load uses.
    */
  private def bucketed(out: String): Unit =
    Sinks.write(spark.range(3000).select($"id", ($"id" % 30).as("k")), out,
      bucket = Some($"k"), splitHotBuckets = 4)

  private def plain(out: String): Unit =
    spark.range(1000).toDF("id").write.parquet(out)

  test("the shared session resolves file: to graft's local filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf)
      .isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(new java.net.URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permission bits map to the same POSIX set chmod gives") {
    val s = (m: Int) => PosixFilePermissions.toString(NioRawLocalFileSystem.posix(m))
    assert(s(Integer.parseInt("755", 8)) === "rwxr-xr-x")
    assert(s(Integer.parseInt("644", 8)) === "rw-r--r--")
    assert(s(Integer.parseInt("421", 8)) === "r---w---x")
    assert(s(0) === "---------")
    // the stock raw FS forks one chmod per call without native IO; the
    // subclass forks none and leaves the same mode
    val f = Files.createTempFile("graft_mode_", ".bin")
    val perm = new FsPermission(Integer.parseInt("640", 8).toShort)
    def set(fs: RawLocalFileSystem): Int = {
      fs.initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
      Files.setPosixFilePermissions(f, NioRawLocalFileSystem.posix(0))
      try chmods(fs.setPermission(new Path(f.toUri), perm)) finally fs.close()
    }
    assert(set(new RawLocalFileSystem) === (if (NativeIO.isAvailable) 0 else 1))
    assert(set(new NioRawLocalFileSystem) === 0)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) ===
      "rw-r-----")
    Files.delete(f)
  }

  test("a 30-bucket Sinks.write and a plain parquet write fork no chmod") {
    assert(chmods(bucketed(tmp("graft_nochmod_b_"))) === 0)
    assert(chmods(plain(tmp("graft_nochmod_p_"))) === 0)
  }

  test("partitioned and plain outputs keep every name, _SUCCESS and each " +
      ".crc included, with dirs rwxr-xr-x and files rw-r--r--") {
    /** Every directory and file under `root`, root included. */
    def walk(root: File): Seq[File] =
      root +: Option(root.listFiles()).toSeq.flatten.sortBy(_.getName)
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    def mode(f: File) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
    /** The names of one directory's files, data files and checksums
      * paired: `.<name>.crc` beside every file, and nothing else.
      */
    def checkDir(d: File, wantData: Boolean): Unit = {
      val names = d.listFiles().filter(_.isFile).map(_.getName).toSet
      val (crcs, files) = names.partition(n => n.startsWith(".") && n.endsWith(".crc"))
      assert(crcs === files.map(n => s".$n.crc"), s"in $d")
      val data = files.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      if (wantData) assert(data.nonEmpty, s"no data file in $d")
      assert(files -- data -- Set("_SUCCESS") === Set.empty, s"in $d")
    }
    val b = new File(tmp("graft_names_b_")); bucketed(b.toString)
    val p = new File(tmp("graft_names_p_")); plain(p.toString)
    for (root <- Seq(b, p); f <- walk(root))
      assert(mode(f) === (if (f.isDirectory) "rwxr-xr-x" else "rw-r--r--"),
        s"$f")

    assert(b.list().toSet.filter(!_.startsWith("bucket=")) ===
      Set("_SUCCESS", "._SUCCESS.crc"))
    val buckets = b.listFiles().filter(_.isDirectory)
    assert(buckets.map(_.getName).toSet === (0 until 30).map(k => s"bucket=$k").toSet)
    checkDir(b, wantData = false)
    buckets.foreach { d =>
      assert(d.listFiles().forall(_.isFile))
      checkDir(d, wantData = true)
    }

    assert(p.listFiles().forall(_.isFile))
    assert(p.list().toSet.contains("_SUCCESS"))
    checkDir(p, wantData = true)
    assert(spark.read.parquet(b.toString).count() === 3000)
    assert(spark.read.parquet(p.toString).count() === 1000)
  }

  test("an AvailableNow parquet stream's checkpoint and sink fork no chmod") {
    val landing = tmp("graft_nochmod_in_")
    spark.range(500).select($"id", ($"id" % 5).as("k")).repartition(4)
      .write.parquet(landing)
    val out = tmp("graft_nochmod_out_")
    val ckpt = tmp("graft_nochmod_ck_")
    val stream = StreamingIngest.readParquetStream(spark, landing,
      spark.read.parquet(landing).schema)
    val starts = processStarts {
      val q = stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    assert(starts.count(_ == "chmod") === 0)
    // FileContext's link lookups on the checkpoint files fork no readlink
    assert(starts.count(_ == "readlink") === 0)
    assert(new File(s"$ckpt/offsets/0").isFile)
    assert(spark.read.parquet(out).agg(sum($"id")).as[Long].head() ===
      (0L until 500L).sum)
  }

  test("link status matches the stock raw FS for links, files and dirs, " +
      "and forks no readlink for a non-link") {
    val dir = Files.createTempDirectory("graft_link_")
    val file = Files.write(dir.resolve("f.bin"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("l.bin"), file)
    def open(fs: RawLocalFileSystem): RawLocalFileSystem = {
      fs.initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
      fs
    }
    val stock = open(new RawLocalFileSystem)
    val nio = open(new NioRawLocalFileSystem)
    try {
      // qualified (file:) paths, as FileContext passes them, and bare ones
      for (f <- Seq(link, file, dir);
           p <- Seq(new Path(f.toUri), new Path(f.toString)))
        assert(nio.getFileLinkStatus(p).toString ===
          stock.getFileLinkStatus(p).toString, s"$p")
      assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(processStarts(nio.getFileLinkStatus(new Path(file.toUri)))
        .count(_ == "readlink") === 0)
      intercept[java.io.FileNotFoundException](
        nio.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
    } finally {
      stock.close(); nio.close()
      Seq(link, file, dir).foreach(Files.delete)
    }
  }
}
