package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** A row of the generated `events` table. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** A row of the generated `documents` table. */
final case class Doc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Seeded input generator. Every value is a pure hash of (row, seed), so
  * one seed always yields the same files, whatever the partitioning.
  *
  * The shapes follow the repo's `events` and `documents` test tables: the
  * same columns and types, a 30-day January 2024 event stream with JSON
  * `props`, and documents written from a small technical vocabulary with
  * per-language marker words and some e-mail / phone PII.
  */
object Gen {

  /** Bump when the generated content changes, so stale inputs rebuild. */
  val Version = 2

  /** Rebuild `dir` with `build` unless its marker already records `stamp`.
    * The marker is written after the last file commits, so an interrupted
    * build always rebuilds. Returns true when it built.
    */
  def ensure(dir: Path, stamp: String)(build: Path => Unit): Boolean = {
    val marker = dir.resolve("_graftbench_input")
    val current =
      if (Files.isRegularFile(marker)) Files.readString(marker).trim else ""
    if (current == stamp) false
    else {
      Files.createDirectories(dir.getParent)
      Fs.rmTree(dir)
      Files.createDirectories(dir)
      build(dir)
      Files.writeString(marker, stamp + "\n")
      true
    }
  }

  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform long in [0, n) from the seed and `parts`. */
  def uniform(n: Long, seed: Long, parts: Long*): Long =
    java.lang.Math.floorMod(parts.foldLeft(splitmix(seed))((h, p) => splitmix(h ^ p)), n)

  /** Ids as a seeded bijection of the row index onto [0, 2^31 - 1), so id
    * order carries no information about generation order.
    */
  def scrambledId(i: Long, seed: Long): Long = {
    val m = 2147483647L
    val a = 1L + uniform(m - 1, seed, 1L)
    java.lang.Math.floorMod(i * a + uniform(m, seed, 2L), m)
  }

  // ------------------------------------------------------------- events --

  val Jan2024Micros = 1704067200000000L
  val DayMicros = 86400000000L
  val Days = 30
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** The day that carries the hot share of the rows (0-based in January). */
  def hotDay(seed: Long): Int = uniform(Days.toLong, seed, 3L).toInt

  def event(i: Long, seed: Long, hotShare: Double): Event = {
    val day =
      if (uniform(1000000L, seed, i, 1L) < (hotShare * 1e6).toLong) hotDay(seed).toLong
      else uniform(Days.toLong, seed, i, 2L)
    val micros = Jan2024Micros + day * DayMicros + uniform(DayMicros, seed, i, 3L)
    val ts = new Timestamp(Math.floorDiv(micros, 1000L))
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    Event(scrambledId(i, seed), ts, uniform(20000L, seed, i, 4L),
      EventTypes(uniform(EventTypes.length.toLong, seed, i, 5L).toInt),
      uniform(100000L, seed, i, 6L) / 100.0,
      s"""{"k": ${uniform(100L, seed, i, 7L)}}""")
  }

  /** `rows` events; `hotShare` of them fall on [[hotDay]], the rest spread
    * uniformly over the 30 days.
    */
  def events(spark: SparkSession, out: Path, seed: Long, rows: Long,
      hotShare: Double, files: Int): Unit = {
    import spark.implicits._
    spark.range(0L, rows, 1L, files).as[Long].map(i => event(i, seed, hotShare))
      .write.mode("overwrite").parquet(out.resolve("events").toString)
  }

  // ---------------------------------------------------------- documents --

  val Vocab: IndexedSeq[String] = IndexedSeq("batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "join", "vector", "customer", "index", "node",
    "graph", "shard", "cache", "page", "log", "time", "user", "event", "file",
    "block", "a", "to")
  val Langs = IndexedSeq("en", "de", "fr", "es", "zh")
  /** Marker words per language; zh gets none. */
  val Markers: IndexedSeq[IndexedSeq[String]] = IndexedSeq(
    IndexedSeq("the", "of", "and", "is"), IndexedSeq("der", "und", "die", "ist"),
    IndexedSeq("le", "et", "les", "est"), IndexedSeq("el", "y", "los", "es"),
    IndexedSeq())
  val Sources = 20

  /** 0..4 = en 60%, de 15%, fr 10%, es 10%, zh 5%. */
  def langIdx(slot: Long, seed: Long): Int = {
    val r = uniform(100L, seed, slot, 20L)
    if (r < 60) 0 else if (r < 75) 1 else if (r < 85) 2 else if (r < 95) 3 else 4
  }

  /** The text of (slot, member): 20-59 words (5-12 for one slot in ten, the
    * low-quality tail) in the slot's language, 15% of them marker words,
    * plus an e-mail (15% of slots) or a phone number (10%). A word is
    * edited in family member `member` when its edit time is below
    * `member`, so member m+1 differs from member m by about one word.
    */
  def text(slot: Long, member: Int, seed: Long): String = {
    val n =
      if (uniform(10L, seed, slot, 10L) == 0) 5 + uniform(8L, seed, slot, 11L)
      else 20 + uniform(40L, seed, slot, 12L)
    val markers = Markers(langIdx(slot, seed))
    val sb = new StringBuilder
    var p = 1L
    while (p <= n) {
      if (p > 1) sb.append(' ')
      if (uniform(40L, seed, slot, p, 16L) < member) sb.append('w').append(p)
      else if (markers.nonEmpty && uniform(100L, seed, slot, p, 13L) < 15)
        sb.append(markers(uniform(4L, seed, slot, p, 14L).toInt))
      else sb.append(Vocab(uniform(Vocab.length.toLong, seed, slot, p, 15L).toInt))
      p += 1
    }
    val pii = uniform(100L, seed, slot, 23L)
    if (pii < 15) sb.append(s" mail user$slot@example.com")
    else if (pii < 25)
      sb.append(f" call +1 555 ${uniform(1000L, seed, slot, 21L)}%03d " +
        f"${uniform(10000L, seed, slot, 22L)}%04d")
    sb.toString
  }

  private def doc(i: Long, slot: Long, text: String, seed: Long): Doc =
    Doc(scrambledId(i, seed), text, Langs(langIdx(slot, seed)),
      s"src${uniform(Sources.toLong, seed, slot, 30L)}", text.length.toLong)

  /** The curation corpus: `rows` documents. Of them `verbatim` are exact
    * copies of a distinct document, `nearCopies` copies with one word
    * edited and `caseCopies` copies differing only in trailing punctuation
    * (equal once normalized); the rest are distinct. Also writes the eval
    * slice (`evalShare` of the distinct texts) that the decontamination
    * step screens against.
    */
  def corpus(spark: SparkSession, out: Path, seed: Long, rows: Long,
      verbatim: Double, nearCopies: Double, caseCopies: Double,
      evalShare: Double, files: Int): Unit = {
    import spark.implicits._
    val copies = verbatim + nearCopies + caseCopies
    val uniques = math.max(1L, (rows * (1.0 - copies)).toLong)
    spark.range(0L, rows, 1L, files).as[Long].map { i =>
      if (i < uniques) doc(i, i, text(i, 0, seed), seed)
      else {
        val slot = uniform(uniques, seed, i, 41L)
        val r = uniform(1000000L, seed, i, 40L) / 1e6 * copies
        if (r < verbatim) doc(i, slot, text(slot, 0, seed), seed)
        else if (r < verbatim + nearCopies) doc(i, slot, text(slot, 1, seed), seed)
        else doc(i, slot, text(slot, 0, seed) + " ...", seed)
      }
    }.write.mode("overwrite").parquet(out.resolve("documents").toString)
    spark.range(0L, uniques, 1L, 1).as[Long]
      .filter(i => uniform(1000000L, seed, i, 42L) < (evalShare * 1e6).toLong)
      .map(i => text(i, 0, seed)).toDF("text")
      .write.mode("overwrite").parquet(out.resolve("eval").toString)
  }

  /** The near-duplicate corpus: `rows` documents in families of `family`
    * members (a chain of one-word edits, so members more than a few steps
    * apart are linked only through the ones between), plus `verbatim`
    * exact copies of other documents.
    */
  def families(spark: SparkSession, out: Path, seed: Long, rows: Long,
      family: Int, verbatim: Double, files: Int): Unit = {
    import spark.implicits._
    val uniques = math.max(1L, (rows * (1.0 - verbatim)).toLong)
    spark.range(0L, rows, 1L, files).as[Long].map { i =>
      val slot = if (i < uniques) i else uniform(uniques, seed, i, 50L)
      val fam = slot / family
      doc(i, fam, text(fam, (slot % family).toInt, seed), seed)
    }.write.mode("overwrite").parquet(out.resolve("documents").toString)
  }
}

/** File helpers for inputs and outputs on the local filesystem. */
object Fs {
  def rmTree(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rmTree(c.toPath)))
    f.delete(); ()
  }

  /** Data files under `dir`: regular files whose name does not start with
    * `.` or `_` (checksums, markers and commit flags are not data).
    */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
        }.toList
      } finally s.close()
    }

  def bytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum
}
