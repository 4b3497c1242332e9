package graft.pipeline

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON front-end for [[Pipeline.Config]] — the declarative face of the
  * reference's YAML executor config (`MapReduceExecutorTask.java:32-75`:
  * `partitioning {type: timestamp, column, unit, unix_timestamp_unit,
  * map_side_partition_split}`, `reducers`, `local_mode_input_tasks`,
  * `stop_on_invalid_record`). Field names follow the reference's config
  * keys so a user can port a config by hand, mechanically.
  */
object ConfigJson {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"config: $msg")

  /** An optional key: None when absent or null. A value of another JSON
    * type fails naming `key` — it never reads as the default, which for a
    * gate like `stop_on_invalid_record` would switch it off.
    */
  private def opt[T](v: JValue, key: String, kind: String)(
      read: PartialFunction[JValue, T]): Option[T] = v match {
    case JNothing | JNull => None
    case x => Some(read.applyOrElse(x, (_: JValue) => fail(s"$key must be $kind")))
  }
  private def str(v: JValue, key: String): Option[String] =
    opt(v, key, "a string") { case JString(s) => s }
  private def int(v: JValue, key: String): Option[Int] =
    opt(v, key, "an integer") { case JInt(i) if i.isValidInt => i.toInt }
  private def bool(v: JValue, key: String): Option[Boolean] =
    opt(v, key, "a boolean") { case JBool(b) => b }
  private def num(v: JValue, key: String): Option[Double] =
    opt(v, key, "a number") {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
    }
  private def arr(v: JValue, key: String): List[JValue] =
    opt(v, key, "an array") { case JArray(xs) => xs }.getOrElse(Nil)
  private def strs(v: JValue, key: String): List[String] =
    arr(v, key).map { case JString(s) => s; case _ => fail(s"$key must hold only strings") }
  private def strMap(v: JValue, key: String): Map[String, String] =
    opt(v, key, "an object") { case JObject(fs) => fs }.getOrElse(Nil)
      .map { case (k, x) => k -> required(str(x, s"$key.$k"), s"$key.$k") }.toMap
  private def required[T](o: Option[T], key: String): T =
    o.getOrElse(fail(s"$key is required"))

  /** A config object that records which keys the parser reads. [[closed]]
    * then rejects any key nobody read, so the accepted set is exactly the
    * keys the parser asks for and a misspelt optional key fails instead of
    * quietly taking the default.
    */
  private final class Obj(v: JValue) {
    private val seen = scala.collection.mutable.Set.empty[String]
    def apply(k: String): JValue = { seen += k; v \ k }
    def closed(where: String): Unit = v match {
      case JObject(fields) =>
        val unknown = fields.map(_._1).filterNot(seen)
        if (unknown.nonEmpty)
          fail(s"unknown $where key(s): ${unknown.mkString(", ")}")
      case _ => fail(s"$where must be an object")
    }
  }

  def parse(json: String): Pipeline.Config = {
    val root = JsonMethods.parse(json)
    val in = root \ "in"
    val inputPath = required(str(in \ "path", "in.path"), "in.path")
    val format = str(in \ "format", "in.format").getOrElse("parquet")

    val transforms = arr(root \ "filters", "filters").map { step =>
      val f = new Obj(step)
      val t = required(str(f("type"), "filters.type"), "filters.type")
      // every key is read as `<step>.<key>`, so a failure names it
      def s(k: String) = str(f(k), s"$t.$k")
      def rs(k: String) = required(s(k), s"$t.$k")
      def i(k: String) = int(f(k), s"$t.$k")
      val transform = t match {
        case "where" => Pipeline.Where(rs("predicate"))
        case "rename" => Pipeline.Rename(rs("from"), rs("to"))
        case "cast" => Pipeline.Cast(rs("col"), rs("to"))
        case "derive" => Pipeline.Derive(rs("name"), rs("expression"))
        case "select" => Pipeline.Select(strs(f("cols"), "select.cols"))
        case "dedup" => Pipeline.DedupRows(
          idCol = rs("id"), textCol = rs("column"),
          normalized = bool(f("normalized"), "dedup.normalized").getOrElse(false))
        case "lang_filter" => Pipeline.LangFilter(
          textCol = rs("column"), keep = strs(f("keep"), "lang_filter.keep"))
        case "quality_filter" => Pipeline.QualityFilter(
          textCol = rs("column"),
          minScore = required(num(f("min_score"), "quality_filter.min_score"),
            "quality_filter.min_score"))
        case "pii_redact" => Pipeline.RedactPii(textCol = rs("column"))
        case "nfc_clean" => Pipeline.NfcCleanCol(textCol = rs("column"))
        case "pseudonymize" => Pipeline.PseudonymizeCol(
          keyCol = rs("column"), salt = rs("salt"), bits = i("bits").getOrElse(64))
        case "dq_check" => Pipeline.DqCheck(
          rules = arr(f("rules"), "dq_check.rules").map { ruleJson =>
            val r = new Obj(ruleJson)
            def rule(k: String) = str(r(k), s"dq_check.rules.$k")
            val dq = Pipeline.DqRule(
              rule = required(rule("rule"), "dq_check.rules.rule"),
              column = required(rule("column"), "dq_check.rules.column"),
              value = rule("value"),
              refPath = rule("ref_path"),
              refColumn = rule("ref_column"))
            r.closed("dq_check.rules")
            dq
          },
          failOnViolation = bool(f("fail"), "dq_check.fail").getOrElse(false))
        case "source_quota" => Pipeline.SourceQuota(
          keyCol = rs("key"), textCol = rs("column"), idCol = rs("id"),
          k = i("k").getOrElse(50))
        case "decontaminate" =>
          // `id` was required while decontamination joined back on the doc
          // id; configs written then still pass it, so it is accepted and
          // ignored
          f("id")
          val eval = new Obj(f("eval"))
          val step = Pipeline.Decontaminate(
            textCol = rs("column"),
            evalPath = required(str(eval("path"), "decontaminate.eval.path"),
              "decontaminate.eval.path"),
            evalFormat = str(eval("format"), "decontaminate.eval.format")
              .getOrElse("parquet"),
            evalWhere = str(eval("where"), "decontaminate.eval.where"),
            n = i("ngram").getOrElse(8))
          eval.closed("decontaminate.eval")
          step
        case "quality_bands" => Pipeline.QualityBandKeep(
          stratumCol = rs("stratum"), textCol = rs("column"), idCol = rs("id"),
          buckets = i("buckets").getOrElse(4),
          // `keep` decides which rows survive — a typo'd or missing value
          // must fail loudly, never default to "keep nothing"
          keepBands = f("keep") match {
            case JArray(bs) if bs.nonEmpty => bs.map {
              case JInt(b) if b.isValidInt => b.toInt
              case _ => fail("quality_bands.keep must contain only integers")
            }
            case _ =>
              fail("quality_bands.keep must be a non-empty array of band numbers")
          })
        case other => fail(s"unknown filter '$other'")
      }
      f.closed(t)
      transform
    }

    val partitioning = (root \ "partitioning") match {
      case JNothing | JNull => None
      case p: JObject =>
        // the reference validates the partitioning block LOUDLY: unknown
        // keys never pass silently, and `timezone` accepts only UTC
        // (TimestampPartitioning.java:34-36,128-131 throws ConfigException
        // for anything else) — a silently-ignored timezone would bucket
        // every timestamp wrong by the offset
        val o = new Obj(p)
        def ps(k: String) = str(o(k), s"partitioning.$k")
        def pi(k: String) = int(o(k), s"partitioning.$k")
        ps("timezone").foreach { tz =>
          if (tz != "UTC") fail(s"partitioning.timezone must be UTC, got '$tz'")
        }
        val part = Pipeline.Partitioning(
        column = required(ps("column"), "partitioning.column"),
        unit = ps("unit").getOrElse("hour"),
        unixTimestampUnit = ps("unix_timestamp_unit"),
        mapSidePartitionSplit = pi("map_side_partition_split").getOrElse(1),
        // the reference's type-name dispatch (Partitioning.java:16-30);
        // "timestamp" is the default exactly as there
        ptype = ps("type").getOrElse("timestamp"),
        hashBuckets = pi("buckets").getOrElse(32),
        secondColumn = ps("second_column"))
        o.closed("partitioning")
        Some(part)
      case _ => fail("partitioning must be an object")
    }

    // output stage (the reference config's `out:` section): format +
    // free-form writer options (header, delimiter, compression, ...)
    val out = (root \ "out") match {
      case JNothing | JNull => Pipeline.Out()
      case o => Pipeline.Out(
        format = str(o \ "format", "out.format").getOrElse("parquet"),
        options = strMap(o \ "options", "out.options"))
    }

    Pipeline.Config(
      inputPath = inputPath,
      format = format,
      transforms = transforms,
      partitioning = partitioning,
      reducers = int(root \ "reducers", "reducers"),
      localModeMaxTasks = int(root \ "local_mode_input_tasks", "local_mode_input_tasks"),
      stopOnInvalidRecord = bool(root \ "stop_on_invalid_record",
        "stop_on_invalid_record").getOrElse(false),
      out = out,
      // the reference's `job_name` (MapReduceExecutorTask.java:20-22) and
      // `config` passthrough (ib:24-30, arbitrary Hadoop conf injection):
      // job_name labels the Spark jobs, `config` sets runtime SQL confs
      jobName = str(root \ "job_name", "job_name"),
      // `config_files` (MapReduceExecutorTask.java:24-26, merged at
      // MapReduceExecutor.java:207-218): a LIST of config files folded
      // into the job conf in order, with the inline `config` block
      // applied AFTER (last-wins, MapReduceExecutor.java:229-232). Ours
      // are JSON objects of string pairs — the engine's config dialect —
      // rather than Hadoop XML resources; a missing file fails loudly
      // with the reference's exact message contract, never a silent skip.
      sparkConf = configFiles(root) ++ strMap(root \ "config", "config"))
  }

  private def configFiles(root: JValue): Map[String, String] =
    (root \ "config_files") match {
      case JNothing | JNull => Map.empty
      case JArray(paths) =>
        paths.map {
          case JString(p) => p
          case _ => throw new IllegalArgumentException(
            "config: config_files must be an array of path strings")
        }.foldLeft(Map.empty[String, String]) { (acc, path) =>
          val f = new java.io.File(path)
          if (!f.isFile)
            throw new IllegalArgumentException(
              s"Config file '$path' does not exist")
          JsonMethods.parse(java.nio.file.Files.readString(f.toPath)) match {
            // the inline `config` block's rule: a non-string value fails
            // naming the file and key, never a silent drop
            case o: JObject => acc ++ strMap(o, s"config_files[$path]")
            case _ => throw new IllegalArgumentException(
              s"config: config file '$path' must be a JSON object of string values")
          }
        }
      case _ => throw new IllegalArgumentException(
        "config: config_files must be an array of path strings")
    }
}
