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

  def parse(json: String): Pipeline.Config = {
    val root = JsonMethods.parse(json)
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s); case _ => None
    }
    def int(v: JValue): Option[Int] = v match {
      case JInt(i) => Some(i.toInt); case _ => None
    }
    val in = root \ "in"
    val inputPath = str(in \ "path").getOrElse(
      throw new IllegalArgumentException("config: in.path is required"))
    val format = str(in \ "format").getOrElse("parquet")

    val transforms = (root \ "filters") match {
      case JArray(items) => items.map { f =>
        str(f \ "type").getOrElse("") match {
          case "where" => Pipeline.Where(str(f \ "predicate").get)
          case "rename" => Pipeline.Rename(str(f \ "from").get, str(f \ "to").get)
          case "cast" => Pipeline.Cast(str(f \ "col").get, str(f \ "to").get)
          case "derive" =>
            Pipeline.Derive(str(f \ "name").get, str(f \ "expression").get)
          case "select" => Pipeline.Select((f \ "cols") match {
            case JArray(cs) => cs.flatMap(str)
            case _ => Nil
          })
          case "dedup" => Pipeline.DedupRows(
            idCol = str(f \ "id").get, textCol = str(f \ "column").get,
            normalized = (f \ "normalized") match {
              case JBool(b) => b; case _ => false
            })
          case "lang_filter" => Pipeline.LangFilter(
            textCol = str(f \ "column").get,
            keep = (f \ "keep") match {
              case JArray(ls) => ls.flatMap(str); case _ => Nil
            })
          case "quality_filter" => Pipeline.QualityFilter(
            textCol = str(f \ "column").get,
            minScore = (f \ "min_score") match {
              case JDouble(d) => d
              case JInt(i) => i.toDouble
              case JDecimal(d) => d.toDouble
              case _ => 0.0
            })
          case "pii_redact" =>
            Pipeline.RedactPii(textCol = str(f \ "column").get)
          case "nfc_clean" =>
            Pipeline.NfcCleanCol(textCol = str(f \ "column").get)
          case "pseudonymize" => Pipeline.PseudonymizeCol(
            keyCol = str(f \ "column").get,
            salt = str(f \ "salt").get,
            bits = int(f \ "bits").getOrElse(64))
          case "dq_check" => Pipeline.DqCheck(
            rules = (f \ "rules") match {
              case JArray(rs) => rs.map { r =>
                Pipeline.DqRule(
                  rule = str(r \ "rule").get,
                  column = str(r \ "column").get,
                  value = str(r \ "value"),
                  refPath = str(r \ "ref_path"),
                  refColumn = str(r \ "ref_column"))
              }
              case _ => Nil
            },
            failOnViolation = (f \ "fail") match {
              case JBool(b) => b; case _ => false
            })
          case "source_quota" => Pipeline.SourceQuota(
            keyCol = str(f \ "key").get,
            textCol = str(f \ "column").get,
            idCol = str(f \ "id").get,
            k = int(f \ "k").getOrElse(50))
          case "decontaminate" => Pipeline.Decontaminate(
            textCol = str(f \ "column").get,
            evalPath = str(f \ "eval" \ "path").getOrElse(
              throw new IllegalArgumentException(
                "config: decontaminate.eval.path is required")),
            evalFormat = str(f \ "eval" \ "format").getOrElse("parquet"),
            evalWhere = str(f \ "eval" \ "where"),
            n = int(f \ "ngram").getOrElse(8))
          case "quality_bands" => Pipeline.QualityBandKeep(
            stratumCol = str(f \ "stratum").get,
            textCol = str(f \ "column").get,
            idCol = str(f \ "id").get,
            buckets = int(f \ "buckets").getOrElse(4),
            // `keep` decides which rows survive — a typo'd or missing value
            // must fail loudly, never default to "keep nothing"
            keepBands = (f \ "keep") match {
              case JArray(bs) if bs.nonEmpty =>
                val bands = bs.flatMap(int)
                if (bands.length != bs.length)
                  throw new IllegalArgumentException(
                    "config: quality_bands.keep must contain only integers")
                bands
              case _ => throw new IllegalArgumentException(
                "config: quality_bands.keep must be a non-empty array of band numbers")
            })
          case other =>
            throw new IllegalArgumentException(s"config: unknown filter '$other'")
        }
      }
      case _ => Nil
    }

    val partitioning = (root \ "partitioning") match {
      case JNothing | JNull => None
      case p =>
        // the reference validates the partitioning block LOUDLY: unknown
        // keys never pass silently, and `timezone` accepts only UTC
        // (TimestampPartitioning.java:34-36,128-131 throws ConfigException
        // for anything else) — a silently-ignored timezone would bucket
        // every timestamp wrong by the offset
        val known = Set("column", "unit", "unix_timestamp_unit",
          "map_side_partition_split", "type", "buckets", "second_column",
          "timezone")
        p match {
          case JObject(fields) =>
            val unknown = fields.map(_._1).filterNot(known)
            if (unknown.nonEmpty)
              throw new IllegalArgumentException(
                s"config: unknown partitioning key(s): ${unknown.mkString(", ")}")
          case _ => throw new IllegalArgumentException(
            "config: partitioning must be an object")
        }
        str(p \ "timezone").foreach { tz =>
          if (tz != "UTC")
            throw new IllegalArgumentException(
              s"config: partitioning.timezone must be UTC, got '$tz'")
        }
        Some(Pipeline.Partitioning(
        column = str(p \ "column").getOrElse(
          throw new IllegalArgumentException("config: partitioning.column is required")),
        unit = str(p \ "unit").getOrElse("hour"),
        unixTimestampUnit = str(p \ "unix_timestamp_unit"),
        mapSidePartitionSplit = int(p \ "map_side_partition_split").getOrElse(1),
        // the reference's type-name dispatch (Partitioning.java:16-30);
        // "timestamp" is the default exactly as there
        ptype = str(p \ "type").getOrElse("timestamp"),
        hashBuckets = int(p \ "buckets").getOrElse(32),
        secondColumn = str(p \ "second_column")))
    }

    // output stage (the reference config's `out:` section): format +
    // free-form writer options (header, delimiter, compression, ...)
    val out = (root \ "out") match {
      case JNothing | JNull => Pipeline.Out()
      case o => Pipeline.Out(
        format = str(o \ "format").getOrElse("parquet"),
        options = (o \ "options") match {
          case JObject(fields) =>
            fields.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        })
    }

    Pipeline.Config(
      inputPath = inputPath,
      format = format,
      transforms = transforms,
      partitioning = partitioning,
      reducers = int(root \ "reducers"),
      localModeMaxTasks = int(root \ "local_mode_input_tasks"),
      stopOnInvalidRecord = (root \ "stop_on_invalid_record") match {
        case JBool(b) => b; case _ => false
      },
      out = out,
      // the reference's `job_name` (MapReduceExecutorTask.java:20-22) and
      // `config` passthrough (ib:24-30, arbitrary Hadoop conf injection):
      // job_name labels the Spark jobs, `config` sets runtime SQL confs
      jobName = str(root \ "job_name"),
      // `config_files` (MapReduceExecutorTask.java:24-26, merged at
      // MapReduceExecutor.java:207-218): a LIST of config files folded
      // into the job conf in order, with the inline `config` block
      // applied AFTER (last-wins, MapReduceExecutor.java:229-232). Ours
      // are JSON objects of string pairs — the engine's config dialect —
      // rather than Hadoop XML resources; a missing file fails loudly
      // with the reference's exact message contract, never a silent skip.
      sparkConf = configFiles(root) ++ ((root \ "config") match {
        case JObject(fields) =>
          fields.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }))
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
            case JObject(fields) =>
              acc ++ fields.collect { case (k, JString(v)) => k -> v }
            case _ => throw new IllegalArgumentException(
              s"config: config file '$path' must be a JSON object of string values")
          }
        }
      case _ => throw new IllegalArgumentException(
        "config: config_files must be an array of path strings")
    }
}
