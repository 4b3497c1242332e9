package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Input sources (reference: the executor delegates to Embulk input plugins
  * split-planned by `EmbulkInputFormat.java:37` / `EmbulkInputSplit.java:61`
  * and pulled by `EmbulkRecordReader.java:63`).
  *
  * Spark-first: each format is a DataSource with its own split planning;
  * graft only standardizes schema handling and the invalid-record mode
  * mapping (PERMISSIVE/DROPMALFORMED/FAILFAST ≈ ErrorPolicy for semi-
  * structured inputs).
  */
object Sources {
  /** The one batch parquet read of graft.
    *
    * Spark infers a parquet schema with a Spark job
    * (`SchemaMergeUtils.mergeSchemasInParallel`), even when, without
    * `mergeSchema`, that job reads one footer. On 4 cores with a warm
    * session, a directory read took 65–88 ms with that job and 5–8 ms with
    * the schema given. The reference's input stage learns its input's shape
    * from the plugin and only lists splits (`EmbulkInputFormat.java:37`), so
    * a read here runs no job either.
    *
    * Fast path, for one file or one directory whose entries are all files,
    * none of them `_metadata` or `_common_metadata`: read on the driver the
    * footer Spark's inference would read (the first data file by path,
    * skipping `_`- and `.`-prefixed names as Spark's file index does),
    * convert it by Spark's own rule ([[footerSchema]]) and hand the result
    * to `spark.read.schema(s)`. `DataSource` makes that schema nullable, as
    * it does an inferred one, so the frame is the one Spark would plan.
    *
    * Every other case is Spark's own `spark.read.parquet(path)`, unchanged:
    * a glob, sub-directories (hive partitions, a streaming sink's
    * `_spark_metadata`), summary files, no data file, a missing path, a
    * session with `spark.sql.parquet.mergeSchema` on, or any failure while
    * probing. Errors therefore stay Spark's, e.g. `UNABLE_TO_INFER_SCHEMA`
    * on an empty directory.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** A batch read of `path` in `format`: parquet through [[parquet]], any
    * other format through Spark's reader as it is.
    */
  def load(spark: SparkSession, format: String, path: String): DataFrame =
    if (format.equalsIgnoreCase("parquet")) parquet(spark, path)
    else spark.read.format(format).load(path)

  /** The schema Spark would infer for a parquet `path`, from the one
    * footer its inference reads, or None where [[parquet]] leaves the read
    * to Spark. Reads with the session's existing Hadoop configuration and
    * Spark's `ParquetFooterReader` (a fresh `Configuration` would load
    * Hadoop's default resources inside the probe), and converts with a
    * `ParquetToSparkSchemaConverter` set exactly as Spark's inference sets
    * it, so `nanosAsLong` and `inferTimestampNTZ` behave as before.
    */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists(GlobChars)) None
    else try {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(root)
      val first =
        if (status.isFile) Some(status).filter(isData)
        else {
          val entries = fs.listStatus(root)
          if (entries.exists(e => !e.isFile || isSummary(e))) None
          else entries.filter(isData).sortBy(_.getPath.toString).headOption
        }
      first.map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation))
      }
    } catch { case NonFatal(_) => None }
  }

  /** `SparkHadoopUtil.isGlobPath`'s characters. */
  private val GlobChars = "{}[]*?\\".toSet

  /** A name Spark's file index lists as data (`HadoopFSUtils
    * .shouldFilterOutPathName` without its summary-file exception).
    */
  private def isData(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_"))
  }

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n.startsWith("_metadata") || n.startsWith("_common_metadata")
  }

  /** Schema-evolution read: parquet drops whose schemas drifted (columns
    * added over time) union into one frame — `mergeSchema` reconciles the
    * footers (by-name, missing columns null), the operational norm for a
    * landing directory whose producer gained fields. Costs a footer scan
    * per file at planning (why it's off by default in Spark); pass the
    * explicit merged schema instead where planning time matters at 100 TB
    * (schema-on-read with no footer sweep).
    */
  def parquetEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  def jsonl(spark: SparkSession, path: String, schema: StructType,
      mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Split-size knob: the analogue of tuning input task counts. */
  def withMaxSplitBytes(spark: SparkSession, bytes: Long): SparkSession = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes.toString)
    spark
  }
}
