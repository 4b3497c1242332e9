package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Transactional multi-table publish: several derived tables become
  * visible to readers ATOMICALLY, as one consistent version.
  *
  * A pipeline that rewrites N summary tables one-by-one exposes readers
  * to torn states (table A at v2, table B still at v1) and to half-written
  * directories after a crash. The classic fix — the one table formats
  * build on — is versioned immutable data plus a tiny commit point:
  *
  *  1. every table's version `v` lands under `<base>/<table>/v=<v>/`
  *     (immutable once written; a crashed writer leaves an orphan
  *     directory no reader ever looks at),
  *  2. the ONLY mutable object is a one-line manifest naming the current
  *     version, replaced via write-temp + atomic rename — readers resolve
  *     the manifest first and then read every table AT that version, so
  *     they always see a consistent set.
  *
  * On a POSIX filesystem the rename is `ATOMIC_MOVE`; on an object store
  * the same contract is a conditional put of the manifest key — the
  * versioned-layout discipline is identical. Failure window: a crash
  * after some v2 tables but before the manifest leaves readers on v1 of
  * EVERYTHING (spec-asserted); re-publishing v2 overwrites the orphans
  * idempotently (the [[ResumableWrite]] overwrite-by-key discipline at
  * publish granularity).
  */
object TxPublish {

  private def manifest(base: String) = Paths.get(base, "_current_version")

  /** Write every table under `v=<version>` and commit the manifest
    * atomically. The manifest write is the transaction's commit point.
    */
  def publish(tables: Map[String, DataFrame], base: String,
      version: Long): Unit = {
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$base/$name/v=$version")
    }
    commit(base, version)
  }

  /** The bare commit point (exposed for fault-injection tests): atomically
    * point readers at `version`.
    */
  def commit(base: String, version: Long): Unit = {
    Files.createDirectories(Paths.get(base))
    val tmp = Paths.get(base, s"_current_version.tmp.$version")
    Files.writeString(tmp, version.toString + "\n")
    Files.move(tmp, manifest(base), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The committed version, if any table set was ever published. */
  def currentVersion(base: String): Option[Long] = {
    val m = manifest(base)
    if (Files.exists(m)) Some(Files.readString(m).trim.toLong) else None
  }

  /** Read `table` at the committed version — never a torn or in-flight
    * one. Throws if nothing was ever committed.
    */
  def read(spark: SparkSession, base: String, table: String): DataFrame = {
    val v = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no committed version under $base"))
    graft.sources.Sources.parquet(spark, s"$base/$table/v=$v")
  }
}
