package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest (SURVEY §2 E7): the continuous version of the
  * reference's bulk load. Where the reference runs a finite MapReduce job
  * per load, the Spark-native engine points `readStream` at the landing
  * directory and keeps the same *logical* pipeline: scan → transform →
  * time-bucketed aggregation/write, with watermarked event-time windows
  * instead of a static partition key.
  */
object StreamingIngest {

  /** File-stream source over a directory of parquet drops. */
  def readParquetStream(spark: SparkSession, path: String,
      schema: StructType, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(path)

  /** Watermarked hourly per-event-type counts — the streaming twin of the
    * batch `partition_hour_ts` query, so batch/stream equivalence is
    * testable on the same inputs.
    */
  def hourlyCounts(events: DataFrame, tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      // decimal partial sums (engine determinism contract, SURVEY §6):
      // double sums would depend on microbatch/partition merge order
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Built-in gap sessionization: `session_window(ts, gap)` aggregation —
    * the DECLARATIVE counterpart of [[StatefulSessionize]]'s
    * flatMapGroupsWithState. Windows start at an event and extend `gap`
    * past it; a key's windows MERGE when one starts at or before the
    * previous window's end, so an event exactly `gap` after its
    * predecessor still merges — the split happens at diff > gap, the
    * SAME boundary convention as the batch [[graft.Queries.sessionize]]
    * (spec-pinned at the exact boundary). State is the open session per
    * key, merged by Spark's session-window state store support; per-key
    * memory is one window, eviction rides the watermark in append mode
    * or the trigger in complete mode.
    */
  def sessionWindowCounts(events: DataFrame, keyCol: String,
      tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))

  /** APPEND-mode session windows — the production form of
    * [[sessionWindowCounts]]: with a watermark on the event time, the
    * state store emits each session ONCE, when the watermark passes its
    * close, and then evicts it. Per-trigger output is O(sessions closed
    * this trigger), not O(all sessions ever) — the complete-mode drain
    * rewrites the entire result every trigger and exists only as the
    * all-data demo/unit-test shape. State is one open window per active
    * key; both forms share the merge-touching-windows boundary (split at
    * gap >, not ≥ — the batch sessionize convention).
    */
  def sessionWindowCountsAppend(events: DataFrame, keyCol: String,
      tsCol: String = "ts", gap: String = "30 minutes",
      watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))

  /** Watermark-bounded key dedup WITHOUT the timestamp in the key:
    * `dropDuplicatesWithinWatermark` guarantees dedup for duplicates
    * arriving within the watermark delay of each other (the
    * retry/at-least-once-delivery case) while EVICTING state as the
    * watermark passes — unlike [[dedupStream]], whose key must include
    * the event time for state to be bounded. The operational contract:
    * state is O(keys per watermark window), duplicates separated by more
    * than the delay MAY re-emit — which is exactly the delivery-retry
    * dedup guarantee at-least-once pipelines need.
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming temporal enrichment: every microbatch AS-OF joins
    * (latest dim row at-or-before the event) against a STATIC interval
    * dimension, landing each batch under `batch_id=N` with overwrite
    * (the E8c replay-idempotence discipline). This is the temporally-
    * CORRECT streaming enrichment — a plain stream-static equi-join
    * would attach the dimension's current row, silently rewriting
    * history for late events; the per-batch as-of attaches the row that
    * was valid AT the event's time.
    *
    * Scale shape — build once, probe many: the dimension is packed to
    * one time-sorted version array per key ([[graft.operators.AsOfJoin
    * .packDim]]) and written ONCE as a table bucketed+sorted on the key
    * (the E16 layout, one file per bucket so the sorted metadata holds).
    * Each microbatch then probes it with a key equi-join that plans with
    * ZERO dim-side exchange and zero dim-side sort — ONLY THE MICROBATCH
    * moves (one hash shuffle of the batch to the dim's bucketing;
    * PlanSpec asserts the single-exchange plan). The previous form
    * (`AsOfJoin.asOf` inside foreachBatch) re-shuffled and re-sorted the
    * ENTIRE dimension union'd with every batch — super-linear across a
    * stream's lifetime and the recorded scale-killer at 100 TB. Batch-
    * side broadcast is pinned off inside the probe so the co-located
    * shape is what plans at every scale (at real scale the dim never
    * broadcasts anyway).
    */
  def asofEnrichSink(stream: DataFrame, dim: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: org.apache.spark.sql.Column,
      rightTime: org.apache.spark.sql.Column,
      payload: Seq[(String, org.apache.spark.sql.Column)],
      outDir: String, ckpt: String,
      dimTable: String = "graft_asof_dim_b",
      buckets: Int = -1): StreamingQuery = {
    val spark = dim.sparkSession
    // bucket count sized like the batch twin (`Queries.asofPackedQ` /
    // GraftSession.bucketsFor): the bucketed dim's bucket count IS the
    // parallelism ceiling of every per-microbatch probe against it, so a
    // fixed 32 caps probe parallelism on a >32-core fleet and scatters a
    // fixture-sized dim over 32 near-empty files. No input dir exists
    // here — the dim is an arbitrary frame — so the size estimate is the
    // optimizer's plan stats (exact for on-disk sources post-pruning,
    // conservative elsewhere); pass `buckets` explicitly to override,
    // e.g. with total fleet cores when the writer is smaller than the
    // probing cluster.
    val nb =
      if (buckets > 0) buckets
      else graft.GraftSession.bucketsFor(
        spark.sparkContext.defaultParallelism,
        dim.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong)
    graft.sources.Sinks.dropManagedTable(spark, dimTable)
    // explicit repartition onto the bucket hash → one file per bucket →
    // per-bucket sort metadata survives and probe joins skip the sort
    graft.operators.AsOfJoin.packDim(dim, rightKey, rightTime, payload)
      .repartition(nb, col("_k"))
      .write.bucketBy(nb, "_k").sortBy("_k")
      .mode("overwrite").saveAsTable(dimTable)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        // one-file-per-bucket layout (guaranteed by the repartition above)
        // makes the sorted-scan ordering safe: with it the probe join
        // also plans ZERO dim-side sort, not just zero exchange
        val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
        val prevOrd = s.conf.get(ordKey)
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set(ordKey, "true")
        try graft.operators.AsOfJoin.asOfPacked(batch, col(leftKey),
            col(leftTime), s.table(dimTable))
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
          s.conf.set(ordKey, prevOrd)
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming exact dedup: drop rows whose key was already seen, with
    * state bounded by the event-time watermark (keys older than the
    * watermark are forgotten — the streaming twin of `Dedup.exact`).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming incremental corpus dedup (`foreachBatch`) — the operational
    * form of `Dedup.incremental` for a continuously-arriving corpus: each
    * microbatch is content-hashed, deduplicated within the batch (keep the
    * smallest id), anti-joined against the persistent fingerprint table,
    * emitted to `outDir/batch_id=N`, and its new fingerprints written to
    * `fpDir/batch_id=N`. The fingerprint table holds 16-byte hashes only,
    * so corpus state stays tiny no matter how large the documents are.
    *
    * Exactly-once on replay: both sinks are keyed by batch id and written
    * with overwrite, so a batch re-run after a failure between the two
    * writes REPLACES its own directories instead of appending duplicate
    * rows (plain parquet append has no exactly-once story). The corpus
    * read excludes partitions with batch_id ≥ the current batch — a
    * replayed batch must not anti-join against its own half-written
    * fingerprints, which would emit an empty batch and lose the rows.
    */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
      fpDir: String, outDir: String,
      checkpointDir: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hashed = batch
          .select(md5(col(textCol)).as("fp"), col(idCol).as("id"))
          .groupBy(col("fp")).agg(min(col("id")).as("keep_id"))
        // only a missing table means "first batch / empty corpus" — any
        // other read failure (corrupt footer, FS hiccup) must FAIL the
        // batch, or previously-seen documents would silently re-emit as
        // fresh against an accidentally-empty corpus
        val fpPath = new org.apache.hadoop.fs.Path(fpDir)
        val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val corpus =
          if (fs.exists(fpPath))
            spark.read.parquet(fpDir)
              .where(col("batch_id") < batchId).select(col("fp"))
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            new StructType().add("fp", "string"))
        val fresh = hashed.join(corpus, Seq("fp"), "left_anti")
          .localCheckpoint() // two sinks below; don't recompute the anti-join
        fresh.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        fresh.select(col("fp"))
          .write.mode("overwrite").parquet(s"$fpDir/batch_id=$batchId")
        ()
      }
    val withCkpt =
      checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) withCkpt.trigger(Trigger.AvailableNow()) else withCkpt)
      .start()
  }

  /** [[incrementalDedupSink]] with the fingerprint store kept as a table
    * BUCKETED on the fingerprint — the E16 layout fix for the store-side
    * per-batch re-shuffle (the same class as the as-of enrichment's dim):
    * the anti-join reads the corpus hash-partitioned straight off
    * storage, ZERO corpus-side exchange, and the batch's own fp agg
    * already leaves it co-partitioned when `buckets` equals the shuffle
    * partition count — so each trigger moves ONLY the microbatch no
    * matter how large the corpus grows (the dir-based sink re-shuffles
    * every corpus fingerprint every batch).
    *
    * Replay discipline: the store is APPEND-ONLY with `batch_id` as a
    * column. A crash-replayed batch may append a duplicate generation —
    * harmless to correctness, because the anti-join is an EXISTENCE
    * test and duplicate fingerprints cannot change it; the rare extra
    * rows fold away in the same periodic compaction generation the
    * heavy-hitter partials document. The corpus read still excludes
    * batch_id ≥ the current batch, so a replayed batch never anti-joins
    * its own half-written generation (the incrementalDedupSink rule).
    */
  def incrementalDedupSinkBucketed(docs: DataFrame, idCol: String,
      textCol: String, fpTable: String, outDir: String,
      buckets: Int = 32, checkpointDir: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hashed = batch
          .select(md5(col(textCol)).as("fp"), col(idCol).as("id"))
          .groupBy(col("fp")).agg(min(col("id")).as("keep_id"))
        val corpus =
          if (spark.catalog.tableExists(fpTable))
            spark.table(fpTable)
              .where(col("batch_id") < batchId).select(col("fp"))
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            new StructType().add("fp", "string"))
        val fresh = hashed.join(corpus, Seq("fp"), "left_anti")
          .localCheckpoint() // two sinks below; don't recompute the anti-join
        fresh.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        fresh.select(col("fp"), lit(batchId).as("batch_id"))
          .write.bucketBy(buckets, "fp")
          .mode("append").saveAsTable(fpTable)
        ()
      }
    val withCkpt =
      checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) withCkpt.trigger(Trigger.AvailableNow()) else withCkpt)
      .start()
  }

  /** Streaming incremental heavy hitters — continuous maintenance of a
    * global frequency aggregate (the streaming twin of
    * `Sketches.heavyHitters`' recount side): each microbatch collapses
    * to per-item partial counts (map-side-sized, vocabulary keys) and
    * commits them under `countsDir/batch_id=N`; because counts are
    * ADDITIVE, the current heavy-hitter set at any moment is one
    * sum-and-filter over the partials — no raw row is ever re-read.
    *
    * Exactly-once on replay: the partial-count sink is keyed by batch id
    * and overwrite-idempotent (the incrementalDedupSink discipline). At
    * 100 TB the partials table gets a periodic compaction batch (sum
    * partials into one consolidated `batch_id=-1` generation); the math
    * is unchanged because addition is associative.
    */
  def heavyHitterSink(items: DataFrame, itemCol: String,
      countsDir: String, checkpointDir: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = items.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(col(itemCol).cast("string").as("item"))
          .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$countsDir/batch_id=$batchId")
        ()
      }
    val withCkpt =
      checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) withCkpt.trigger(Trigger.AvailableNow()) else withCkpt)
      .start()
  }

  /** Continuous Count-Min maintenance — the E38b heavy-hitter-sink
    * discipline applied to the [[graft.operators.CountMin]] grid: each
    * microbatch commits its own d×w partial cell grid under
    * `cellsDir/batch_id=N` (overwrite-idempotent on replay), and because
    * cells are ADDITIVE the live sketch is one cell-wise sum over the
    * partials — fixed-size state per batch, raw rows never re-read, the
    * periodic-compaction note from `heavyHitterSink` applies verbatim.
    */
  def cmsSink(items: DataFrame, itemCol: String, cellsDir: String,
      d: Int = 4, w: Int = 256, checkpointDir: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = items.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CountMin.sketch(batch, col(itemCol), d, w)
          .write.mode("overwrite").parquet(s"$cellsDir/batch_id=$batchId")
        ()
      }
    val withCkpt =
      checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) withCkpt.trigger(Trigger.AvailableNow()) else withCkpt)
      .start()
  }

  /** Continuous CDC apply (streaming twin of
    * [[graft.operators.Compaction.mergeChangelog]]): each microbatch of
    * changelog rows merges onto the latest snapshot version and writes a
    * NEW full snapshot under `snapDir/version=<batchId>` — the
    * copy-on-write table-version discipline (Delta/Iceberg shape) at
    * whole-table granularity. Replay-idempotent: a re-run batch
    * overwrites its own version directory, and the base read only ever
    * sees versions strictly BEFORE the current batch id, so a crash
    * between merge and commit re-applies cleanly from the checkpoint.
    *
    * At 100 TB the COW unit would be the partition, not the table
    * (rewrite only partitions holding touched keys — the merge itself
    * already computes them); whole-table rewrite here keeps the demo's
    * oracle exact while the versioning/idempotence contract is the part
    * that carries.
    */
  def cdcMergeSink(changes: DataFrame, key: String, seq: String,
      op: String, payload: Seq[String], snapDir: String,
      checkpointDir: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val writer = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val snapPath = new org.apache.hadoop.fs.Path(snapDir)
        val fs = snapPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val baseSchema = new StructType(
          batch.select(col(key) +: payload.map(col): _*).schema.fields)
        val base =
          if (fs.exists(snapPath)) {
            val prior = spark.read.parquet(snapDir)
              .where(col("version") < batchId)
            // O(1) driver scalar: the latest committed version id
            val vrow = prior.agg(max(col("version"))).collect()(0)
            if (vrow.isNullAt(0))
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                baseSchema)
            else {
              // hive partition discovery types `version` as int — read
              // the scalar numerically, not as a long
              val vmax = vrow.get(0).asInstanceOf[Number].longValue
              prior.where(col("version") === vmax)
                .select(col(key) +: payload.map(col): _*)
            }
          } else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            baseSchema)
        graft.operators.Compaction
          .mergeChangelog(base, batch, key, seq, op, payload)
          .write.mode("overwrite")
          .parquet(s"$snapDir/version=$batchId")
        ()
      }
    val withCkpt =
      checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
    (if (availableNow) withCkpt.trigger(Trigger.AvailableNow()) else withCkpt)
      .start()
  }

  /** Input-conditional state-store partition count (the streaming twin of
    * `GraftSession.initPartitionsFor`): every stateful operator keeps one
    * state store PER shuffle partition, and each micro-batch pays a
    * commit (delta write + maintenance) per store — a cost linear in the
    * partition count and independent of data size, so a drain over a
    * small fixture is dominated by it (measured r16: stream_stream_join
    * at sf0.1 is 8.6 s with 32 stores and 4.8 s with 8 — and ~3 s of the
    * former is the watermark-flush batch that carries NO data). Inputs
    * under 256 MiB cap the store count at 8; at scale the session
    * default (cores) stands — state stores are the parallelism unit of
    * stateful recovery, and a 100 TB stream wants MORE of them, not
    * fewer.
    */
  def statePartitionsFor(cores: Int, bytes: Long,
      smallBytes: Long = 256L << 20): Int =
    if (bytes < smallBytes) math.min(cores, 8) else cores

  /** Run `body` — which must START and AWAIT its streaming query — with
    * `spark.sql.shuffle.partitions` set to `n`, restoring the session
    * value afterward. Stateful streaming latches its store count from
    * the conf at the FIRST batch into the checkpoint metadata, so the
    * override must bracket the whole drain (later re-drains against the
    * same checkpoint reuse the latched count regardless of the session
    * conf — which is why this is safe to restore after termination).
    * Results are partitioning-independent by the engine's determinism
    * contract (decimal/integer partial aggregates, SURVEY §6).
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Drain all currently-available input and stop (`Trigger.AvailableNow`) —
    * batch-equivalent processing of a static directory; complete-mode memory
    * sink for assertion in tests.
    */
  def runAvailableNow(agg: DataFrame, queryName: String): StreamingQuery =
    agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Append-mode twin of [[runAvailableNow]] for row-emitting streams
    * (dedup, sessionize) whose sinks receive each result row exactly once.
    */
  def runAvailableNowAppend(rows: DataFrame, queryName: String): StreamingQuery =
    rows.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Repeated-drain harness: one AvailableNow run of `transform` over the
    * file landing, writing each batch's APPEND-finalized rows to
    * `outDir/batch_id=N` against a resumable checkpoint. Landing more
    * files and draining again processes them as LATER batches over the
    * same state — the event-time watermark advances between drains
    * deterministically, which is how the registered E12 gate replays
    * late-arrival semantics as a batch-comparable query.
    */
  def drainAppendToDir(spark: SparkSession, landing: String,
      schema: StructType, transform: DataFrame => DataFrame,
      ckpt: String, outDir: String): Unit = {
    val stream = spark.readStream.schema(schema).parquet(landing)
    transform(stream).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id"); ()
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
