package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.BusMarker
import scala.collection.mutable

/** Per-task execution reporting — the Spark-native surface for the
  * reference's attempt-state tracking (`AttemptState.java:1-170` records
  * input/output task indices + exceptions; `MapReduceExecutor.java:139-190`
  * polls counters into `TaskReport`s, and `retry_tasks`
  * (`MapReduceExecutorTask.java:48`) governs whether failures retry).
  *
  * Spark already owns retry (`spark.task.maxFailures`) and idempotent
  * commit; what the reference exposes and Spark hides is the *report*: rows
  * in/out, bytes, attempts, failures per task. This listener rebuilds it.
  */
/** One row per finished task attempt (encoder-friendly top-level class). */
final case class TaskRow(stageId: Int, taskId: Long, attempt: Int,
  status: String, durationMs: Long, recordsRead: Long, recordsWritten: Long,
  bytesRead: Long, bytesWritten: Long, shuffleRecordsWritten: Long)

final class TaskReport extends SparkListener {
  private val rows = mutable.ArrayBuffer.empty[TaskRow]
  private var failed = 0
  private val drained = new CountDownLatch(1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    if (!ok) failed += 1
    rows += TaskRow(e.stageId, e.taskInfo.taskId, e.taskInfo.attemptNumber,
      if (ok) "success" else "failed", e.taskInfo.duration,
      if (m != null) m.inputMetrics.recordsRead else 0L,
      if (m != null) m.outputMetrics.recordsWritten else 0L,
      if (m != null) m.inputMetrics.bytesRead else 0L,
      if (m != null) m.outputMetrics.bytesWritten else 0L,
      if (m != null) m.shuffleWriteMetrics.recordsWritten else 0L)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case BusMarker(owner) if owner eq this => drained.countDown()
    case _ =>
  }

  /** Wait until every event posted so far has reached this report, then
    * remove it from the session, so it stops recording later tasks. The
    * rows recorded so far stay readable. The wait is for this report's own
    * marker ([[org.apache.spark.sql.graftbridge.BusMarker]]) to come
    * through its queue: no polling, and no wait on queues it does not use.
    * Like the bus's own drain, it gives up after 10 s, loudly.
    */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    BusMarker.post(sc, this)
    try {
      if (!sc.isStopped && !drained.await(10, TimeUnit.SECONDS))
        throw new TimeoutException(
          "the task report's listener queue did not drain within 10 s")
    } finally sc.removeSparkListener(this)
  }

  def taskRows: Seq[TaskRow] = synchronized(rows.toSeq)
  def failedTasks: Int = synchronized(failed)

  /** Aggregate per-stage report as a DataFrame (the reference's job-level
    * progress view, `MapReduceExecutor.java:441-470`).
    */
  def stageReport(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    taskRows.toDF()
      .groupBy($"stageId")
      .agg(org.apache.spark.sql.functions.count("*").as("tasks"),
        org.apache.spark.sql.functions.sum($"recordsRead").as("records_read"),
        org.apache.spark.sql.functions.sum($"recordsWritten").as("records_written"),
        org.apache.spark.sql.functions.sum($"shuffleRecordsWritten").as("shuffle_records_written"),
        org.apache.spark.sql.functions.sum($"durationMs").as("total_ms"))
      .orderBy($"stageId")
  }
}

object TaskReport {
  /** Attach a fresh report listener to the session; pair with
    * [[TaskReport#detach]]. */
  def attach(spark: org.apache.spark.sql.SparkSession): TaskReport = {
    val r = new TaskReport
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** Bounded action-level retry — the Spark-native surface of the
    * reference's `retry_tasks` knob (`MapReduceExecutorTask.java:48`,
    * recorded per attempt by `AttemptState.java`): Spark's scheduler
    * already owns TASK-attempt retry inside a job
    * (`spark.task.maxFailures`); what the reference additionally surfaces
    * is bounded re-execution of the failed work unit with the attempt
    * number visible to the run. `body` receives the zero-based attempt
    * number and is re-invoked (re-planning the query — a fresh plan, not
    * a replay of a cached failed stage) until it succeeds or `maxAttempts`
    * is exhausted, in which case the last failure propagates. Returns
    * (result, attempts used).
    */
  def withRetry[T](maxAttempts: Int)(body: Int => T): (T, Int) = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      try return (body(attempt), attempt + 1)
      catch {
        case scala.util.control.NonFatal(_) if attempt + 1 < maxAttempts =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
