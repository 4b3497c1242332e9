package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a call into a layer. `parent` is the span
  * that was open when this one began (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = -1L) {
  def durationNs: Long = endNs - startNs
}

object Spans {

  /** Local property naming the open span; Spark copies it onto every job
    * and stage submitted from the thread that set it.
    */
  val Key = "graftbench.span"

  /** A span's duration minus the part of it that its children cover.
    * Children are clipped to the parent and overlaps counted once.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }
}

/** Spans kept in memory for one run; written out when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.fold(-1)(_.id),
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Spans.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Spans.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** The latest span of that name. */
  def last(name: String): Option[Span] = spans.findLast(_.name == name)

  /** `id` and every span opened beneath it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ subtree(k))
  }

  def selfNs(id: Int): Long = Spans.selfNs(spans(id), children(id))
}

/** Task-level totals for one span, or for the whole session. */
final class Counters {
  var jobs = 0L
  var jobNs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  /** Read from input files only. */
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var materializedBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; jobNs += o.jobNs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; materializedBytes += o.materializedBytes
  }
}

/** Attributes every Spark job, stage, task and cached block to the span
  * that was open when its job was submitted (via [[Spans.Key]]). Events
  * arrive on the listener-bus thread; read only after [[drain]].
  */
final class LayerListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Stages that scan input files (not cached or checkpointed blocks). */
  private val fileStages = mutable.Set.empty[Int]
  private val rddSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  /** Task durations (ms) of stages whose tasks wrote output rows. */
  private val writeTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Key)))
      .map(_.toInt).getOrElse(-1)

  private def at(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan(s) = span)
    at(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      at(span).jobNs += (e.time - t0) * 1000000L
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = Option(e.properties).map(p => spanOf(p))
      .getOrElse(stageSpan.getOrElse(e.stageInfo.stageId, -1))
    stageSpan(e.stageInfo.stageId) = span
    e.stageInfo.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
    if (e.stageInfo.rddInfos.exists(_.scope.exists(s => LayerListener.fileScan(s.name))))
      fileStages += e.stageInfo.stageId
    at(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val c = at(span)
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      if (fileStages(e.stageId)) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      if (m.outputMetrics.recordsWritten > 0)
        writeTaskMs.getOrElseUpdate((span, e.stageId),
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) if info.storageLevel.isValid =>
        at(rddSpan.getOrElse(rdd, -1)).materializedBytes +=
          info.memSize + info.diskSize
      case _ =>
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.BusDrain(sc)

  /** Totals over a set of spans. */
  def total(spans: Set[Int]): Counters = synchronized {
    val c = new Counters
    bySpan.foreach { case (s, v) => if (spans(s)) c += v }
    c
  }

  /** Totals over every span and unattributed work since the last reset. */
  def all: Counters = synchronized {
    val c = new Counters
    bySpan.values.foreach(c += _)
    c
  }

  /** Max ÷ median task time of the write stages under `spans`, taking the
    * stage with the most tasks (1.0 when no stage wrote rows).
    */
  def writeSkew(spans: Set[Int]): Double = synchronized {
    val stages = writeTaskMs.collect { case ((s, _), ts) if spans(s) => ts }
    if (stages.isEmpty) 1.0
    else {
      val ts = stages.maxBy(_.length).map(_.toDouble).toSeq
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
  }

  def reset(): Unit = synchronized {
    bySpan.clear(); writeTaskMs.clear()
  }
}

object LayerListener {
  /** A physical scan of files, as its operator scope is named
    * ("Scan parquet", "Scan csv", ...); cached relations and checkpointed
    * RDDs ("Scan ExistingRDD") also feed task input metrics, but are no
    * re-read of the input on disk.
    */
  def fileScan(scope: String): Boolean =
    scope.matches("(?i)scan (parquet|orc|csv|json|text|avro)\\b.*")
}
