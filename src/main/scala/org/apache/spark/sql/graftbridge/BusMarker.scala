package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** An event that only `owner` acts on. Each listener queue delivers events
  * in the order they were posted, so when a listener sees its marker it
  * has seen every event posted before it. Posting one is a wait on one
  * queue, not a wait until every queue is empty. `logEvent` is
  * package-private to Spark, and so is the bus, hence this bridge; the
  * marker stays out of the event log.
  */
final case class BusMarker(owner: AnyRef) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

object BusMarker {
  def post(sc: SparkContext, owner: AnyRef): Unit =
    sc.listenerBus.post(BusMarker(owner))
}
