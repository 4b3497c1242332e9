package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Number of listeners on a context's bus (package-private to Spark). */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
