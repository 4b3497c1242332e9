package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a reader of listener
  * totals must wait until every event posted so far has been handled.
  * `waitUntilEmpty` is package-private to Spark, hence this bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
