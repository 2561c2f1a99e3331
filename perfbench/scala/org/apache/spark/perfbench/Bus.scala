package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private. */
object Bus {
  /** Block until every queued listener event has been delivered. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
