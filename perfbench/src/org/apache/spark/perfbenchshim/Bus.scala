package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus drain is package-private to Spark; the trace reads
  * its totals only after every queued event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
