package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached every listener,
    * so a span's counters are complete before the span is closed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
