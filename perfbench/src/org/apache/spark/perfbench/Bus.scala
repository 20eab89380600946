package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every posted listener event has been delivered, so the
    * counters of a finished span are complete when it is read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
