package org.apache.spark.sparkbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus from inside Spark's package. */
object Bus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
