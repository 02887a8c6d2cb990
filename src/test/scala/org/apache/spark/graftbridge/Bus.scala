package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
