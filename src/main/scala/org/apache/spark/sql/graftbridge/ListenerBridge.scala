package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Spark keeps its listener bus `private[spark]`; a profiler that reads
  * listener state right after an action must first wait for the bus to
  * deliver every event posted so far. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
