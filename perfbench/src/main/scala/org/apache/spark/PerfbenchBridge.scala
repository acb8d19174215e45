package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * per-operation counters are read only after every event of the
  * operation has reached the benchmark's listeners. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
