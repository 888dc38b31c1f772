package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the harness waits for every posted event before reading its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
