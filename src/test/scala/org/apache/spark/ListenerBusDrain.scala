package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a spec that counts listener events waits for every
  * posted event before reading its counters.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
