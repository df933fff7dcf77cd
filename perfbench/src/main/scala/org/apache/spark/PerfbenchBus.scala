package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * calls it after every operation so each operation's listener events
  * are delivered before the next operation starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
