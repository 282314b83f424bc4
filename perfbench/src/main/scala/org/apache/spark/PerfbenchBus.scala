package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * waits on it so that every event of a span has been delivered before the
  * span's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
