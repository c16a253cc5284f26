package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event of the
  * call it just timed (the listener bus is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
