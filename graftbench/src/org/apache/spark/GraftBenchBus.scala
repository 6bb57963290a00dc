package org.apache.spark

/** The listener bus drain is Spark-internal; the benchmark's tracer
  * needs it to read its listener's totals only after every event of a
  * traced call has been delivered. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
