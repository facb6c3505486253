package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so the events of one operation are attributed to it
  * before the next operation starts. The listener bus is private to
  * Spark; this is the only reason the benchmark has a file in Spark's
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
