package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-operation counters are complete before they are
  * read. The listener bus is internal to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
