package org.apache.spark

/** Lets the benchmark's traced run wait until every listener event posted
  * so far has been delivered, so counters read at a query boundary belong
  * to that query. The listener bus is internal to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
