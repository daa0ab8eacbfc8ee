package org.apache.spark

/** Drains the listener bus, so that every listener event of the work
  * done so far has been delivered before the benchmark reads its
  * listeners. The bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
