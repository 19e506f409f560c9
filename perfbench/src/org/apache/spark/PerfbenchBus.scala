package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so a traced run's totals are complete before
  * they are read. The bus is internal to Spark; this is its one use.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
