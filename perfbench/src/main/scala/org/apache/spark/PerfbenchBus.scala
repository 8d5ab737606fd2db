package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event
  * posted so far; the listener bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
