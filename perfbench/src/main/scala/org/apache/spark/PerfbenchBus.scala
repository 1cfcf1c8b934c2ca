package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the ledger is complete before it is read. The bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
