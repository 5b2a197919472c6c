package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so a traced op's listener counts are complete before the next op
  * starts. The bus is package-private; this accessor is the only
  * reason the file lives in this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
