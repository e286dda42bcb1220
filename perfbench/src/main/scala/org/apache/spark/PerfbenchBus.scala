package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the job, stage and task records of an op are complete before the
  * benchmark reads them. The bus is private to Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
