package org.apache.spark

/** Waits until the driver's listener bus has delivered every posted event,
  * so the harness reads complete job, stage and task records. The bus is
  * private to Spark's package, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
