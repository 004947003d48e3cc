package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a listener's view of the jobs and executions that ran is
  * complete before a test reads it. The bus is package-private to
  * Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
