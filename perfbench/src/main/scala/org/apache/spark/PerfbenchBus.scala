package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's recorder holds the complete job, stage and task
  * records of an action right after the action returns. The bus is
  * package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
