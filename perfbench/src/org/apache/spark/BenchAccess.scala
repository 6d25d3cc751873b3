package org.apache.spark

/** The benchmark's one use of Spark-internal API: waiting until the
  * listener bus has delivered every event, so traced job and task records
  * are complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
