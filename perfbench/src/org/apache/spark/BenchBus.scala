package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all tasks of the jobs that just ended.
  * The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
