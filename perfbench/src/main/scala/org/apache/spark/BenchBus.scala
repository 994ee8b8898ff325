package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark's listener has seen all jobs of a finished window.
  * `waitUntilEmpty` is Spark-internal; this shim is the only code of the
  * benchmark placed in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
