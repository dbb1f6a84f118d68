package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * The wait is package-private in Spark; the benchmark needs it so that
  * the counts it reads after a timed window are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
