package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so the traced
  * figures are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
