package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * listener queue has delivered the events posted so far, so per-span
  * totals are read only after the last task of the traced calls has been
  * counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
