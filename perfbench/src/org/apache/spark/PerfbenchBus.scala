package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until every
  * listener event posted so far has been delivered, so the counters read
  * after an operator call hold exactly that call's jobs, tasks and plans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
