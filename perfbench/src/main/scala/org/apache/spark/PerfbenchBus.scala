package org.apache.spark

/** The one Spark-internal call the traced run needs: block until every
  * listener event posted so far has been delivered, so an operation's
  * jobs, tasks, query phases and streaming progress are all recorded
  * before the next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
