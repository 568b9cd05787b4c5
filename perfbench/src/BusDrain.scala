package org.apache.spark

/** Waits until every queued listener event has been delivered, so a trace
  * read right after an action sees all of that action's jobs and stages.
  * Lives in this package because the listener bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
