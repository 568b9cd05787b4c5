package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test access to Spark internals that have no public API: draining the
  * listener bus (so a listener has seen every job an action ran) and
  * running a bare logical plan.
  */
object GraftTestBridge {
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  def rowCount(spark: SparkSession, plan: LogicalPlan): Long =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan).count()
}
