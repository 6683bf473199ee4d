package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The two Spark internals the traced run needs that are not public API:
  * waiting for the listener bus to deliver every queued event, and
  * counting shuffle exchanges through adaptive query stages. */
object SparkBridge extends AdaptiveSparkPlanHelper {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
}
