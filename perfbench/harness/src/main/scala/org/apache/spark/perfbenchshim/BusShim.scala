package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus so the harness can wait
  * until every task/SQL event of a finished action has been delivered
  * to its listeners before it reads their counters. */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
