package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain. Every job, stage and
  * task event of an action is posted before the action returns, so once this
  * returns each listener has seen them all: counters read after it are
  * complete, with no sleep. */
object GraftBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
