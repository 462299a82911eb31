package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain. A job's start, task
  * and end events are all posted before the action that ran it returns, so
  * once this returns every event of the calls made so far has reached every
  * listener: counters read after it are complete, with no sleep. */
object BusDrain {
  /** The job property that carries `setJobGroup`'s id. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
