package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the recorder drains
  * it so the last task-end events are counted before metrics are read. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
