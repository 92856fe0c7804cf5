package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * counters read after an action include all of that action's tasks.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object Drain {
  def listenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
