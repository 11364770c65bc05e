package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event.
  * `listenerBus` is `private[spark]`, hence this file's package. */
object Drain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: Throwable => () }
}
