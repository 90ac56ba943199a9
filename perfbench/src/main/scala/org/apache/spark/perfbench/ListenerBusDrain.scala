package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached its listeners, so the
  * listener-derived spans of one operation are attributed to that operation.
  * (`LiveListenerBus` is `private[spark]`.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
