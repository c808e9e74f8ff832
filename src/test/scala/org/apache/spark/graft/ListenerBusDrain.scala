package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener
  * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`), so a spec's
  * listener has seen all the jobs its body submitted.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
