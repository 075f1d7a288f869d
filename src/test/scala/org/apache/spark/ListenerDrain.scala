package org.apache.spark

/** Test hook into Spark's private listener bus: block until every event
  * posted so far has reached every listener, so a spec can attribute a
  * listener's counts to the call that just returned.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
