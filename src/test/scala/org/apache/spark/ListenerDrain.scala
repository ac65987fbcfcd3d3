package org.apache.spark

/** Test access to Spark's listener bus: block until every event posted
  * so far has reached its listeners, so a spec can read what a listener
  * recorded without polling.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
