package org.apache.spark

/** Test access to Spark's listener bus (package-private): block until every
  * event posted so far has reached its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
