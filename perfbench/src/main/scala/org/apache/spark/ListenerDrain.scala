package org.apache.spark

/** The listener bus delivers task and block events asynchronously. The
  * tracer reads its counters only after every event posted so far has been
  * delivered; the bus exposes that wait to the `org.apache.spark` package
  * only, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
