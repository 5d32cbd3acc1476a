package org.apache.spark

/** The one package-private hook the tracer needs: block until every event
  * posted so far has reached the listeners, so counts read afterwards are
  * complete.
  */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
