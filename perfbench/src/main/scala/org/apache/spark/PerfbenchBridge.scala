package org.apache.spark

/** The one private Spark hook the harness needs: wait until every
  * posted listener event has been delivered, so the events of one
  * request are all in before the next request starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
