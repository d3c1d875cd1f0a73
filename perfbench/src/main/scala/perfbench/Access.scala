package org.apache.spark

/** The one private Spark hook the harness needs: wait until the listener
  * bus has delivered every event, so the trace is complete when read. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
