package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps private:
  * `drain` blocks until every event posted so far has reached its
  * listeners, so a test can read what a listener counted.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
