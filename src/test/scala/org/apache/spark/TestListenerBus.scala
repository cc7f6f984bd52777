package org.apache.spark

/** The listener bus's drain is Spark-internal; specs that assert on
  * listener-recorded jobs read them only after every event was delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
