package org.apache.spark

/** The listener bus's drain is Spark-internal; the traced run needs it to
  * read a cycle's job records only after every event has been delivered. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
