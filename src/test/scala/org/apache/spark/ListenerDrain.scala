package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so a test's
  * SparkListener tally is complete. `waitUntilEmpty` is private to Spark.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
