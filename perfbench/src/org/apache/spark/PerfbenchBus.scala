package org.apache.spark

/** The listener bus delivers events on its own thread; the traced run
  * waits for it to drain before it reads its tallies. `waitUntilEmpty`
  * is private to Spark, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
