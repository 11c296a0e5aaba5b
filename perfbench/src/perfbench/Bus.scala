package org.apache.spark

/** The listener bus's drain hook is package-private; the harness needs it
  * so that counters read at the end of a timed region include every event
  * the region produced.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
