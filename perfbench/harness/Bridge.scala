package org.apache.spark

/** The listener bus is asynchronous; a unit's counters are exact only
  * if the bus is drained at both edges of the unit. `waitUntilEmpty`
  * is private[spark], hence this one-line bridge. */
object PerfBridge {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
