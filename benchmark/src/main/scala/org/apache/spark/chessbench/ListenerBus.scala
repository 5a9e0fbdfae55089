package org.apache.spark.chessbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * Trace readers call it before reading listener-fed counters so every
  * event of a finished block has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
