package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer reads listener counters only after every event posted so far
  * has been delivered; otherwise the last stages of a span would be lost. */
object BusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
