package org.apache.spark

/** `listenerBus` is private[spark]; this object lives in Spark's package
  * only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
