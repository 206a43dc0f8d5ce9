package org.apache.spark

/** `SparkContext.listenerBus` is package-private in Scala (public in the
  * bytecode). Draining it makes listener counters final for every job that
  * has already ended, without sleeping.
  */
object PerfbenchBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
