package org.apache.spark

/** Access shim: `SparkContext.listenerBus` is `private[spark]` in Scala
  * (public in the bytecode), so draining it needs one object inside the
  * org.apache.spark package. After [[settle]] every listener has seen
  * the events of every job that already ended — counters read then
  * belong to those jobs, without a timed sleep.
  */
object GraftListenerBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
