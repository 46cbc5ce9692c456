package org.apache.spark

/** Bridge into the private[spark] listener bus: lets the benchmark
  * (`perfbench/src/Driver.scala`) drain job and task events
  * deterministically before it reads a query's trace, instead of
  * sleeping a fixed interval. */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
