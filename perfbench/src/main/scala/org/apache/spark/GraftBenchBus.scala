package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a span
  * that closes has seen all events of the work it ran. The bus is
  * private[spark]; this shim lives in the spark package to reach it.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
