package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener has seen every job a finished call submitted. The bus is
  * private[spark]; this shim lives in the spark package to reach it.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
