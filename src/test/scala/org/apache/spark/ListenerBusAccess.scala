package org.apache.spark

/** Test access to the listener bus: specs that count jobs through a
  * `SparkListener` drain it first, since events are delivered
  * asynchronously.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
