package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test bridge to the `private[spark]` listener bus: a spec that counts
  * jobs with a SparkListener drains the bus before reading its count,
  * because listener events are delivered asynchronously.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The listeners registered on the context's shared bus, all queues. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
