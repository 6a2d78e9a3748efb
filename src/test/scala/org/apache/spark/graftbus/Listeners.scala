package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Test bridge to `sc`'s bus (`listenerBus` is private[spark]). */
object Listeners {

  /** The number of listeners registered on the bus. */
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
