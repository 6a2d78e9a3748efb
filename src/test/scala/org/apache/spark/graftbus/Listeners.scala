package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Test bridge: the number of listeners registered on `sc`'s bus
  * (`listenerBus` is private[spark]).
  */
object Listeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
