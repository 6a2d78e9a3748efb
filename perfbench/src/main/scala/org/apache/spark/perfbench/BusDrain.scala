package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * `waitUntilEmpty` is `private[spark]`, hence this bridge: without the
  * drain, the tail events of one timed op land in the next op's bucket.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
