package org.apache.spark.graftspark

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` listener-bus draining: counts read from a
  * SparkListener must not race the async bus. Lives under
  * org.apache.spark solely to reach `listenerBus.waitUntilEmpty`.
  */
object ListenerFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
