package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far. The bus is internal to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
