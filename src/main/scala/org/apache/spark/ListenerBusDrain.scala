package org.apache.spark

/** Spark delivers listener events asynchronously; code that counts them
  * must wait for the bus to drain first. The bus is `private[spark]`,
  * hence this shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
