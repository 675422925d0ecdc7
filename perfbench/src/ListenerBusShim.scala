package org.apache.spark

/** Spark delivers listener events asynchronously; the benchmark reads its
  * counters only after the bus has drained. The bus is `private[spark]`,
  * hence this one-line shim in Spark's package. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
