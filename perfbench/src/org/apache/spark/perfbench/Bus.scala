package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's traced runs. Spark delivers
  * listener events asynchronously; a per-operation counter read is only
  * complete once every event the operation posted has been handled. The
  * bus is `private[spark]`, hence this one-method bridge in Spark's
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
