package org.apache.spark

/** The listener bus delivers events asynchronously. The benchmark drains
  * it at pass boundaries, so every event of a traced pass reaches the
  * benchmark's listeners before they are read or removed. The drain call
  * is Spark-internal, hence this one-method bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
