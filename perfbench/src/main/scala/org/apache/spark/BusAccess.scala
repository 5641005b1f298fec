package org.apache.spark

/** The listener bus delivers events asynchronously; a traced unit of
  * work is only complete once every event it caused has been
  * delivered. `waitUntilEmpty` is Spark-internal, hence this shim. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
