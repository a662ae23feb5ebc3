package org.apache.spark

/** The listener bus delivers events asynchronously; a test that counts
  * events reads its listener only after every event of the finished action
  * has arrived. `waitUntilEmpty` is package-private to Spark. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
