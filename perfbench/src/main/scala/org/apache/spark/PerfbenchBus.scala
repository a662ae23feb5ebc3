package org.apache.spark

/** The listener bus delivers task events asynchronously; a closed-loop
  * benchmark reads its listener only after every event of the finished
  * operation has arrived. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
