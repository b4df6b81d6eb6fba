package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits
  * for it to drain before reading its per-op counts. The bus is private
  * to the `spark` package, hence this accessor's location.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
