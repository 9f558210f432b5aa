package org.apache.spark

/** The listener bus is asynchronous: a span's counts are only complete
  * once every event posted before its end has been delivered. The bus'
  * drain is package-private to Spark, so the benchmark reaches it from
  * here.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
