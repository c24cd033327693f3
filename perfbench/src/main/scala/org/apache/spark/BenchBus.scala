package org.apache.spark

/** Listener-bus access for the benchmark's traced runs. Spark delivers
  * listener events asynchronously; a traced pass is only complete once
  * every job, task and query event it caused has been delivered. The
  * bus is package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
