package org.apache.spark

/** Listener-bus access the public API does not offer. Spark delivers
  * listener events asynchronously; a span that reads its counts before
  * the bus is drained can see zero jobs for work that did run. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
