package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every event
  * posted so far has reached every listener, so an operation's listener
  * events are attributed before the next operation starts.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
