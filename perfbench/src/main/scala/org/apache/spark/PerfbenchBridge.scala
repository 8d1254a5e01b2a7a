package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so that the jobs,
  * tasks and query executions of a timed call are all counted before the
  * next call starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
