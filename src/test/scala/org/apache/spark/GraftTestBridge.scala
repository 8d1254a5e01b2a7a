package org.apache.spark

/** The one Spark-internal call the listener-based specs need: wait until
  * the listener bus has delivered every event posted so far, so a spec
  * counts all the jobs and query executions of the call it just made. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
