package org.apache.spark

/** Spark keeps the listener-bus drain `private[spark]`; the benchmark needs
  * it so that job, stage and task counts read after an operation include
  * every event that operation posted.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
