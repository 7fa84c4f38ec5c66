package org.apache.spark

/** Spark keeps the listener-bus drain `private[spark]`; job-count tests
  * need it so that every event an operation posted is counted before they
  * assert.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
