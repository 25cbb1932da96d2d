package org.apache.spark

/** Test access to the listener bus's drain (package-private in Spark): once
  * it returns, every listener has seen the events of all jobs already run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
