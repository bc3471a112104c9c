package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a listener's counts are read only after every event
  * posted so far has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
