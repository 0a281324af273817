package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
