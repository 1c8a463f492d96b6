package org.apache.spark

/** Lets a spec wait until every listener has seen the events posted so far. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
