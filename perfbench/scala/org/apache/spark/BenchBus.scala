package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted
  * so far, so a phase's counters are complete when the phase is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
