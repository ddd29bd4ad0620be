package org.apache.spark

/** Waits until every event posted so far on the scheduler's listener bus
  * has reached its listeners, so a test can read a listener's counts
  * right after the jobs it watched have finished. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
