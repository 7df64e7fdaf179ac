package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * event posted so far has been delivered, so status-store reads
  * (`statusTracker`) and listener counts reflect all finished work. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
