package org.apache.spark

/** Drains the driver's listener bus so that every event of a finished
  * action has reached the registered listeners before they are read. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
