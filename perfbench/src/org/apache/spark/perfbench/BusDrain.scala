package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * bench listener's counters are complete before they are read, and no
  * late engine metrics append races the deletion of a table root. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drains the active context's bus, if there is one. */
  def active(): Unit = SparkContext.getActive.foreach(apply)
}
