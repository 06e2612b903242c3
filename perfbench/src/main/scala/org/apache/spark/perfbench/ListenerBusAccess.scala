package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is package-private to Spark; a traced
  * run needs it so that every job event is counted before it is read.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
