package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
 *  trace written at the end of a run holds every job and task of the run.
 *  Lives in Spark's package because `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
