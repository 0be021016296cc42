package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached the listeners, so a
    * pass's jobs, tasks and blocks are all recorded before it is closed.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
