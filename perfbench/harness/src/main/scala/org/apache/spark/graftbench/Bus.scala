package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the harness waits for every queued event before it aggregates. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
