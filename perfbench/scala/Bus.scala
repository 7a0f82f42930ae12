package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the traced
  * run waits for every queued event to reach its listeners before it closes
  * a pass, so no job, task or batch is lost or attributed to the next pass.
  */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
