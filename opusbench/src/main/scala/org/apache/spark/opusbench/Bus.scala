package org.apache.spark.opusbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so a traced window's job, stage and task events are all counted
  * before the window is read. The bus is private to Spark's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
