package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus (`private[spark]`), so counters
  * read at a pass boundary include every event of the pass.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
