package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a listener's counters are complete for the action that
  * just returned. Lives under `org.apache.spark` because the bus is
  * `private[spark]`; the traced run calls it once per operation.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
