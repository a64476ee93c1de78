// Under org.apache.spark to reach the private[spark] listener bus.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object Bus {

  /** Block until every queued listener event has been delivered, so job
    * counters read after a call include all of its jobs.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
