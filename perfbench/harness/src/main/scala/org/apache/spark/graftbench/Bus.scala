package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal hook the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the
  * listener bus has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
