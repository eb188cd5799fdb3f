package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: wait until the listener
  * bus has delivered every event posted so far, so that all jobs, stages
  * and tasks of one traced operation are attributed to it before the next
  * operation starts. Used only in traced runs.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
