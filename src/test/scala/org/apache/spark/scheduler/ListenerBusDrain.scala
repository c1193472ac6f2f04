package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The one Spark-internal call the job-count tests need. */
object ListenerBusDrain {

  /** Wait until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
