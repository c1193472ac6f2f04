package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two Spark-internal reads the benchmark makes. Both only read
  * scheduler state; neither posts an event or launches a job.
  */
object PerfbenchHooks {

  /** Id the next submitted job will get. Job ids are sequential per
    * context, so the difference across a call is the number of jobs
    * it launched, with or without a listener installed.
    */
  def nextJobId(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get()

  /** Wait until every listener event posted so far has been delivered,
    * so the traced run's task and plan records are complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
