package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{ListenerBusDrain, SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches: a listener sees every job
  * start, and draining the listener bus before and after the block
  * makes the count exact (no earlier job leaks in, no job of the block
  * is still in flight on the bus).
  */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
