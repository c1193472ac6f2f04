package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{ListenerBusDrain, SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches: a listener sees every job
  * start, and draining the listener bus before and after the block
  * makes the count exact (no earlier job leaks in, no job of the block
  * is still in flight on the bus).
  */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val (r, jobs) = properties(spark)(f)
    (r, jobs.size)
  }

  /** The local properties (job group, scheduler pool, custom keys)
    * each job the block launches was submitted with, one per job.
    */
  def properties[T](spark: SparkSession)(f: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new Properties))
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
