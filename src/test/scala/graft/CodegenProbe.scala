package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block makes Spark's code generator do.
  *
  * Pin sources, not compile counts: Spark caches compiled classes per
  * JVM in a bounded LRU keyed by (context class loader, source), and
  * which cache segment an entry lands in follows the loader's identity
  * hash, so how many classes a block compiles varies from JVM to JVM.
  */
object CodegenProbe {

  /** Classes the block compiled (Janino runs), in this JVM. */
  def compiled[T](f: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The whole-stage codegen sources of every query execution the block
    * runs, one entry per pipeline, in no particular order. AQE query
    * stages are walked too; the class names keep their stage numbers.
    * Reading a source recompiles it when the cache has dropped it, so
    * do not combine this with [[compiled]] over the same block.
    */
  def sources[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      ListenerBusDrain.drain(sc)
      (r, seen.asScala.toSeq.flatMap(qe => codegenStringSeq(qe.executedPlan).map(_._2)))
    } finally spark.listenerManager.unregister(listener)
  }
}
