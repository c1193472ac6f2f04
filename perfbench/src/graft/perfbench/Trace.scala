package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanosecond resolution: one clock for spans
  * and for Spark's task launch/finish times, so task intervals can be
  * placed inside span intervals.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans recorded by the benchmark around each public call into the
  * program (name, family, start, end, parent, run id), kept in memory
  * and written out when the run ends. With tracing off nothing is
  * recorded and no job group is set.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {

  final case class Span(id: Int, name: String, family: String, parent: Int,
                        start: Double, var end: Double = -1)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Spans recorded from now on belong to the overhead comparison, not
    * to the pass the per-layer metrics come from.
    */
  var reference = false
  private val referenceIds = mutable.Set.empty[Int]

  /** Span of the innermost open call: jobs launched from threads that
    * did not inherit the job group are attributed to it.
    */
  @volatile var current: Int = -1

  def span[T](name: String, family: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, family, stack.headOption.map(_.id).getOrElse(-1),
        Clock.nowMs())
      spans += s
      if (reference) referenceIds += s.id
      stack = s :: stack
      current = s.id
      sc.setJobGroup(s"pb:${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.end = Clock.nowMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            current = p.id
            sc.setJobGroup(s"pb:${p.id}", p.name, interruptOnCancel = false)
          case None =>
            current = -1
            sc.clearJobGroup()
        }
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "family" -> s.family, "parent" -> s.parent,
    "start" -> s.start, "end" -> s.end, "run" -> runId,
    "reference" -> referenceIds(s.id)))
}

/** Passive recorder of Spark execution: job, stage and task metrics
  * keyed by the span whose job group launched them, and the planning
  * phases of every query execution. It only observes events the
  * scheduler posts anyway; it launches no jobs.
  */
final class SparkRecorder(tracer: Tracer) extends SparkListener with QueryExecutionListener {

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Int)]()      // (span, jobId)
  private val stages = new ConcurrentLinkedQueue[(Int, Int)]()    // (span, stageId)
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.drop(3).toInt).getOrElse(tracer.current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobs.add(span -> e.jobId)
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(stageSpan.getOrDefault(e.stageInfo.stageId, tracer.current) ->
      e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(Map(
      "span" -> stageSpan.getOrDefault(e.stageId, tracer.current),
      "launch" -> i.launchTime.toDouble, "finish" -> i.finishTime.toDouble,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "peak_mem" -> m.peakExecutionMemory))
  }

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) plans.add(Map(
      "start" -> phases.map(_.startTimeMs).min.toDouble,
      "plan_ms" -> phases.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def jobCount: Int = jobs.size

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.map { case (s, j) => Seq(s, j) },
    "stages" -> stages.asScala.toSeq.map { case (s, j) => Seq(s, j) },
    "tasks" -> tasks.asScala.toSeq,
    "plans" -> plans.asScala.toSeq)
}
