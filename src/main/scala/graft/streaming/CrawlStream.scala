package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.crawl.WaveRunner

/** Structured-Streaming facade over the wave loop (SURVEY.md §7.1#7):
  * each micro-batch of a rate stream triggers one crawl wave via
  * `foreachBatch`, replacing the reference's 10-second crawlnode poll
  * loop (reference: crawler/crawlnode.py:113-130). State lives in the
  * runner's snapshot tables, so the stream is stateless from Spark's
  * point of view and restart-safe from ours: a restarted query resumes
  * at [[WaveRunner.nextWave]], so it first finishes a wave whose commit
  * tail a kill cut off.
  */
object CrawlStream {

  /** Start a streaming query that advances one wave per trigger.
    * `drained` flips once a wave finds nothing to schedule.
    */
  def start(spark: SparkSession, runner: WaveRunner, drained: AtomicBoolean,
            maxWaves: Int, triggerMs: Long = 1000L): StreamingQuery = {
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", 1)
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        val next = runner.nextWave()
        if (next > maxWaves || !runner.runWave(next)) drained.set(true)
        ()
      }
      .start()
  }

  /** Drive waves synchronously through the streaming facade until the
    * crawl drains or `maxWaves` complete. Returns the last wave.
    */
  def runBatches(spark: SparkSession, runner: WaveRunner, maxWaves: Int,
                 timeoutMs: Long = 600000L): Int = {
    val drained = new AtomicBoolean(false)
    val q = start(spark, runner, drained, maxWaves, triggerMs = 100L)
    try {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!drained.get() && runner.nextWave() <= maxWaves &&
             System.nanoTime() < deadline) {
        Thread.sleep(200)
      }
      runner.frontierT.committedWave()
    } finally q.stop()
  }
}
