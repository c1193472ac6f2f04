package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._

import graft.state.{ParquetDir, StateFiles}

/** Streaming URL dedup — the D1/D4 seen-set semantics as a genuine
  * Structured Streaming operator for pipelines that ingest a LIVE
  * discovery stream instead of batch waves (the streaming twin of
  * [[graft.operators.SeenSet]], like [[Sessionize]] is the streaming
  * twin of the batch sessionizer).
  *
  * `dropDuplicatesWithinWatermark` keeps per-key state only inside the
  * watermark horizon: state is O(keys-per-horizon), not O(all keys
  * ever) — the property that lets the operator run indefinitely at
  * web scale (Spark's dropDuplicates WITHOUT a watermark grows state
  * forever, which at 10^10 urls is an OOM by design). The horizon is
  * the crawl's re-crawl frequency: a url re-appearing after the
  * horizon is legitimately schedulable again, which is exactly the
  * reference's crawl-frequency semantics (taskmanager.py:338-361)
  * expressed in event time.
  *
  * Output mode: append. The first arrival of each urlHash inside a
  * horizon survives; late rows older than the watermark are dropped
  * by the engine.
  */
object StreamDedup {

  /** Deduplicate a discovery stream by `urlHash` within the event-time
    * horizon. Input must carry an event-time column `ts` (timestamp)
    * and a `urlHash` column.
    */
  def dedupStream(discoveries: DataFrame, horizon: String): DataFrame =
    discoveries
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("urlHash")

  /** Drive the REAL streaming operator over ordered batches of
    * (urlHash, sec) rows and return the emitted rows as a batch
    * DataFrame (`url_hash`, `sec`) — the verification seam that lets a
    * SQL oracle gate the streaming twin end to end: in-horizon
    * suppression across micro-batches, watermark advance, state expiry
    * and post-horizon re-emission all happen through the genuine
    * `dropDuplicatesWithinWatermark` state store.
    *
    * One write job stages every batch, a directory each. The driver
    * then moves batch k into the parquet file stream's watched
    * directory with one rename, and batch k+1 only once
    * `processAllAvailable()` has returned: that call returns after a
    * trigger that began after it found no new file, so no micro-batch
    * holds rows of two batches. The order of batches is the driver's,
    * not the files' timestamps, so no `maxFilesPerTrigger` is needed. A
    * local rename moves a whole batch at once; where a rename is not
    * atomic (an object store), a batch may split over micro-batches.
    * That emits the same rows when the watermark a part sets (its
    * latest `sec` minus the horizon) is below every row of the batch,
    * so none turns late, and expires no key the batch repeats; the
    * fixture of [[graft.queries.QueryCatalog.qStreamDedup]] meets both.
    * Nothing is collected to the driver: the emitted rows go to an
    * output directory through `foreachBatch`, and come back read from
    * there and materialized by `localCheckpoint` before the replay's
    * files are deleted.
    *
    * The query runs in its own session, so the caller's conf is never
    * touched. Its conf holds the state-shard count: one per 4,000 rows
    * of the largest batch (counted by the staging job as it writes), at
    * least one and at most the caller's `spark.sql.shuffle.partitions`.
    * Every micro-batch pays a fixed open/commit cost PER STATE
    * PARTITION (32 shards for a few thousand keys measured 2× the
    * replay wall at sf0.1). The conf also routes the checkpoint and
    * state-store files through a Hadoop `FileSystem` with
    * [[ParquetDir.LocalWrites]], so a local replay forks no process
    * (Hadoop's `FileContext` manager forks `readlink` and `chmod`
    * without the native library).
    */
  def replayBatches(spark: SparkSession, batches: Seq[DataFrame], horizon: String): DataFrame = {
    // on tmpfs when available: every micro-batch writes delta and
    // commit files per state partition (placement, not semantics; a
    // cluster writes these to its DFS)
    val base =
      if (Files.isDirectory(Paths.get("/dev/shm"))) Paths.get("/dev/shm")
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val root = Files.createTempDirectory(base, "graft-stream-replay-")
    val in = Files.createTempDirectory(root, "in-") // watched from the start
    val Seq(staged, out, ckpt) = Seq("staged", "out", "ckpt").map(root.resolve(_).toString)
    try {
      val rows = batches.indices.map(i => count(when(col("batch") === i, 1)))
      val sizes = Observation()
      ParquetDir.writer(batches.zipWithIndex.map { case (b, i) => b.withColumn("batch", lit(i)) }
        .reduce(_ union _).observe(sizes, rows.head, rows.tail: _*))
        .partitionBy("batch").parquet(staged)
      val keys = sizes.get.values.map(_.asInstanceOf[Long]).max
      val shards = math.min(math.max(1L, keys / 4000),
        spark.conf.get("spark.sql.shuffle.partitions").toLong)
      val replay = spark.newSession()
      (ParquetDir.LocalWrites ++ Map(
        "spark.sql.shuffle.partitions" -> shards.toString,
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[FileSystemBasedCheckpointFileManager].getName))
        .foreach { case (k, v) => replay.sessionState.conf.setConfString(k, v) }
      val emit: (DataFrame, Long) => Unit =
        (b, _) => ParquetDir.writer(b).mode(SaveMode.Append).parquet(out)
      val q = dedupStream(replay.readStream.schema(batches.head.schema)
          .option("recursiveFileLookup", "true") // a batch is a subdirectory
          .parquet(in.toString)
          .withColumn("ts", timestamp_seconds(col("sec"))), horizon)
        .select(col("urlHash").as("url_hash"), col("sec"))
        .writeStream.option("checkpointLocation", ckpt).foreachBatch(emit).start()
      try batches.indices.foreach { i =>
        val batch = Paths.get(staged, s"batch=$i") // none for an empty batch
        if (StateFiles.exists(batch)) StateFiles.rename(batch, in.resolve(i.toString))
        q.processAllAvailable()
      } finally q.stop()
      ParquetDir.read(spark, out).localCheckpoint(true)
    } finally StateFiles.delete(root)
  }
}
