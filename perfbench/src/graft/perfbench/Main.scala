package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.PerfbenchHooks
import org.apache.spark.sql.SparkSession

import graft.core.{BoilerplateExtractor, UrlNormalizer}

/** Heap figures: the peak old-generation occupancy right after any
  * collection since the last `reset`, and the live heap on demand.
  */
object Heap {
  @volatile private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
          }.sum
          synchronized { if (old > peak) peak = old }
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0

  /** Heap still in use after a full collection: what the session and
    * the program retain between passes.
    */
  def liveMb(): Double = {
    // the second collection reclaims what the first one let Spark's
    // context cleaner release (unreferenced broadcasts and shuffles)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host-noise canaries, informational only: a fixed single-thread hash
  * loop, and `threads` threads each streaming over its own off-heap
  * buffer, together far larger than a last-level cache.
  */
object Canaries {
  def serialS(): Double = graft.Bench.canaryProbe()

  def memBandwidthGBs(threads: Int): Double = {
    val perThread = 32 << 20
    val bufs = (0 until threads).map { _ =>
      val b = java.nio.ByteBuffer.allocateDirect(perThread).order(java.nio.ByteOrder.nativeOrder())
      val l = b.asLongBuffer()
      var i = 0
      while (i < l.capacity()) { l.put(i, i.toLong); i += 1 }
      l
    }
    def sweep(): Long = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val fs = bufs.map { l =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              var s = 0L
              var r = 0
              while (r < 4) {
                var i = 0
                val n = l.capacity()
                while (i < n) { s += l.get(i); i += 1 }
                r += 1
              }
              s
            }
          })
        }
        fs.map(_.get()).sum
      } finally pool.shutdown()
    }
    sweep() // JIT
    val t0 = System.nanoTime()
    val sink = sweep()
    val sec = (System.nanoTime() - t0) / 1e9
    val gb = threads.toDouble * perThread * 4 / 1e9
    if (sink == 42L) gb / sec + 1e-12 else gb / sec
  }
}

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1>
  * <workDir> <catalogDataDir> <outFile>`. Writes the raw run record
  * (every timing sample, check value and, when traced, spans and Spark
  * task records) as JSON to `outFile`; `perfbench/run.py` turns it into
  * metrics.
  */
object Main {

  private def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread cost of the core extractor and URL canonicalizer over
    * the workload's own pages and their hrefs; repeated until a second
    * has passed so the figure is not one cold loop.
    */
  private def coreProbe(pages: Seq[(String, String)]): Map[String, Any] = {
    val hrefs = pages.flatMap { case (u, h) => BoilerplateExtractor.extractAll(h, u).links }
    def perItem[T](items: Seq[T])(f: T => Any): Double = {
      items.foreach(f)
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 1000000000L) { items.foreach(f); n += items.size }
      (System.nanoTime() - t0) / 1e3 / n
    }
    Map(
      "extract_us_per_page" -> perItem(pages) { case (u, h) => BoilerplateExtractor.extractAll(h, u) },
      "canonicalize_us_per_url" -> perItem(hrefs)(UrlNormalizer.canonicalize(_)),
      "pages" -> pages.size, "hrefs" -> hrefs.size)
  }

  private def passJson(p: Pass, traced: Boolean, jobs: Int): Map[String, Any] = Map(
    "traced" -> traced, "wall_s" -> p.wallS, "items" -> p.items, "jobs" -> jobs,
    "ops" -> p.ops.map { case (n, s) => Seq(n, s) }, "checks" -> p.checks,
    "layers" -> p.layers)

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedArg, secondsArg, traceArg, workDir, dataDir, outFile) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val runId = s"$workloadName-$seed-${if (traced) "trace" else "timed"}"

    val jvm0 = System.nanoTime()
    val canaries = Map(
      "serial_s" -> Canaries.serialS(), "membw_gbs" -> Canaries.memBandwidthGBs(cores),
      "probe_s" -> (System.nanoTime() - jvm0) / 1e9)
    Heap.install()

    val (spark, sessionS) = Workloads.time(session(cores, workDir))
    val sc = spark.sparkContext
    val workload: Workload = workloadName match {
      case "crawl_deep" => new CrawlWorkload(spark, deep = true, seed, cores, workDir)
      case "catalog" => new CatalogWorkload(spark, seed, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputS = (1 to Main.SetupReps).map(_ => workload.prepareInput())
    val warmupS = workload.warmUp()

    val off = new Tracer(sc, enabled = false, runId)
    val on = new Tracer(sc, enabled = true, runId)
    val recorder = new SparkRecorder(on)
    val passes = Seq.newBuilder[Map[String, Any]]
    var failures = Seq.empty[String]

    def runPass(k: Int, withTrace: Boolean, reference: Boolean = false): Unit = {
      if (withTrace) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val jobs0 = PerfbenchHooks.nextJobId(sc)
      val seen0 = recorder.jobCount
      try {
        val tracer = if (withTrace) on else off
        on.reference = reference
        val p = if (reference) workload.referencePass(spark, k, tracer)
                else workload.pass(spark, k, tracer)
        val jobs = PerfbenchHooks.nextJobId(sc) - jobs0
        if (withTrace) {
          PerfbenchHooks.drainListeners(sc)
          if (recorder.jobCount - seen0 != jobs)
            failures :+= s"pass $k: recorder saw ${recorder.jobCount - seen0} of $jobs jobs"
        }
        passes += passJson(p, withTrace, jobs) + ("reference" -> reference) +
          ("heap_live_mb" -> Heap.liveMb())
      } catch {
        case e: Exception =>
          failures :+= s"pass $k: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      } finally if (withTrace) {
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
    }

    // timed window: whole passes until `seconds` have elapsed. A traced
    // run makes one traced pass, as cold as a timed run's, for the
    // per-layer metrics; then a reference pass untraced and the same
    // reference pass traced, equally warm, for the tracing overhead
    Heap.reset()
    val t0 = System.nanoTime()
    if (traced) {
      runPass(0, withTrace = true)
      runPass(1, withTrace = false, reference = true)
      runPass(2, withTrace = true, reference = true)
    } else {
      var k = 0
      while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        runPass(k, withTrace = false)
        k += 1
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val heapPeakMb = Heap.peakMb

    val extra: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val core = coreProbe(workload.corePages)
        // the work-dominated bulk crawl, at local[cores] and at local[1]
        // on one corpus: the fetch-heavy phase mix and the scaling
        // baseline, kept off the timed runs because of the single-core
        // leg's cost
        val bulk: Map[String, Any] = workload match {
          case _: CrawlWorkload => try {
            val dir = s"$workDir/bulk"
            val cN = new CrawlWorkload(spark, deep = false, seed, cores, dir)
            cN.prepareInput()
            cN.warmUp()
            val jN = PerfbenchHooks.nextJobId(spark.sparkContext)
            val pN = cN.pass(spark, 0, off)
            val legN = passJson(pN, traced = false, PerfbenchHooks.nextJobId(spark.sparkContext) - jN)
            spark.stop()
            val s1 = session(1, workDir)
            val leg1 =
              try {
                val j1 = PerfbenchHooks.nextJobId(s1.sparkContext)
                val p1 = new CrawlWorkload(s1, deep = false, seed, cores, dir).pass(s1, 1, off)
                passJson(p1, traced = false, PerfbenchHooks.nextJobId(s1.sparkContext) - j1)
              } finally s1.stop()
            Map("cN" -> legN, "c1" -> leg1)
          } catch {
            case e: Exception =>
              failures :+= s"bulk leg: ${e.getClass.getSimpleName}: ${e.getMessage}"
              e.printStackTrace()
              Map.empty
          }
          case _ => Map.empty
        }
        Map("core" -> core, "bulk" -> bulk, "spans" -> on.toJson, "spark" -> recorder.toJson)
      }

    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "run_id" -> runId, "canaries" -> canaries,
      "families" -> CatalogWorkload.Families.toMap,
      "setup" -> Map("session_s" -> sessionS, "input_s" -> inputS, "warmup_s" -> warmupS),
      "window_s" -> windowS, "heap_peak_mb" -> heapPeakMb,
      "main_s" -> (System.nanoTime() - jvm0) / 1e9,
      "passes" -> passes.result(), "failures" -> failures) ++ extra
    Files.write(Paths.get(outFile), Json.write(record).getBytes("UTF-8"))
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  /** Input generation repeats this many times; set-up reports the median. */
  val SetupReps = 3
}
