package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}

/** The O(delta) commit invariant (VERDICT round-1 top item): per-wave
  * commit I/O must scale with the wave's DELTA (budget-bounded), not
  * with the frontier. Grow the frontier 10× while holding the wave
  * budget fixed and assert the bytes adopted by the wave-2 commit stay
  * in the same ballpark — a rewrite-the-frontier design fails this by
  * ~10×.
  */
class ScaleInvariantsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-scaleinv-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run a fixed-budget 2-wave crawl over `n` urls with n/10 seeds;
    * return (wave-2 commit bytes across frontier+processed adopts,
    * pending frontier size after wave 1).
    */
  private def probe(n: Long): (Long, Long) = {
    val spec = SyntheticCorpus.Spec(numUrls = n, numHosts = 20)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val runner = new WaveRunner(spark, corpus,
      TempDirs.make(s"graft-scaleinv-$n-").toString,
      CrawlConfig(maxDepth = 3, defaultMaxPerWave = 5, maxWaves = 2))
    runner.initSeeds((0L until n by 10).map(i => // n/10 seeds
      SyntheticCorpus.urlFor(i, spec) -> 1))
    runner.run()
    val commitBytes =
      runner.frontierT.currentManifest().get.files.map(_.bytes).sum +
        runner.processedT.currentManifest().get.files.map(_.bytes).sum
    val pending = runner.metrics()
      .filter(org.apache.spark.sql.functions.col("wave") === 1)
      .select("frontierPending").collect().head.getLong(0)
    (commitBytes, pending)
  }

  test("wave-commit bytes scale with the delta, not the frontier") {
    val (bytesSmall, pendingSmall) = probe(2000L)
    val (bytesBig, pendingBig) = probe(40000L)
    // the frontier really did grow ~10×…
    assert(pendingBig > 5 * pendingSmall,
      s"probe setup broken: pending $pendingSmall -> $pendingBig")
    // …but the wave-2 commit I/O stayed delta-sized (same budget)
    assert(bytesBig < 3 * bytesSmall,
      s"commit bytes scaled with the frontier: $bytesSmall -> $bytesBig " +
        s"(pending $pendingSmall -> $pendingBig)")
  }

  test("latest-try resolution input is O(distinct keys), not O(history)") {
    // Round-3 verdict #3: with recrawl on, every wave re-pops every
    // url, so the processed LOG grows O(waves × keys) — but the
    // latest-try rollup the scheduler reads must stay O(distinct keys
    // × live segments), bounded by merge-on-compact.
    val n = 60L
    val spec = SyntheticCorpus.Spec(numUrls = n, numHosts = 6)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val runner = new WaveRunner(spark, corpus,
      TempDirs.make("graft-latestroll-").toString,
      CrawlConfig(maxDepth = 0, defaultMaxPerWave = 1000, maxWaves = 16,
        recrawlEveryWaves = 1, recrawlSubtreeGate = false,
        compactEveryWaves = 2, compactMaxSegments = 4))
    runner.initSeeds((0L until n).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
    runner.run()

    val processedRows = runner.processedT.read().get.count()
    val latestRows = runner.latestT.read().get.count()
    assert(processedRows >= 10 * n, s"probe setup broken: $processedRows")
    // the rollup is what pendingSet/recrawlDue/frontierStates resolve
    // from — its live rows must stay far below the history…
    assert(latestRows < processedRows / 2,
      s"rollup rows O(history): $latestRows of $processedRows log rows")
    assert(latestRows <= n * (4 + 2),
      s"rollup rows exceed keys × live-segment bound: $latestRows")
    // …and resolve to one latest row per key: every seed fetched
    // (link-discovered depth-1 urls stay pending under maxDepth=0)
    val states = runner.frontierStates()
    assert(states.filter(org.apache.spark.sql.functions
      .col("state") === "fetched").count() === n)
    assert(states.filter(org.apache.spark.sql.functions
      .col("state") === "pending").count() === states.count() - n)
    // the rollup's committed wave tracks the processed log's
    assert(runner.latestT.committedWave() === runner.processedT.committedWave())
  }

  test("budget short-circuit pops exactly the ranked path's selection") {
    // With a uniform budget the discovery count can never reach, the
    // sketch-count gate skips the pop windows; a host policy for a
    // host that does not exist forces the ranked path with the SAME
    // effective budgets — crawl order and pages must be identical.
    import graft.core.Model.HostPolicy
    val spec = SyntheticCorpus.Spec(numUrls = 400, numHosts = 10)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val cfg = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 1000000, maxWaves = 3)
    def crawl(policies: Map[String, HostPolicy]) = {
      val r = new WaveRunner(spark, corpus,
        TempDirs.make("graft-budgetsc-").toString, cfg, policies)
      r.initSeeds((0L until 400L by 4).map(i =>
        SyntheticCorpus.urlFor(i, spec) -> 1))
      r.run()
      (r.crawlOrder().collect().map(_.toSeq).toSeq,
        r.pages().select("urlHash", "contentHash").collect()
          .map(_.toSeq).toSet)
    }
    val (gateOrder, gatePages) = crawl(Map.empty) // gate fires
    val (rankedOrder, rankedPages) = crawl(Map( // ranked path, same budgets
      "no-such-host.test" -> HostPolicy("no-such-host.test", 0L, 1000000)))
    assert(gateOrder === rankedOrder)
    assert(gatePages === rankedPages)
  }
  /** The benchmark's crawl_deep shape, small: a binding per-host
    * budget, robots, the sketch-prefiltered shuffled anti-joins and a
    * tiered compaction cycle every wave. Seeds committed, no wave run.
    */
  private def deepCrawl(name: String, waves: Int): WaveRunner = {
    val spec = SyntheticCorpus.Spec(numUrls = 2000, numHosts = 20, withRobots = true)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val cfg = CrawlConfig(maxDepth = 64, defaultMaxPerWave = 5, maxWaves = waves,
      assumeUniqueUrls = true, compactEveryWaves = 1, compactMaxSegments = 2,
      bloomMinFrontier = 0L, bloomCapacity = 100000L, broadcastSeenKeys = 0L)
    val robots = graft.operators.RobotsLoader.robotsDim(spark, corpus, cfg.userAgent)
      .localCheckpoint()
    val runner = new WaveRunner(spark, corpus,
      TempDirs.make(s"graft-$name-").toString, cfg, robotsDim = Some(robots))
    runner.initSeeds((0L until 2000L by 10).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
    runner
  }

  test("steady-state wave launches a bounded number of Spark jobs") {
    // A new per-wave job (a schema-inference scan, an extra aggregate)
    // fails here before a bench run sees it.
    val runner = deepCrawl("wavejobs", waves = 3)
    assert(runner.runWave(1))
    // the commit tail runs its jobs on threads of its own: each must
    // still carry the caller's job group and local properties (span
    // attribution and cancelJobGroup depend on them)
    val sc = spark.sparkContext
    sc.setJobGroup("graft-wave-2", "steady-state wave")
    sc.setLocalProperty("graft.test.marker", "wave-2")
    val (more, props) =
      try JobCount.properties(spark)(runner.runWave(2))
      finally { sc.clearJobGroup(); sc.setLocalProperty("graft.test.marker", null) }
    val jobs = props.size
    assert(more)
    assert(props.forall(_.getProperty("spark.jobGroup.id") == "graft-wave-2"),
      "a job of the wave lost the caller's job group")
    assert(props.forall(_.getProperty("graft.test.marker") == "wave-2"),
      "a job of the wave lost the caller's local property")
    val m = runner.metrics().filter(org.apache.spark.sql.functions.col("wave") === 2)
      .collect().head
    assert(m.getAs[Long]("scheduled") > 0 && m.getAs[Long]("newUrls") > 0,
      s"probe setup broken: $m")
    info(s"runWave(2): $jobs Spark jobs")
    assert(jobs <= WaveJobBudget, s"runWave(2) launched $jobs Spark jobs (budget $WaveJobBudget)")
  }

  /** Jobs of one steady-state wave in the test above, as measured. */
  private val WaveJobBudget = 18

  test("wave 1's pending ledger starts from the seed count, without a counting job") {
    val spec = SyntheticCorpus.Spec(numUrls = 400, numHosts = 10)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val cfg = CrawlConfig(maxDepth = 3, defaultMaxPerWave = 5, maxWaves = 1)
    val root = TempDirs.make("graft-ledger-")
    def runner() = new WaveRunner(spark, corpus, root.toString, cfg)
    def pending(r: WaveRunner) = r.metrics().filter(col("wave") === 1)
      .select("frontierPending").collect().head.getLong(0)
    val first = runner()
    first.initSeeds((0L until 400L by 10).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
    assert(first.runWave(1))
    val exact = first.frontierT.read().get.select("urlHash")
      .join(first.processedT.read().get.select("urlHash"), Seq("urlHash"), "left_anti")
      .count()
    assert(exact > 0, "probe setup broken: nothing pending after wave 1")
    assert(pending(first) === exact)
    // a crash right behind wave 1's frontier flip: a restarted runner
    // writes the wave's record from its staged counts and wave 0's record
    def replayRecord(): (Long, Int) = {
      Files.delete(root.resolve("staging").resolve("wave_1").resolve("_COMMITTED"))
      val r = runner()
      val (more, jobs) = JobCount(spark)(r.runWave(1))
      assert(more)
      (pending(r), jobs)
    }
    val (fromSeeds, seedJobs) = replayRecord()
    assert(fromSeeds === exact)
    assert(seedJobs === 0, "writing the wave's record ran a job")
    // with wave 0's record unreadable the exact count stands in
    Files.write(root.resolve("staging").resolve("wave_0").resolve("_COMMITTED"),
      Array.emptyByteArray)
    val (fromCount, countJobs) = replayRecord()
    assert(fromCount === exact)
    assert(countJobs > seedJobs)
  }


  test("steady waves run byte-identical generated code") {
    // Spark compiles one class per distinct generated source and keeps
    // the classes in a bounded per-JVM cache: a wave number inlined as
    // a literal would make every wave recompile the pipelines it
    // reaches, and a steady wave that needs more classes than the cache
    // holds recompiles them anyway. Pin both: consecutive steady waves
    // generate the same sources, and a wave generates few of them.
    // Their writes fork no process either (a chmod per file without
    // the native Hadoop library).
    val runner = deepCrawl("wavecode", waves = 5)
    (1 to 2).foreach(w => assert(runner.runWave(w)))
    val ((more3, wave3), procs3) =
      ProcessProbe.started(CodegenProbe.sources(spark)(runner.runWave(3)))
    val ((more4, wave4), procs4) =
      ProcessProbe.started(CodegenProbe.sources(spark)(runner.runWave(4)))
    assert(more3 && more4)
    assert(procs3.isEmpty && procs4.isEmpty, s"processes started: ${procs3 ++ procs4}")
    assert(wave3.nonEmpty, "probe setup broken: no whole-stage code captured")
    val (s3, s4) = (wave3.toSet, wave4.toSet)
    assert(s3 === s4, s"sources only in wave 3: ${(s3 -- s4).size}, only in wave 4: " +
      s"${(s4 -- s3).size}\n${(s3 -- s4).headOption.getOrElse("")}")
    assert(s3.size <= WaveSourceBudget,
      s"a steady wave generated ${s3.size} distinct whole-stage sources (budget $WaveSourceBudget)")
  }

  /** Distinct whole-stage sources of one steady wave above, as measured. */
  private val WaveSourceBudget = 25

  test("latest-try resolution reads no processed segment the rollup covers") {
    // the rollup merges the processed log up to its committed wave;
    // resolution reads the rollup plus only the newer segments, chosen
    // from the manifest. With a compaction every wave, the pop reads no
    // processed segment at all and the rollup append reads exactly the
    // wave's own delta.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    // (written directory, scanned root paths) of one query execution
    def io(p: SparkPlan): (String, Seq[String]) = {
      val all = nodes(p)
      (all.collectFirst { case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.toString }.getOrElse(""),
        all.collect { case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString) }
          .flatten)
    }
    val runner = deepCrawl("rollupscan", waves = 4)
    (1 to 2).foreach(w => assert(runner.runWave(w)))
    val merged = runner.latestT.committedWave()
    assert(merged === 2, "probe setup broken: the rollup did not merge wave 2")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        seen.add(io(qe.executedPlan))
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        record(qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try assert(runner.runWave(3))
    finally {
      org.apache.spark.scheduler.ListenerBusDrain.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val queries = seen.asScala.toSeq
    def processed(paths: Seq[String]) = paths.filter(_.contains("/processed/"))
    val pops = queries.filter(_._1.endsWith("/staging/wave_3/popped"))
    assert(pops.size === 1, "probe setup broken: no pop query")
    assert(processed(pops.head._2).isEmpty,
      s"the pop read processed segments: ${processed(pops.head._2)}")
    val delta = f"/processed/snapshots/v${runner.processedT.currentManifest().get.segments.last}%05d"
    val appends = queries.filter(q =>
      q._1.contains("/latest/snapshots/") && processed(q._2).nonEmpty)
    assert(appends.size === 1, "probe setup broken: no rollup append read the processed log")
    assert(processed(appends.head._2).map(p => p.substring(p.indexOf("/processed/"))) ===
      Seq(delta))
  }

  test("joinAll waits for every task, then rethrows the first failure") {
    val sc = spark.sparkContext
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val later = new IllegalArgumentException("later")
    val thrown = intercept[IllegalStateException] {
      WaveRunner.joinAll(
        () => throw first, // fails at once, on the calling thread
        () => { // a Spark job still running when the first task fails
          sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(400))
          finished.set(true)
        },
        () => { Thread.sleep(200); throw later })
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(later))
    assert(finished.get, "joinAll returned before every task had finished")
    org.apache.spark.scheduler.ListenerBusDrain.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job outlived joinAll")
  }
}
