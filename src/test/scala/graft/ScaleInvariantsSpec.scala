package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
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
      Files.createTempDirectory(s"graft-scaleinv-$n-").toString,
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
      Files.createTempDirectory("graft-latestroll-").toString,
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
        Files.createTempDirectory("graft-budgetsc-").toString, cfg, policies)
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
  test("steady-state wave launches a bounded number of Spark jobs") {
    // the benchmark's crawl_deep shape, small: a binding per-host
    // budget, robots, the sketch-prefiltered shuffled anti-joins and a
    // tiered compaction cycle every wave. A new per-wave job (a
    // schema-inference scan, an extra aggregate) fails here before a
    // bench run sees it.
    val spec = SyntheticCorpus.Spec(numUrls = 2000, numHosts = 20, withRobots = true)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val cfg = CrawlConfig(maxDepth = 64, defaultMaxPerWave = 5, maxWaves = 3,
      assumeUniqueUrls = true, compactEveryWaves = 1, compactMaxSegments = 2,
      bloomMinFrontier = 0L, bloomCapacity = 100000L, broadcastSeenKeys = 0L)
    val robots = graft.operators.RobotsLoader.robotsDim(spark, corpus, cfg.userAgent)
      .localCheckpoint()
    val runner = new WaveRunner(spark, corpus,
      Files.createTempDirectory("graft-wavejobs-").toString, cfg, robotsDim = Some(robots))
    runner.initSeeds((0L until 2000L by 10).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
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
    assert(jobs <= WaveJobBudget, s"runWave(2) launched $jobs Spark jobs (budget $WaveJobBudget)")
  }

  /** Jobs of one steady-state wave in the test above, as measured. */
  private val WaveJobBudget = 21

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
