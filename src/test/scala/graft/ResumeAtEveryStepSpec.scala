package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.crawl.WaveRunner.WaveRecord
import graft.state.StateFiles
import graft.streaming.CrawlStream

/** The resume contract at every commit step of a wave: a kill at any
  * named step ([[WaveRunner.failPoint]]), or a process death before
  * any state-file operation ([[StateFiles.beforeOp]]), then a restarted
  * runner's `run()`, reproduces the uninterrupted crawl (order, seen
  * set, page text, metrics rows, the wave records) with no page of a
  * staged wave fetched again, no segment directory outside the
  * manifests and no staged artifacts of a done wave.
  */
class ResumeAtEveryStepSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-resume-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spec = SyntheticCorpus.Spec(numUrls = 160, numHosts = 6)
  private lazy val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
  private def tmp(p: String) = TempDirs.make(p).toString

  // every step runs every wave: both sketches (bloomMinFrontier 0), the
  // rollup append, all three compactions and the vacuum; first-attempt
  // deferrals add the misses job and retries
  private val config = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 8, maxWaves = 4,
    bloomMinFrontier = 0L, broadcastSeenKeys = 0L, compactEveryWaves = 1,
    compactMaxSegments = 2, vacuumOnCompact = true)
  private val seeds = Seq(SyntheticCorpus.urlFor(0, spec) -> 1,
    SyntheticCorpus.urlFor(5, spec) -> 2)

  private def runner(root: String, cfg: CrawlConfig = config): WaveRunner = {
    val r = new WaveRunner(spark, corpus, root, cfg)
    r.deferInjector = Some(pmod(col("urlHash"), lit(4L)) === 0L && col("attempts") === 0)
    r
  }

  /** Every fail point of a compacting wave: the four sequential steps,
    * then the tail's, chain by chain.
    */
  private val Steps = Seq("stage", "processed", "frontier", "drop-staging",
    "bloom", "popbloom",
    "compact-frontier",
    "rollup", "compact-processed", "compact-latest",
    "vacuum")
  private val TailSteps = Steps.drop(4)

  /** Wave 0's fail points: the seed commit, then both sketch chains. */
  private val Wave0Steps = Seq("frontier", "bloom", "popbloom")

  /** What a crawl leaves: the parts the resume contract covers. */
  private case class Outcome(order: Seq[Seq[Any]], seen: Set[Seq[Any]], text: Set[Seq[Any]],
                             metrics: Seq[Seq[Any]], records: Map[String, Option[WaveRecord]])

  /** Wave `w`'s `_COMMITTED` record, if readable. */
  private def record(root: String, w: Int): Option[WaveRecord] =
    WaveRunner.readRecord[WaveRecord](Paths.get(root, "staging", s"wave_$w", "_COMMITTED"))

  private def outcome(r: WaveRunner, root: String): Outcome = {
    // every wave's record: its counts and running totals (elapsed time aside)
    val records = StateFiles.list(Paths.get(root, "staging")).map { dir =>
      dir.getFileName.toString ->
        WaveRunner.readRecord[WaveRecord](dir.resolve("_COMMITTED"))
          .map(c => c.copy(metrics = c.metrics.map(_.copy(elapsedMs = 0L))))
    }.toMap
    Outcome(
      r.crawlOrder().collect().map(_.toSeq).toSeq,
      r.seen().collect().map(_.toSeq).toSet,
      r.pages().select("urlHash", "wave", "title", "text").collect().map(_.toSeq).toSet,
      r.metrics().drop("elapsedMs").orderBy("wave").collect().map(_.toSeq).toSeq,
      records)
  }

  /** The waves whose staging directory holds more than its markers. */
  private def staged(root: String): Set[String] = {
    val s = Files.list(Paths.get(root, "staging"))
    try s.iterator().asScala.filter { wave =>
      val entries = Files.list(wave)
      try entries.iterator().asScala.exists(!_.getFileName.toString.startsWith("_"))
      finally entries.close()
    }.map(_.getFileName.toString).toSet
    finally s.close()
  }

  /** Segment directories on disk that no manifest lists. */
  private def orphans(r: WaveRunner, root: String): Seq[String] =
    Seq(r.frontierT, r.processedT, r.latestT).flatMap { t =>
      t.currentManifest().toSeq.flatMap { m =>
        val live = m.segments.map(v => f"v$v%05d").toSet
        val s = Files.list(Paths.get(root, t.name, "snapshots"))
        try s.iterator().asScala.map(_.getFileName.toString).filterNot(live).map(d => s"${t.name}/$d")
          .toList
        finally s.close()
      }
    }

  private lazy val (baseline, baselineRoot, baselineSteps) = {
    val root = tmp("graft-resume-base-")
    val r = runner(root)
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[String]
    r.failPoint = steps.add(_)
    r.initSeeds(seeds)
    r.run()
    (r, root, steps.asScala.toList)
  }
  private lazy val expected = outcome(baseline, baselineRoot)

  /** Crawl wave 1, then wave 2 under `kill`, which sees each step's
    * name and may throw. Returns the state root and the killed runner.
    */
  private def killedAtWave2(label: String, kill: String => Unit): (String, WaveRunner) = {
    val root = tmp(s"graft-resume-$label-")
    val r1 = runner(root)
    r1.initSeeds(seeds)
    assert(r1.runWave(1))
    r1.failPoint = kill
    intercept[IllegalStateException](r1.runWave(2))
    (root, r1)
  }

  /** Throws at `step` only: every other chain of the tail runs on. */
  private def failAt(step: String): String => Unit = s =>
    if (s == step) throw new IllegalStateException(s"simulated kill at $step")

  /** Throws at `step` and at every step reached after it: a process
    * death, where no chain finishes another step.
    */
  private def dieAt(step: String): String => Unit = {
    val dead = new java.util.concurrent.atomic.AtomicBoolean(false)
    s => {
      if (s == step) dead.set(true)
      if (dead.get) throw new IllegalStateException(s"simulated kill at $step")
    }
  }

  /** `fetchedBefore`: the pages fetched before the restart in waves
    * whose stage is done; the resumed crawl fetches every other page of
    * the uninterrupted crawl exactly once.
    */
  private def assertResumed(label: String, root: String, fetchedBefore: Long,
                            resumed: WaveRunner): Unit = {
    assert(fetchedBefore + resumed.extractCounter.value ===
      baseline.extractCounter.value, s"$label: a resumed wave re-fetched pages")
    val got = outcome(resumed, root)
    assert(got.order === expected.order, s"$label: crawl order")
    assert(got.seen === expected.seen, s"$label: seen set")
    assert(got.text === expected.text, s"$label: page text")
    assert(got.metrics === expected.metrics, s"$label: metrics rows")
    assert(got.records === expected.records, s"$label: wave records")
    assert(orphans(resumed, root).isEmpty, s"$label: segments outside the manifests")
    assert(staged(root) === staged(baselineRoot), s"$label: staged artifacts kept")
  }

  test("every named step is reached by an uninterrupted compacting wave") {
    val waves = baseline.frontierT.committedWave()
    assert(waves === config.maxWaves, "probe setup broken: the crawl drained early")
    assert(baselineSteps.take(Wave0Steps.size) === Wave0Steps)
    val waveSteps = baselineSteps.drop(Wave0Steps.size)
    assert(waveSteps.toSet === Steps.toSet)
    assert(waveSteps.size === waves * Steps.size)
    // per wave: the four sequential steps first, the vacuum last
    waveSteps.grouped(Steps.size).foreach { wave =>
      assert(wave.take(4) === Steps.take(4))
      assert(wave.last === "vacuum")
    }
    assert(expected.metrics.exists(_(4) != 0L), "probe setup broken: no deferrals")
    assert(expected.records.size === waves + 1 && expected.records.values.forall(_.isDefined),
      s"wave records: ${expected.records}")
    assert(orphans(baseline, baselineRoot).isEmpty)
    // only the last wave keeps its popped set and counts
    assert(staged(baselineRoot) === Set(s"wave_$waves"))
  }

  test("run() after a kill at any step reproduces the uninterrupted crawl") {
    Steps.foreach { step =>
      val (root, r1) = killedAtWave2(step, failAt(step))
      val r2 = runner(root)
      r2.run()
      assertResumed(s"kill at $step", root, r1.extractCounter.value, r2)
      StateFiles.delete(Paths.get(root))
    }
  }

  test("run() after a process death inside the tail reproduces the uninterrupted crawl") {
    // no chain finishes another step after the kill
    TailSteps.foreach { step =>
      val (root, r1) = killedAtWave2(s"die-$step", dieAt(step))
      val r2 = runner(root)
      r2.run()
      assertResumed(s"death at $step", root, r1.extractCounter.value, r2)
      StateFiles.delete(Paths.get(root))
    }
  }

  test("a restart finishes the wave whose commit tail was cut before the next") {
    val (root, r1) = killedAtWave2("next", dieAt("bloom"))
    assert(r1.frontierT.committedWave() === 2)
    val r2 = runner(root)
    assert(r2.nextWave() === 2, "the flipped wave's tail is unfinished")
    assert(r2.runWave(2))
    assert(r2.extractCounter.value === 0L, "finishing the tail re-fetched pages")
    assert(r2.nextWave() === 3)
    assert(r2.metrics().filter(col("wave") === 2).count() === 1L)
    assert(record(root, 2).exists(_.metrics.exists(_.wave == 2)), "wave 2's record")
  }

  test("a CrawlStream restart after a tail kill reproduces the uninterrupted crawl") {
    val (root, r1) = killedAtWave2("stream", dieAt("compact-frontier"))
    val r2 = runner(root)
    assert(CrawlStream.runBatches(spark, r2, config.maxWaves) === config.maxWaves)
    assertResumed("stream restart", root, r1.extractCounter.value, r2)
  }

  /** Runs `f` with the mutating state-file operations under `root`
    * counted, the `dieAt`-th and every later one throwing: a process
    * death just before that operation (0: none throws). Returns the
    * number of operations reached.
    */
  private def underOps(root: String, dieAt: Int)(f: => Unit): Int = {
    val ops = new AtomicInteger
    StateFiles.beforeOp = (_, p) =>
      if (p.startsWith(root) && ops.incrementAndGet() >= dieAt && dieAt > 0)
        throw new IllegalStateException(s"simulated death before state-file operation $dieAt")
    try f finally StateFiles.beforeOp = (_, _) => ()
    ops.get
  }

  test("a process death before any state-file operation of wave 0 resumes the crawl") {
    val probe = tmp("graft-resume-ops0-")
    val ops = underOps(probe, 0)(runner(probe).initSeeds(seeds))
    StateFiles.delete(Paths.get(probe))
    info(s"wave 0: $ops state-file operations")
    assert(ops >= 5, "probe setup broken: the staged seed count, the seed commit, a sketch " +
      "and the marker")
    (1 to ops).foreach { n =>
      val root = tmp(s"graft-resume-op0-$n-")
      underOps(root, n)(intercept[IllegalStateException](runner(root).initSeeds(seeds)))
      // once the seeds are committed, run() alone finishes wave 0
      val r2 = runner(root)
      if (!r2.frontierT.exists()) r2.initSeeds(seeds)
      r2.run()
      assertResumed(s"death before operation $n of wave 0", root, 0L, r2)
      StateFiles.delete(Paths.get(root))
    }
  }

  /** The state after waves 0 and 1, and the pages they fetched. */
  private lazy val (waveOneRoot, waveOneFetched) = {
    val root = tmp("graft-resume-wave1-")
    val r = runner(root)
    r.initSeeds(seeds)
    assert(r.runWave(1))
    (Paths.get(root), r.extractCounter.sum)
  }

  private def copyOfWaveOne(prefix: String): String = {
    val root = TempDirs.make(prefix)
    val s = Files.walk(waveOneRoot)
    try s.iterator().asScala.foreach { p =>
      val to = root.resolve(waveOneRoot.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally s.close()
    root.toString
  }

  test("a process death before any state-file operation of a compacting wave resumes the crawl") {
    val probe = copyOfWaveOne("graft-resume-ops2-")
    val ops = underOps(probe, 0)(assert(runner(probe).runWave(2)))
    StateFiles.delete(Paths.get(probe))
    info(s"wave 2: $ops state-file operations")
    (1 to ops).foreach { n =>
      val root = copyOfWaveOne(s"graft-resume-op2-$n-")
      val r1 = runner(root)
      underOps(root, n)(intercept[IllegalStateException](r1.runWave(2)))
      // a death inside the stage, before its marker, stages the wave
      // again: only then are its pages fetched a second time
      val staged = Files.exists(Paths.get(root, "staging", "wave_2", "_STAGED"))
      val r2 = runner(root)
      r2.run()
      assertResumed(s"death before operation $n of wave 2", root,
        waveOneFetched + (if (staged) r1.extractCounter.sum else 0L), r2)
      StateFiles.delete(Paths.get(root))
    }
  }

  test("a state root without a wave-0 marker resumes with no extra job") {
    // the sketches are gated off here, so every job a resume of wave 0
    // runs is a count
    val gated = CrawlConfig().bloomMinFrontier
    def gatedRunner(root: String) = runner(root, config.copy(bloomMinFrontier = gated))
    // a kill right after the seed commit: the staged seed count is all
    // wave 0's record needs
    val root = tmp("graft-resume-nomarker-")
    val r0 = gatedRunner(root)
    r0.failPoint = dieAt("frontier")
    intercept[IllegalStateException](r0.initSeeds(seeds))
    val r = gatedRunner(root)
    assert(r.nextWave() === 0)
    val (_, jobs) = JobCount(spark)(r.initSeeds(Nil))
    assert(jobs === 0)
    assert(Files.exists(Paths.get(root, "staging", "wave_0", "_COMMITTED")))
    assert(r.nextWave() === 1)
    r.run()
    assertResumed("no wave-0 marker", root, 0L, r)
    StateFiles.delete(Paths.get(root))
    // a wiped staging directory: the seed count is lost, and one count
    // of the frontier stands in for it
    val wiped = tmp("graft-resume-wiped-")
    gatedRunner(wiped).initSeeds(seeds)
    StateFiles.delete(Paths.get(wiped, "staging"))
    val rw = gatedRunner(wiped)
    assert(rw.nextWave() === 0)
    val (_, countJobs) = JobCount(spark)(rw.initSeeds(Nil))
    // one count: as many jobs as counting the frontier takes (an
    // adaptive plan runs its shuffle stage as a job of its own)
    val (_, oneCount) = JobCount(spark)(rw.frontierT.read().get.count())
    assert(countJobs === oneCount)
    assert(rw.nextWave() === 1)
    rw.run()
    assertResumed("wiped staging", wiped, 0L, rw)
    StateFiles.delete(Paths.get(wiped))
  }

  test("an idle wave takes the same commit steps as a staged one") {
    // the seed is refused once and waits retryBackoffWaves = 2: wave 2
    // has nothing schedulable but work left, so it commits idle
    val seed = SyntheticCorpus.urlFor(0, spec)
    val cfg = CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 6,
      retryBackoffWaves = 2, bloomMinFrontier = 0L, compactEveryWaves = 1,
      compactMaxSegments = 2)
    val root = tmp("graft-resume-idle-")
    val r = new WaveRunner(spark, corpus, root, cfg)
    r.deferInjector = Some(col("url") === seed && col("attempts") === 0)
    r.initSeeds(Seq(seed -> 1))
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[String]
    r.failPoint = steps.add(_)
    def wave(w: Int): (Boolean, Set[String]) = {
      steps.clear()
      val more = r.runWave(w)
      (more, steps.asScala.toSet)
    }
    val (more1, staged) = wave(1)
    val (more2, idle) = wave(2)
    assert(more1 && more2)
    assert(WaveRunner.readRecord[WaveRunner.StageCounts](
        Paths.get(root, "staging", "wave_2", "_STAGED")).exists(_.scheduled == 0L),
      "probe setup broken: wave 2 was not idle")
    assert(idle === staged)
    assert(staged === Steps.toSet)
    assert(r.frontierT.readWaveSegment(2).isEmpty && r.processedT.readWaveSegment(2).isEmpty)
    def totals(w: Int) = record(root, w).map(_.copy(metrics = None))
    assert(totals(2).isDefined && totals(2) === totals(1))
    var w = 3
    while (w <= cfg.maxWaves && r.runWave(w)) w += 1
    // the same crawl as it ran while idle waves had a branch of their own
    val order = r.crawlOrder().collect().map(x => (x.getInt(0), x.getString(3))).toSeq
    assert(order === IdleOrder)
    val metrics = r.metrics().drop("elapsedMs").orderBy("wave").collect()
      .map(_.toSeq.map(_.toString.toLong)).toSeq
    assert(metrics === IdleMetrics)
  }

  /** The idle-wave crawl's order (wave, url), as the engine crawled it
    * while idle waves had a commit branch of their own.
    */
  private val IdleOrder = Seq((1, "http://host1.test/p/0"), (3, "http://host1.test/p/0"),
    (4, "http://host1.test/"), (4, "http://host0.test/p/100"), (4, "http://host0.test/p/104"),
    (4, "http://host1.test/p/1"), (4, "http://host3.test/p/98"), (4, "http://host0.test/p/122"),
    (4, "http://host0.test/p/34"), (4, "http://host1.test/tags"))

  /** Its metrics rows, same provenance: wave, scheduled, fetched,
    * failed, deferred, bytes, newUrls, frontierPending.
    */
  private val IdleMetrics = Seq(
    Seq(1L, 1L, 0L, 0L, 1L, 0L, 0L, 0L),
    Seq(2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
    Seq(3L, 1L, 1L, 0L, 0L, 1671L, 8L, 8L),
    Seq(4L, 8L, 5L, 3L, 0L, 9282L, 39L, 39L))
}
