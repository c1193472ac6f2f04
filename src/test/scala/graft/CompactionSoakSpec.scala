package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.state.{SnapshotTable, StateFiles}

/** Long-crawl soak of the append-log compaction policy (VERDICT r2 #9):
  * a 10^3-wave crawl appends 10^3 delta segments; under the default
  * tiered policy the log must keep
  *  - READ cost flat: live segment count never exceeds the bound plus
  *    one check cadence (the per-scan cost driver is the number of
  *    parquet directories a read unions);
  *  - WRITE cost amortized: total rows rewritten by compaction stays
  *    within a small constant of the data — the O(log n) tier bound —
  *    never the O(n/k · n) of periodic full-table rewrites;
  *  - correctness: no rows lost, newest delta still addressable, wave
  *    marker preserved (resume logic reads it).
  * Waves are simulated at the SnapshotTable layer with adoptCommit
  * (what WaveRunner's commit phase does — an atomic rename, zero jobs)
  * so the soak exercises 1000 real commits in seconds.
  */
class CompactionSoakSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-compaction-soak")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def copyDir(src: Path, dst: Path): Unit = {
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  test("1000-wave append log: bounded segments, O(log n) write amplification") {
    val root = TempDirs.make("graft-soak-").toString
    val t = SnapshotTable(spark, root, "log")
    // one 2-row delta written once, cloned per wave (adoptCommit renames
    // the clone into the snapshot dir exactly like wave staging)
    val template = TempDirs.make("graft-soak-seg-")
    spark.range(2).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(template.toString)

    val waves = 1000
    val maxSegments = 64 // CrawlConfig.compactMaxSegments default
    val checkEvery = 8   // CrawlConfig.compactEveryWaves default
    var maxLive = 0
    var rewrittenRows = 0L
    (1 to waves).foreach { w =>
      val staged = Paths.get(root, s"staged-$w")
      copyDir(template, staged)
      t.adoptCommit(staged.toString, w)
      if (w % checkEvery == 0)
        t.compactTiered(maxSegments).foreach { v =>
          rewrittenRows += spark.read
            .parquet(Paths.get(root, "log", "snapshots", f"v$v%05d").toString)
            .count()
          t.vacuum() // the wave loop's vacuumOnCompact default
        }
      maxLive = math.max(maxLive, t.currentManifest().get.segments.size)
    }

    val totalRows = 2L * waves
    assert(t.read().get.count() === totalRows, "compaction lost or duplicated rows")
    assert(t.committedWave() === waves, "compaction must preserve the wave marker")
    assert(maxLive <= maxSegments + checkEvery,
      s"segment count must stay bounded (read cost): peaked at $maxLive")
    // equal-size deltas merge into ~40x-bigger tiers, so each row is
    // rewritten ~1-2x over 1000 waves; 4x total is generous headroom
    // while still excluding any O(waves/k) full-rewrite policy (which
    // would rewrite ~60x the data here)
    assert(rewrittenRows <= 4 * totalRows,
      s"write amplification too high: rewrote $rewrittenRows of $totalRows rows")
    // the newest delta stays addressable after tiered merges
    assert(t.readWaveSegment(waves).get.count() === 2L)
    // vacuum after compaction keeps DISK bounded too: merged-away
    // segment dirs are gone, so on-disk dirs track the live set (live
    // + deltas appended since the last compaction check)
    val onDisk = Files.list(Paths.get(root, "log", "snapshots")).count()
    assert(onDisk <= maxSegments + checkEvery,
      s"vacuum must bound on-disk segment dirs: $onDisk")
  }

  test("a long crawl keeps the state outside every manifest bounded") {
    // what a crawl leaves beside its live segments: the staging dirs,
    // the wave records, the manifests themselves. Per-wave
    // leftovers (a popped set per wave) would grow it with the wave
    // count; the live segments grow with the data and are not counted.
    val spec = SyntheticCorpus.Spec(numUrls = 3000, numHosts = 30)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val root = TempDirs.make("graft-soak-crawl-")
    val waves = 16
    val r = new WaveRunner(spark, corpus, root.toString,
      CrawlConfig(maxDepth = 64, defaultMaxPerWave = 2, maxWaves = waves,
        compactEveryWaves = 4, compactMaxSegments = 4))
    r.initSeeds((0L until 3000L by 30).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
    def bytes(p: Path): Seq[(Path, Long)] = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toList
      finally s.close()
    }
    def outside(): Long = {
      val live = Seq(r.frontierT, r.processedT, r.latestT).flatMap { t =>
        t.currentManifest().toSeq.flatMap(_.segments)
          .map(v => root.resolve(t.name).resolve("snapshots").resolve(f"v$v%05d"))
      }
      bytes(root).collect { case (f, n) if !live.exists(f.startsWith) => n }.sum
    }
    /** Bytes a wave staged: its popped set, artifacts and records. */
    def staged(w: Int): Long = bytes(root.resolve("staging").resolve(s"wave_$w")).map(_._2).sum
    val perWave = (1 to waves).map { w =>
      assert(r.runWave(w), s"probe setup broken: the crawl drained at wave $w")
      (outside(), staged(w))
    }
    // at most the newest wave's staged artifacts, plus what does not
    // grow with the data: manifests and wave records
    val fixed = 8 * 1024L
    perWave.zipWithIndex.foreach { case ((out, newest), i) =>
      assert(out <= newest + fixed,
        s"wave ${i + 1}: $out bytes outside the manifests (newest staged: $newest)")
    }
    assert(perWave.map(_._2).min > fixed / 4, s"probe setup broken: ${perWave.map(_._2)}")
  }

  test("a long crawl keeps at most two sketch files per chain, every meta, and its order") {
    // each wave's tail reads only the previous wave's sketch; older
    // sketch files are dropped, so the state does not grow by two full
    // filters per wave
    val spec = SyntheticCorpus.Spec(numUrls = 600, numHosts = 12)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val waves = 8
    val cfg = CrawlConfig(maxDepth = 64, defaultMaxPerWave = 2, maxWaves = waves,
      compactEveryWaves = 4, compactMaxSegments = 4)
    val seeds = (0L until 600L by 20).map(i => SyntheticCorpus.urlFor(i, spec) -> 1)
    def crawl(c: CrawlConfig)(afterWave: (Path, Int) => Unit): Seq[Seq[Any]] = {
      val root = TempDirs.make("graft-soak-sketch-")
      val r = new WaveRunner(spark, corpus, root.toString, c)
      r.initSeeds(seeds)
      (1 to waves).foreach { w =>
        assert(r.runWave(w), s"probe setup broken: the crawl drained at wave $w")
        afterWave(root, w)
      }
      r.crawlOrder().collect().map(_.toSeq).toSeq
    }
    def named(root: Path, chain: String, suffix: String): Seq[String] =
      StateFiles.list(root.resolve(chain)).map(_.getFileName.toString).filter(_.endsWith(suffix))
    val sketched = crawl(cfg.copy(bloomMinFrontier = 0L, bloomCapacity = 10000L)) { (root, w) =>
      Seq("bloom", "popbloom").foreach { chain =>
        val files = named(root, chain, ".bloom")
        assert(files.size <= 2, s"wave $w: $chain keeps $files")
        assert(files.contains(s"wave_$w.bloom"), s"wave $w: $chain lost its newest sketch")
      }
      // one record per wave, each readable
      val records = (0 to w).flatMap(v => WaveRunner.readRecord[WaveRunner.WaveRecord](
        root.resolve("staging").resolve(s"wave_$v").resolve("_COMMITTED")))
      assert(records.size === w + 1, s"wave $w: records of waves ${records.map(_.metrics)}")
    }
    // sketches are advisory: the crawl without them is the same crawl
    assert(sketched === crawl(cfg)((_, _) => ()))
  }
}
