package graft

import org.apache.spark.sql.SparkSession

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}

/** The benchmark's crawl_deep shape, small: a binding per-host budget,
  * robots, the shuffled seen-set anti-joins (`broadcastSeenKeys = 0`)
  * and a tiered compaction cycle every wave. `bloomMinFrontier` and
  * `bloomCapacity` are set as the benchmark sets them; nothing reads
  * them.
  */
object DeepCrawl {

  /** A runner over 2,000 URLs on 20 hosts with 200 seeds committed and
    * no wave run, its state in a new temporary directory.
    */
  def apply(spark: SparkSession, name: String, waves: Int): WaveRunner = {
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
}
