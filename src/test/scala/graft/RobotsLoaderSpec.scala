package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.operators.RobotsLoader

/** Robots rules discovered from the input table itself (no side
  * channel): /robots.txt rows parse into the planner's rules dim and
  * gate scheduling end to end.
  */
class RobotsLoaderSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-robotsloader-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rules parse from in-table robots pages") {
    val spec = SyntheticCorpus.Spec(numUrls = 100, numHosts = 10, withRobots = true)
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()
    val (rules, delays) = RobotsLoader.robotsRules(spark, corpus, "graft")
    // hosts 0 and 5 restrict; the rest allow everything (no rules)
    assert(rules.map(_.host).toSet === Set("host0.test", "host5.test"))
    assert(rules.count(!_.allow) === 2)
    assert(delays === Map("host0.test" -> 1000L, "host5.test" -> 1000L))
  }

  test("discovered rules gate the crawl exactly like explicit rules") {
    val spec = SyntheticCorpus.Spec(numUrls = 200, numHosts = 8, withRobots = true)
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()
    val (rules, _) = RobotsLoader.robotsRules(spark, corpus, "graft")
    val runner = new WaveRunner(spark, corpus,
      TempDirs.make("graft-robots-").toString,
      CrawlConfig(maxDepth = 2, defaultMaxPerWave = 30, maxWaves = 3),
      robotsRules = rules)
    runner.initSeeds(Seq(
      SyntheticCorpus.urlFor(0, spec) -> 1,
      SyntheticCorpus.urlFor(3, spec) -> 1))
    runner.run()
    val scheduled = runner.crawlOrder().collect().map(_.getString(3))
    val offending = scheduled.filter { u =>
      (u.startsWith("http://host0.test/p/1") && !u.startsWith("http://host0.test/p/12")) ||
      (u.startsWith("http://host5.test/p/1") && !u.startsWith("http://host5.test/p/12"))
    }
    assert(offending.isEmpty, s"robots-disallowed urls scheduled: ${offending.toSeq}")
    assert(scheduled.nonEmpty)
  }
}
