package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.{CrawlConfig, HostPolicy, RobotsRule}
import graft.crawl.{SyntheticCorpus, WaveRunner}

/** Frozen-golden replay (FIXTURES.md §2): the crawl order and seen set
  * for a fixed (corpus, seeds, politeness budget) are committed to
  * src/test/resources/golden/ — generated once by the engine, reviewed,
  * frozen. Any semantic drift in normalization, extraction, scheduling
  * or dedup breaks this test. Regenerate ONLY for an intentional,
  * documented contract change (delete the files and re-run).
  */
class GoldenReplaySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-golden-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val goldenDir = Paths.get("src/test/resources/golden")

  private def runCrawl(): WaveRunner = {
    val spec = SyntheticCorpus.Spec(numUrls = 250, numHosts = 9)
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()
    val runner = new WaveRunner(spark, corpus,
      TempDirs.make("graft-golden-").toString,
      CrawlConfig(maxDepth = 2, defaultMaxPerWave = 12, maxWaves = 4),
      Map("host0.test" -> HostPolicy("host0.test", 0L, 4)),
      Seq(RobotsRule("host2.test", allow = false, pathPrefix = "/p/1")))
    runner.initSeeds(Seq(
      SyntheticCorpus.urlFor(1, spec) -> 1,
      SyntheticCorpus.urlFor(17, spec) -> 2,
      SyntheticCorpus.urlFor(33, spec) -> 97))
    runner.run()
    runner
  }

  test("crawl order and seen set match the frozen golden fixture") {
    val runner = runCrawl()
    val order = runner.crawlOrder().collect()
      .map(r => s"${r.getInt(0)},${r.getLong(1)},${r.getLong(2)},${r.getString(3)}")
      .toSeq
    val seen = runner.seen().collect()
      .map(r => s"${r.getLong(0)},${r.getString(1)}").sorted.toSeq

    val orderFile = goldenDir.resolve("order.csv")
    val seenFile = goldenDir.resolve("seen.csv")
    if (!Files.exists(orderFile)) {
      Files.createDirectories(goldenDir)
      Files.write(orderFile, order.asJava)
      Files.write(seenFile, seen.asJava)
      info(s"golden fixtures frozen: ${order.size} order rows, ${seen.size} seen rows")
    } else {
      val wantOrder = Files.readAllLines(orderFile).asScala.toSeq
      val wantSeen = Files.readAllLines(seenFile).asScala.toSeq
      assert(order === wantOrder, "crawl-order drift vs frozen golden")
      assert(seen === wantSeen, "seen-set drift vs frozen golden")
    }
  }

  test("golden extracted text: frozen md5 manifest per url") {
    val spec = SyntheticCorpus.Spec(numUrls = 40, numHosts = 5)
    val lines = (0L until 40L).map { i =>
      val text = graft.core.BoilerplateExtractor.extractText(
        SyntheticCorpus.htmlFor(i, spec))
      s"$i,${graft.core.Hashing.md5Hex(text)}"
    }
    val f = goldenDir.resolve("text_md5.csv")
    if (!Files.exists(f)) {
      Files.createDirectories(goldenDir)
      Files.write(f, lines.asJava)
      info("text md5 manifest frozen")
    } else {
      assert(lines === Files.readAllLines(f).asScala.toSeq,
        "extracted-text drift vs frozen golden manifest")
    }
  }
}
